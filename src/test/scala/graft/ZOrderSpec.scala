package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Z-order clustering: the property that matters is per-file min/max
  * TIGHTNESS on every participating column — that is exactly what parquet
  * footer pruning consumes at scan time.
  */
class ZOrderSpec extends SparkSpec {

  private def fileSpans(path: String, column: String): Seq[(Double, Double)] =
    spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min(col(column).cast("double")).as("lo"),
        max(col(column).cast("double")).as("hi"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq

  private def avgSpan(spans: Seq[(Double, Double)]): Double =
    spans.map { case (lo, hi) => hi - lo }.sum / spans.size

  test("z-ordered files have tight min/max spans on BOTH cluster columns") {
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), col("value")).na.drop()
    val base = Files.createTempDirectory("zorder")
    val shuffled = s"$base/shuffled"
    val zordered = s"$base/zordered"
    // baseline: same file count, hash-scattered rows (no locality)
    ev.repartition(8).write.mode("overwrite").parquet(shuffled)
    ZOrder.writeClustered(ev, Seq("user_id", "value"), zordered, files = 8)

    // same data either way
    assert(spark.read.parquet(zordered).count() == ev.count())

    val vShuf = avgSpan(fileSpans(shuffled, "value"))
    val vZ = avgSpan(fileSpans(zordered, "value"))
    val uShuf = avgSpan(fileSpans(shuffled, "user_id"))
    val uZ = avgSpan(fileSpans(zordered, "user_id"))
    // hash-scattered files each span ~the whole domain; z-ordered files
    // must be materially tighter on BOTH columns at once
    assert(vZ < vShuf * 0.7, s"value span not tightened: z=$vZ shuffled=$vShuf")
    assert(uZ < uShuf * 0.7, s"user_id span not tightened: z=$uZ shuffled=$uShuf")
  }

  test("OPTIMIZE pass: compaction + z-order committed through the CDC marker protocol") {
    import spark.implicits._
    import graft.streaming.StreamOps
    val dir = Files.createTempDirectory("cdcopt").toString + "/table"
    // scattered baseline: hash-partitioned input → every file spans ~the
    // whole domain on both columns; value is decorrelated from user_id so
    // tightening must come from the z-layout, not data structure
    val rows = (0 until 4000).map { i =>
      StreamOps.CdcRow(i.toLong, "U", "view",
        ((i * 1103515245L + 12345L) % 1000L).toDouble,
        new java.sql.Timestamp(1000L * i), 1L)
    }
    StreamOps.applyCdcBatch(rows.toDS().repartition(8), dir,
      batchId = 0L, incarnationId = "inc-a")
    val before = StreamOps.readCdcTable(spark, dir).get
      .collect().map(_.toString).sorted.toSeq
    val uBefore = avgSpan(fileSpans(s"$dir/v0/table", "user_id"))
    val vBefore = avgSpan(fileSpans(s"$dir/v0/table", "last_value"))

    // small targetBytes → ~9 output files: enough z-range slices that
    // span tightening holds with margin under repartitionByRange's
    // SAMPLED boundaries (at 4-5 files a straddling boundary file once
    // measured 0.71× — a flake against a 0.7 threshold)
    val ver = StreamOps.optimizeCdcTable(spark, dir,
      Seq("user_id", "last_value"), targetBytes = 8 * 1024)
    assert(ver.contains(1L), s"optimize must commit v1, got $ver")
    val after = StreamOps.readCdcTable(spark, dir).get
    assert(after.inputFiles.forall(_.contains("/v1/")),
      "reader must resolve the optimized version")
    // the rewrite is layout-only: content survives bit-for-bit
    assert(after.collect().map(_.toString).sorted.toSeq == before)
    val uAfter = avgSpan(fileSpans(s"$dir/v1/table", "user_id"))
    val vAfter = avgSpan(fileSpans(s"$dir/v1/table", "last_value"))
    // 0.8: this test pins the COMPOSITION (rewrite-through-protocol with
    // locality gained on both columns); the dedicated z-order test above
    // pins tightness itself at fixed file counts
    assert(uAfter < uBefore * 0.8, s"user_id span not tightened: $uAfter vs $uBefore")
    assert(vAfter < vBefore * 0.8, s"last_value span not tightened: $vAfter vs $vBefore")

    // the next stream batch merges ON TOP of the optimized snapshot —
    // the optimize stamp (-2, "optimize") must not read as a retry
    val upd = Seq(StreamOps.CdcRow(1L, "U", "click", 999.0,
      new java.sql.Timestamp(1L), 2L)).toDS()
    StreamOps.applyCdcBatch(upd, dir, batchId = 1L, incarnationId = "inc-a")
    val v2 = StreamOps.readCdcTable(spark, dir).get
    assert(v2.count() == 4000)
    assert(v2.filter(col("user_id") === 1L)
      .select("last_value").first().getDouble(0) == 999.0)

    // a table with no commit yet is a no-op, not an error
    assert(StreamOps.optimizeCdcTable(spark, s"$dir-none", Seq("user_id")).isEmpty)
  }

  test("zkey refuses a key wider than 63 bits instead of silently aliasing") {
    import spark.implicits._
    val df = Seq((1L, 2L, 3L, 4L, 5L)).toDF("a", "b", "c", "d", "e")
    val e = intercept[IllegalArgumentException] {
      ZOrder.zkey((1 to 5).map(i => col(df.columns(i - 1))), 16)
    }
    assert(e.getMessage.contains("63"))
  }

  test("zkey interleaves bits round-robin") {
    import spark.implicits._
    // x=0b11, y=0b00 with 2 bits → positions (0*2+0)=0 and (1*2+0)=2 → 0b101
    val df = Seq((3L, 0L)).toDF("x", "y")
    val z = df.select(ZOrder.zkey(Seq(col("x"), col("y")), 2).as("z"))
      .first().getLong(0)
    assert(z == 5L, s"expected 0b101, got $z")
  }
}
