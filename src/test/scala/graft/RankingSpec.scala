package graft

import graft.operators.Ranking
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Ranking.exactNtile]] must be bit-equal to the flat
  * `ntile(k) OVER (ORDER BY ...)` it replaces — the q35/d42 oracles pin
  * the SQL semantics, so any divergence in bucket sizing (the q+1/q
  * split) or bin-boundary handling is a wrong answer, not a style
  * difference. Cases cover: n not divisible by k, n < k, duplicate
  * scores resolved by tie columns, an all-equal score (degenerate span),
  * both sort directions, and a bin count smaller than the distinct
  * score count (forcing multi-value bins).
  */
class RankingSpec extends SparkSpec {

  import spark.implicits._

  private def flatNtile(df: org.apache.spark.sql.DataFrame, k: Int,
                        asc: Boolean): org.apache.spark.sql.DataFrame = {
    val order =
      if (asc) Seq(col("s").asc, col("id").asc)
      else Seq(col("s").desc, col("id").asc)
    df.withColumn("tile", ntile(k).over(Window.orderBy(order: _*)))
  }

  private def both(df: org.apache.spark.sql.DataFrame, k: Int, asc: Boolean,
                   nBuckets: Int = 1024): (Seq[(Long, Int)], Seq[(Long, Int)]) = {
    val exact = Ranking
      .exactNtile(df, k, col("s"), ascending = asc,
        ties = Seq(col("id")), out = "tile", nBuckets = nBuckets)
      .select(col("id"), col("tile")).as[(Long, Int)]
      .collect().sortBy(_._1).toSeq
    val flat = flatNtile(df, k, asc)
      .select(col("id"), col("tile")).as[(Long, Int)]
      .collect().sortBy(_._1).toSeq
    (exact, flat)
  }

  // Deterministic pseudo-random scores (no Random: repeatable fixture).
  private def frame(n: Int) =
    spark.range(n.toLong).select(col("id"),
      (pmod(hash(col("id")), lit(9973)) / lit(100.0) - lit(30.0)).as("s"))

  test("matches flat ntile: n=1057 rows, 10 tiles, ascending") {
    val (e, f) = both(frame(1057), 10, asc = true)
    assert(e == f)
  }

  test("matches flat ntile: descending order") {
    val (e, f) = both(frame(1057), 10, asc = false)
    assert(e == f)
  }

  test("matches flat ntile: n not divisible by k exercises the q+1 split") {
    // 103 = 10*10 + 3 → first 3 deciles get 11 rows, rest 10
    val (e, f) = both(frame(103), 10, asc = true)
    assert(e == f)
    val sizes = f.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes(1) == 11 && sizes(4) == 10)
  }

  test("matches flat ntile: n < k (each row its own tile)") {
    val (e, f) = both(frame(7), 10, asc = true)
    assert(e == f)
    assert(e.map(_._2).sorted == (1 to 7))
  }

  test("matches flat ntile: heavy duplicate scores, ties broken by id") {
    val df = spark.range(500).select(col("id"),
      (col("id") % 3).cast("double").as("s"))
    val (e, f) = both(df, 10, asc = true)
    assert(e == f)
  }

  test("degenerate span: all-equal scores collapse to one bin, ties decide") {
    val df = spark.range(42).select(col("id"), lit(5.0).as("s"))
    val (e, f) = both(df, 10, asc = true)
    assert(e == f)
  }

  test("tiny bin count forces multi-value bins, still exact") {
    val (e, f) = both(frame(1057), 10, asc = false, nBuckets = 4)
    assert(e == f)
  }

  test("k larger than bin count and non-decile k") {
    val (e, f) = both(frame(211), 7, asc = true, nBuckets = 3)
    assert(e == f)
  }

  test("no partition-less window anywhere in the plan") {
    val planStr = Ranking
      .exactNtile(frame(1000), 10, col("s"), ascending = true,
        ties = Seq(col("id")), out = "tile")
      .queryExecution.optimizedPlan.toString
    // The adaptive design computes offsets on the driver, so the ONLY
    // window in the plan is the in-partition row_number — and it must
    // carry the __part partition key.
    val windows = planStr.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty)
    val partitioned = ".*windowspecdefinition\\(__part#\\d+L?,.*".r
    windows.foreach { w =>
      assert(partitioned.matches(w),
        s"unpartitioned window in exactNtile plan:\n$w\n$planStr")
    }
  }

  test("NaN scores rank exactly where the flat window puts them (both directions)") {
    // Spark sorts NaN greatest: last ascending, first descending. The
    // two-level form must route NaN identically or silently diverge.
    val df = spark.range(300).select(col("id"),
      when(col("id") % 7 === 0, lit(Double.NaN))
        .otherwise(pmod(hash(col("id")), lit(997)) / lit(10.0)).as("s"))
    val (ea, fa) = both(df, 10, asc = true)
    assert(ea == fa)
    val (ed, fd) = both(df, 10, asc = false)
    assert(ed == fd)
  }

  test("reserved working names are guarded, not silently overwritten") {
    val df = spark.range(10).select(col("id"), lit(1.0).as("s"),
      lit(0L).as("__part"))
    val e = intercept[IllegalArgumentException] {
      Ranking.exactNtile(df, 2, col("s"), ascending = true,
        ties = Seq(col("id")), out = "tile")
    }
    assert(e.getMessage.contains("__part"))
  }

  // Max rows any single window partition receives, via the test hook
  // that retains the internal partition id.
  private def maxPartRows(df: org.apache.spark.sql.DataFrame, k: Int,
                          asc: Boolean, nBuckets: Int, maxBinRows: Long): Long =
    Ranking.exactNtileParts(df, k, col("s"), ascending = asc,
        ties = Seq(col("id")), out = "tile",
        nBuckets = nBuckets, maxBinRows = maxBinRows)
      .groupBy("__part").count()
      .agg(max("count")).head().getLong(0)

  test("99%-constant score: split round bounds every window partition") {
    // The dominant-bin hole: 1980 of 2000 rows share one exact score.
    // Without the split round, one in-bin window task would see all
    // 1980 rows; with it, the heavy value key-bins by id.
    val df = spark.range(2000).select(col("id"),
      when(col("id") < 1980, lit(42.0))
        .otherwise(col("id").cast("double") / 100.0).as("s"))
    val (e, f) = both(df, 10, asc = true)
    assert(e == f)
    val mx = maxPartRows(df, 10, asc = true, nBuckets = 64, maxBinRows = 100)
    assert(mx <= 100, s"a window partition received $mx rows (> maxBinRows)")
  }

  test("all-equal scores with a small threshold key-bin by the tie column") {
    val df = spark.range(1000).select(col("id"), lit(5.0).as("s"))
    val (e, f) = both(df, 10, asc = true)
    assert(e == f)
    val mx = maxPartRows(df, 10, asc = true, nBuckets = 32, maxBinRows = 50)
    assert(mx <= 50, s"a window partition received $mx rows (> maxBinRows)")
  }

  test("skewed score with STRING tie keys: monotone projection stays exact and bounded") {
    // doc_id-style string keys; the 6-byte prefix projection must be
    // monotone in Spark's binary string order for exactness to hold.
    val df = spark.range(1200).select(
      format_string("doc_%05d", col("id")).as("id"),
      when(col("id") % 10 < 9, lit(1.5))
        .otherwise(col("id").cast("double")).as("s"))
    val exact = Ranking
      .exactNtile(df, 10, col("s"), ascending = true,
        ties = Seq(col("id")), out = "tile",
        nBuckets = 32, maxBinRows = 64)
      .select(col("id"), col("tile")).collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
    val flat = df.withColumn("tile",
        ntile(10).over(Window.orderBy(col("s").asc, col("id").asc)))
      .select(col("id"), col("tile")).collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(exact == flat)
    val mx = Ranking.exactNtileParts(df, 10, col("s"), ascending = true,
        ties = Seq(col("id")), out = "tile", nBuckets = 32, maxBinRows = 64)
      .groupBy("__part").count().agg(max("count")).head().getLong(0)
    assert(mx <= 64, s"a window partition received $mx rows (> maxBinRows)")
  }

  test("skew split stays exact under ANSI mode") {
    // the split round builds literal-bound CASE chains, conv() string
    // projections and integer div arithmetic — all must survive strict
    // ANSI semantics (SemanticsSpec covers the registry's non-skew use)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val df = spark.range(800).select(col("id"),
        when(col("id") < 780, lit(7.5))
          .otherwise(col("id").cast("double")).as("s"))
      val (e, f) = both(df, 10, asc = true)
      assert(e == f)
      val mx = maxPartRows(df, 10, asc = true, nBuckets = 32, maxBinRows = 64)
      assert(mx <= 64, s"a window partition received $mx rows (> maxBinRows)")
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("many heavy values cost ONE batched boundary aggregate, not one job each") {
    // 900 rows concentrated on nHeavy exact values (all > maxBinRows) plus
    // a 100-row spread tail. The boundary quantiles for ALL heavy groups
    // must come from one batched groupBy(__b, __s) aggregate — the old
    // per-value driver loop issued one extra job per heavy value, so the
    // job count grew with nHeavy.
    def mk(nHeavy: Int) = spark.range(1000).select(col("id"),
      when(col("id") < 900, (col("id") % nHeavy).cast("double"))
        .otherwise(col("id").cast("double")).as("s"))
    // construction alone runs every driver-side pass (span, bin counts,
    // heavy scan, boundary aggregate, split counts)
    def boundaryJobs(nHeavy: Int): Int = jobsDuring(
      Ranking.exactNtileParts(mk(nHeavy), 10, col("s"), ascending = true,
        ties = Seq(col("id")), out = "tile", nBuckets = 16, maxBinRows = 50))._2
    val one = boundaryJobs(1)
    val five = boundaryJobs(5)
    assert(five <= one,
      s"boundary jobs grew with heavy-value count: 1 heavy -> $one jobs, " +
        s"5 heavy -> $five jobs")
    // and the batched path stays bit-equal + bounded
    val df = mk(5)
    val (e, f) = both(df, 10, asc = true)
    assert(e == f)
    val mx = maxPartRows(df, 10, asc = true, nBuckets = 16, maxBinRows = 50)
    assert(mx <= 50, s"a window partition received $mx rows (> maxBinRows)")
  }

  test("descending skew: heavy value + NaNs still bit-equal and bounded") {
    val df = spark.range(900).select(col("id"),
      when(col("id") % 11 === 0, lit(Double.NaN))
        .when(col("id") < 800, lit(-3.25))
        .otherwise(col("id").cast("double") / 7.0).as("s"))
    val (e, f) = both(df, 7, asc = false)
    assert(e == f)
    val mx = maxPartRows(df, 7, asc = false, nBuckets = 32, maxBinRows = 60)
    assert(mx <= 60, s"a window partition received $mx rows (> maxBinRows)")
  }

  test("two-level cluster skew: the second refinement level bounds every partition") {
    // 1000 distinct values at 1e-15 scale plus a [1, 81] tail: the whole
    // cluster lands in bin 0, the FIRST split's interval re-bin (over
    // bin 0's own [0, 2] span) still leaves it in one sub-interval, and
    // only the second level — re-binning that partition over its own
    // observed 1e-12-wide span — can spread it. One level deep this
    // fixture fails the bound by construction.
    val df = spark.range(1080).select(col("id"),
      when(col("id") < 1000, col("id").cast("double") * lit(1e-15))
        .otherwise((col("id") - lit(999)).cast("double")).as("s"))
    def exactSmall(asc: Boolean) = Ranking
      .exactNtile(df, 10, col("s"), ascending = asc,
        ties = Seq(col("id")), out = "tile",
        nBuckets = 32, maxBinRows = 100)
      .select(col("id"), col("tile")).as[(Long, Int)]
      .collect().sortBy(_._1).toSeq
    def flat(asc: Boolean) = flatNtile(df, 10, asc)
      .select(col("id"), col("tile")).as[(Long, Int)]
      .collect().sortBy(_._1).toSeq
    // bit-equality UNDER the small threshold (the refined partitioning
    // must preserve the global order, not just the bound)...
    assert(exactSmall(asc = true) == flat(asc = true))
    // ...and the bound itself
    val mxA = maxPartRows(df, 10, asc = true, nBuckets = 32, maxBinRows = 100)
    assert(mxA <= 100, s"a window partition received $mxA rows (> maxBinRows)")
    // the mirrored direction exercises the u-negated span bookkeeping
    assert(exactSmall(asc = false) == flat(asc = false))
    val mxD = maxPartRows(df, 10, asc = false, nBuckets = 32, maxBinRows = 100)
    assert(mxD <= 100, s"a window partition received $mxD rows (> maxBinRows)")
  }
}
