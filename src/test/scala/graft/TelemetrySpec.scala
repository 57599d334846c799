package graft

import graft.telemetry._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Reference-parity tests for the telemetry package on a generated
  * FIXTURES.md §A-shaped corpus (5 cells × 120 hourly rows + planted dirty
  * rows), exercising ingest → contract → KPIs → anomaly → features →
  * scoring → geo → summarizer.
  */
class TelemetrySpec extends SparkSpec {
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft-telemetry").toString
  private lazy val rawCsv = s"$tmp/raw.csv"
  private lazy val curated = s"$tmp/curated"

  /** Deterministic fixture: 5 cells × 120 h starting 2025-07-01, Dallas-ish
    * coords, plus 6 rows violating the cleanse filter.
    */
  private lazy val fixture: DataFrame = {
    val rnd = new scala.util.Random(42)
    val t0 = java.sql.Timestamp.valueOf("2025-07-01 00:00:00").getTime
    val rows = for {
      c <- 1 to 5
      h <- 0 until 120
    } yield {
      val ts = new java.sql.Timestamp(t0 + h * 3600000L)
      val lat = 32.70 + rnd.nextGaussian() * 0.057
      val lon = -97.01 + rnd.nextGaussian() * 0.058
      (ts, f"CELL-00$c", lat, lon,
        -95.1 + rnd.nextGaussian() * 6.0, -9.9 + rnd.nextGaussian() * 3.0,
        9.9 + rnd.nextGaussian() * 4.7,
        math.max(2.4, 119.7 + rnd.nextGaussian() * 39.2),
        math.max(18.0, 44.7 + rnd.nextGaussian() * 9.5),
        math.max(0.0, 8.1 + rnd.nextGaussian() * 3.9),
        math.max(0.0, 1.53 + rnd.nextGaussian() * 0.78),
        if (c <= 3) "5G" else "4G", Seq("B66", "B2", "n77", "n41")(c % 4))
    }
    val dirty = Seq(
      (new java.sql.Timestamp(t0), "CELL-001", 32.7, -97.0, -95.0, -9.9, 9.9, 100.0, -5.0, 8.0, 1.5, "5G", "B66"),
      (new java.sql.Timestamp(t0), "CELL-002", 32.7, -97.0, -95.0, -9.9, 9.9, -1.0, 40.0, 8.0, 1.5, "5G", "B66"),
      (new java.sql.Timestamp(t0), "CELL-003", 32.7, -97.0, -95.0, -9.9, 9.9, 100.0, 0.0, 8.0, 1.5, "4G", "B2"))
    (rows ++ dirty).toDF("timestamp", "cell_id", "lat", "lon", "rsrp_dbm", "rsrq_db",
      "sinr_db", "throughput_mbps", "latency_ms", "jitter_ms", "drop_rate", "tech", "band")
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    fixture.coalesce(1).write.mode("overwrite").option("header", "true").csv(rawCsv)
    Ingest.run(spark, rawCsv, curated)
  }

  test("ingest roundtrip: cleanse drops invalid rows, derives date/hour, partitions by (date, cell_id)") {
    val cur = Ingest.readCurated(spark, curated)
    assert(cur.count() == 600L) // 603 raw − 3 dirty
    assert(cur.columns.contains("date") && cur.columns.contains("hour"))
    assert(cur.filter(col("latency_ms") <= 0 || col("throughput_mbps") < 0).count() == 0)
    // hive layout: date=…/cell_id=… directories exist
    val dateDirs = new java.io.File(curated).listFiles().filter(_.getName.startsWith("date="))
    assert(dateDirs.length == 5)
    assert(dateDirs.head.listFiles().exists(_.getName.startsWith("cell_id=")))
  }

  test("partition filters prune the scan") {
    val cur = Ingest.readCurated(spark, curated)
    val plan = cur.filter(col("cell_id") === "CELL-001" && col("date") === "2025-07-02")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("CELL-001"))
  }

  test("alias resolution: first match wins, case-insensitive") {
    val odd = Seq((1L, "x", 0.5)).toDF("TS", "CELLID", "Proba")
    val fixed = TelemetrySchema.resolveAliases(odd)
    assert(fixed.columns.toSet == Set("timestamp", "cell_id", "pred_prob"))
    // first alias in list wins when several candidates exist
    val both = Seq((1L, 2L)).toDF("ts", "datetime")
    assert(TelemetrySchema.resolveAliases(both).columns.count(_ == "timestamp") == 1)
  }

  test("ensureCols materializes missing required columns as typed nulls") {
    val df = Seq(("a", 1.0)).toDF("cell_id", "latency_ms")
    val out = TelemetrySchema.ensureCols(df,
      Map("pred_prob" -> DoubleType, "latency_ms" -> DoubleType))
    assert(out.columns.contains("pred_prob"))
    assert(out.select("pred_prob").first().isNullAt(0))
    assert(out.schema("pred_prob").dataType == DoubleType)
  }

  test("data contract counts rows, nulls and range violations") {
    val planted = fixture
      .withColumn("lat", when(col("cell_id") === "CELL-005" && hour(col("timestamp")) === 0, lit(95.0)).otherwise(col("lat")))
    val r = Analytics.dataContract(planted).first()
    assert(r.getAs[Long]("n_rows") == 603L)
    assert(r.getAs[Long]("bad_lat") == 5L) // hour-0 rows of CELL-005, 5 days
    assert(r.getAs[Long]("null_timestamp") == 0L)
  }

  test("KPIs: NPS proxy bounded, P95 exact percentile") {
    val cur = Ingest.readCurated(spark, curated)
    val r = Analytics.kpis(cur).first()
    val nps = r.getAs[Double]("nps_proxy")
    assert(nps >= -100 && nps <= 100)
    assert(r.getAs[Double]("p95_latency") > r.getAs[Double]("avg_throughput") * 0 + 18.0)
  }

  test("hourly rollup smooths with a centered window over 24 hour-of-day buckets") {
    val cur = Ingest.readCurated(spark, curated)
    val roll = Analytics.hourlyRollup(cur, "latency_ms", maWindow = 3).collect()
    assert(roll.length == 24)
    assert(roll.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
  }

  test("risk flag: hi-bad uses >= P(q), lo-bad throughput uses <= P(1-q)") {
    val cur = Ingest.readCurated(spark, curated)
    val hi = Analytics.riskFlag(cur, "latency_ms", 0.9)
    val thr = hi.select("risk_threshold").first().getDouble(0)
    assert(hi.filter(col("at_risk")).count() == cur.filter(col("latency_ms") >= thr).count())
    val lo = Analytics.riskFlag(cur, "throughput_mbps", 0.9)
    val thrLo = lo.select("risk_threshold").first().getDouble(0)
    assert(lo.filter(col("at_risk")).count() == cur.filter(col("throughput_mbps") <= thrLo).count())
  }

  test("anomaly ranking and incidents respect limits and ordering") {
    val cur = Ingest.readCurated(spark, curated)
    val top = Analytics.topAnomalies(cur, "latency_ms", 3).collect()
    assert(top.length == 3)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p.head >= p.last))
    assert(Analytics.incidents(cur, "latency_ms", zThr = 1.0).count() <= 50)
    assert(Analytics.hotspots(cur, "latency_ms", 4).count() == 4)
  }

  test("cell-vs-network join and melt") {
    val cur = Ingest.readCurated(spark, curated)
    val wide = Analytics.cellVsNetwork(cur, "CELL-001", "latency_ms")
    assert(wide.count() == 24)
    val bad = wide.withColumn("chk", abs(col("delta") - (col("cell") - col("network"))))
      .filter(col("chk") > 1e-12).count()
    assert(bad == 0)
    assert(Analytics.cellVsNetworkLong(cur, "CELL-001", "latency_ms").count() == 48)
  }

  test("feature builder emits all 37 numeric features, latest is one row per cell") {
    val cur = Ingest.readCurated(spark, curated)
    val f = Features.build(cur)
    Features.numericFeatures.foreach(c => assert(f.columns.contains(c), s"missing $c"))
    val last = Features.latest(f)
    assert(last.count() == 5)
    assert(last.select(countDistinct("cell_id")).first().getLong(0) == 5)
  }

  test("scorer: label rule → fit → score → ranked eval beats chance") {
    val cur = Ingest.readCurated(spark, curated)
    val feats = Scorer.label(Features.build(cur), "latency_ms", 0.8)
    val spec = Scorer.fitSpec(feats, Features.numericFeatures)
    val scored = Scorer.score(feats, spec)
    val probs = scored.select(min("pred_prob"), max("pred_prob")).first()
    assert(probs.getDouble(0) >= 0.0 && probs.getDouble(1) <= 1.0)
    val m = Scorer.evaluate(scored, k = 10)
    assert(m("auc") > 0.8, s"AUC ${m("auc")} too low") // latency itself is a feature
    val top = Scorer.topPredictions(scored.select("cell_id", "ts", "pred_prob"), 10, 0.0)
    assert(top.count() <= 10)
  }

  test("scorer: native GBT retraining matches the reference model family's quality band") {
    val cur = Ingest.readCurated(spark, curated)
    val feats = Scorer.label(Features.build(cur), "latency_ms", 0.8)
    val scored = Scorer.fitGbtScores(feats, Features.numericFeatures)
    val m = Scorer.evaluate(scored, k = 10)
    // reference's selected GBT (XGBoost) publishes AUC 0.86; on this
    // fixture (latency among the features) the tree model must clear it
    assert(m("auc") >= 0.86, s"GBT AUC ${m("auc")} below the baseline band")
    assert(m("p_at_10") >= 0.8, s"P@10 ${m("p_at_10")}")
    // same output contract as the linear scorer: consumers are agnostic
    val top = Scorer.topPredictions(scored.select("cell_id", "ts", "pred_prob"), 10, 0.0)
    assert(top.count() <= 10)
  }

  test("scorer: hash split is deterministic and held-out GBT eval works") {
    val cur = Ingest.readCurated(spark, curated)
    val feats = Scorer.label(Features.build(cur), "latency_ms", 0.8)
    val (tr1, te1) = Scorer.hashSplit(feats, Seq("cell_id", "ts"), 0.7)
    val (tr2, te2) = Scorer.hashSplit(feats, Seq("cell_id", "ts"), 0.7)
    assert(tr1.count() == tr2.count() && te1.count() == te2.count()) // stable
    assert(tr1.count() + te1.count() == feats.count())               // partition
    val frac = tr1.count().toDouble / feats.count()
    assert(frac > 0.55 && frac < 0.85, s"train fraction $frac")
    val heldOut = Scorer.fitGbtScores(tr1, te1, Features.numericFeatures, "label")
    val m = Scorer.evaluate(heldOut, k = 10)
    assert(m("auc") > 0.8, s"held-out AUC ${m("auc")}") // label derives from a feature
  }

  test("joblib bundle bridge: shipped metadata parses to published values and drives the scorer") {
    val path = "/root/reference/data/models/next_hour_congestion.joblib"
    assert(new java.io.File(path).isFile, "reference bundle missing")
    val meta = graft.sources.JoblibBundle.readMeta(path)
    // BASELINE.md rows 4-8: the bundle's actual stored metadata
    assert(meta.numCols.size == 34 && meta.numCols.head == "throughput_mbps")
    assert(meta.numCols.forall(Features.numericFeatures.contains),
      "bundle num_cols must be a subset of the native feature builder's output")
    assert(meta.catCols == Seq("tech", "band"))
    assert(meta.labelMetric == "latency_ms" && meta.labelQuantile == 0.8
      && meta.hiBadPrimary)
    assert(meta.composite == Seq("drop_rate", "latency_ms", "throughput_mbps"))
    assert(meta.trainedAt == "2025-08-20T02:06:28.703025+00:00")
    assert(math.abs(meta.metrics("auc") - 0.5622529644268774) < 1e-15)
    assert(math.abs(meta.metrics("ap") - 0.5502578260490998) < 1e-15)
    assert(meta.metrics("positives") == 88.0 && meta.metrics("n") == 180.0)
    assert(meta.metrics("p_at_10") == 0.5 && meta.metrics("p_at_20") == 0.55)
    assert(meta.metrics("r_at_10") == 5.0 / 88) // 0.0568…: 5 of 88 positives
    assert(meta.metrics("r_at_20") == 0.125)
    // the bundle's rule/features drive the native trainer end-to-end
    val cur = Ingest.readCurated(spark, curated)
    val spec = Scorer.fitSpecFromBundle(Features.build(cur), meta)
    assert(spec.labelMetric == "latency_ms" && spec.labelQuantile == 0.8)
    val scored = Scorer.score(
      Scorer.label(Features.build(cur), meta.labelMetric, meta.labelQuantile), spec)
    assert(Scorer.evaluate(scored, k = 10)("auc") > 0.8)
  }

  test("pickle LONG1 sign handling: 8-byte negatives are already exact two's complement") {
    def long1(payload: Byte*): Long = {
      val bytes = Array[Byte](0x8a.toByte, payload.length.toByte) ++
        payload.toArray :+ 0x2e.toByte // LONG1 n <bytes> STOP
      graft.sources.JoblibBundle.parsePickle(bytes).asInstanceOf[Long]
    }
    // n=8: the 64-bit accumulation IS the value; the (1L << 64)==1 JVM
    // shift-mod trap must not decrement it
    assert(long1(0xfe.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte,
      0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte) == -2L)
    assert(long1(0, 0, 0, 0, 0, 0, 0, 0x80.toByte) == Long.MinValue)
    // n<8 negatives still sign-extend
    assert(long1(0xfe.toByte) == -2L)
    assert(long1(0x2c.toByte, 0x01.toByte) == 300L)
  }

  /** Opcode writers for a pickle-protocol-4 stream, each value spelled
    * the way CPython's pickler emits it — enough to build a joblib
    * bundle in the test, so the decoders are covered without a shipped
    * artifact.
    */
  private object Pickle {
    type B = Seq[Byte]
    private def op(x: Int): B = Seq(x.toByte)
    private def le32(n: Int): B = (0 until 4).map(k => (n >>> (8 * k)).toByte)
    def str(v: String): B = {
      val b = v.getBytes("UTF-8")
      op(0x8c) ++ Seq(b.length.toByte) ++ b                // SHORT_BINUNICODE
    }
    def float(d: Double): B =                               // BINFLOAT (big-endian)
      op(0x47) ++ java.nio.ByteBuffer.allocate(8).putDouble(d).array
    def int(n: Int): B = op(0x4a) ++ le32(n)                // BININT
    def bool(b: Boolean): B = op(if (b) 0x88 else 0x89)     // NEWTRUE / NEWFALSE
    val none: B = op(0x4e)
    def bytes(b: Array[Byte]): B = op(0x42) ++ le32(b.length) ++ b // BINBYTES
    def memoize(v: B): B = v ++ op(0x94)                    // MEMOIZE
    def get(i: Int): B = op(0x68) ++ Seq(i.toByte)          // BINGET
    def list(xs: B*): B = op(0x5d) ++ op(0x28) ++ xs.flatten ++ op(0x65) // EMPTY_LIST MARK … APPENDS
    def tuple(xs: B*): B = op(0x28) ++ xs.flatten ++ op(0x74)           // MARK … TUPLE
    def dict(kvs: (String, B)*): B =                        // EMPTY_DICT MARK k v … SETITEMS
      op(0x7d) ++ op(0x28) ++ kvs.flatMap { case (k, v) => str(k) ++ v } ++ op(0x75)
    private def global(mod: String, name: String): B = str(mod) ++ str(name) ++ op(0x93)
    def reduce(mod: String, name: String, args: B): B = global(mod, name) ++ args ++ op(0x52)
    /** `cls.__new__(cls)` then BUILD with `state` (NEWOBJ … BUILD). */
    def obj(mod: String, name: String, state: B): B =
      global(mod, name) ++ tuple() ++ op(0x81) ++ state ++ op(0x62)
    /** PROTO 4, one 8-byte FRAME header, the body, STOP. */
    def stream(body: B): Array[Byte] =
      (op(0x80) ++ Seq(4.toByte) ++ op(0x95) ++ Seq.fill(8)(0.toByte) ++ body ++ op(0x2e)).toArray

    private def wrapper(dtype: B, shape: Int, extra: (String, B)*): B =
      obj("joblib.numpy_pickle", "NumpyArrayWrapper", dict(Seq(
        "subclass" -> reduce("builtins", "getattr", tuple(str("numpy"), str("ndarray"))),
        "shape" -> tuple(int(shape)), "order" -> str("C"), "dtype" -> dtype,
        "allow_mmap" -> bool(false)) ++ extra: _*))
    /** A numeric `f8` array: the wrapper, then joblib's inline payload —
      * one alignment-padding count byte, the padding, little-endian data.
      */
    def numpyF8(xs: Double*): B = {
      val dtype = reduce("numpy", "dtype", tuple(str("f8"), bool(false), bool(true))) ++
        tuple(int(3), str("<"), none, none, none, int(-1), int(-1), int(0)) ++ op(0x62)
      val raw = java.nio.ByteBuffer.allocate(8 * xs.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      xs.foreach(raw.putDouble)
      wrapper(dtype, xs.length, "numpy_array_alignment_bytes" -> int(16)) ++
        Seq(3.toByte) ++ Seq.fill(3)(0.toByte) ++ raw.array
    }
    /** An object-dtype array: the wrapper, then a complete nested pickle. */
    def numpyObjects(xs: String*): B =
      wrapper(str("|O"), xs.length) ++ stream(list(xs.map(str): _*))
  }

  /** UBJSON writers (XGBoost's booster serialization). */
  private object Ubj {
    type B = Seq[Byte]
    private def be(f: java.nio.ByteBuffer => java.nio.ByteBuffer, n: Int): B =
      f(java.nio.ByteBuffer.allocate(n)).array.toSeq
    private def key(k: String): B = Seq('i'.toByte, k.length.toByte) ++ k.getBytes("UTF-8")
    def str(v: String): B = Seq('S'.toByte) ++ key(v)
    def obj(kvs: (String, B)*): B =
      Seq('{'.toByte) ++ kvs.flatMap { case (k, v) => key(k) ++ v } ++ Seq('}'.toByte)
    def arr(xs: B*): B = Seq('['.toByte) ++ xs.flatten ++ Seq(']'.toByte)
    private def typed(t: Char, n: Int, body: B): B =
      Seq('['.toByte, '$'.toByte, t.toByte, '#'.toByte, 'i'.toByte, n.toByte) ++ body
    def ints(xs: Int*): B = typed('l', xs.length, xs.flatMap(x => be(_.putInt(x), 4)))
    def floats(xs: Float*): B = typed('d', xs.length, xs.flatMap(x => be(_.putFloat(x), 4)))
    def uint8s(xs: Int*): B = typed('U', xs.length, xs.map(_.toByte))
  }

  /** A complete joblib bundle: metadata plus a scaler → one-hot →
    * two-stump XGBoost pipeline over numerics (a, b) and category tech.
    */
  private lazy val syntheticBundle: String = {
    import Pickle._
    def stump(feature: Int, cond: Float, leftLeaf: Float, rightLeaf: Float,
        defaultLeft: Int): Ubj.B = Ubj.obj(
      "split_indices" -> Ubj.ints(feature, 0, 0),
      "split_conditions" -> Ubj.floats(cond, leftLeaf, rightLeaf),
      "left_children" -> Ubj.ints(1, -1, -1),
      "right_children" -> Ubj.ints(2, -1, -1),
      "default_left" -> Ubj.uint8s(defaultLeft, 0, 0),
      "categories_nodes" -> Ubj.ints())
    val booster = Ubj.obj("Model" -> Ubj.obj("learner" -> Ubj.obj(
      "learner_model_param" -> Ubj.obj(
        "base_score" -> Ubj.str("5E-1"), "num_feature" -> Ubj.str("4")),
      "objective" -> Ubj.obj("name" -> Ubj.str("binary:logistic")),
      "gradient_booster" -> Ubj.obj("model" -> Ubj.obj("trees" -> Ubj.arr(
        stump(0, 0.5f, 0.25f, -0.5f, defaultLeft = 1),      // scaled a
        stump(3, 0.5f, 0.125f, 0.375f, defaultLeft = 0))))))) // tech == 5G
    val scaler = obj("sklearn.preprocessing._data", "StandardScaler", dict(
      "mean_" -> numpyF8(1.0, 2.0), "scale_" -> numpyF8(2.0, 4.0)))
    val pre = obj("sklearn.compose._column_transformer", "ColumnTransformer", dict(
      "transformers_" -> list(
        tuple(str("num"), obj("sklearn.pipeline", "Pipeline", dict(
          "steps" -> list(tuple(str("scaler"), scaler)))),
          list(memoize(str("a")), str("b"))),
        tuple(str("cat"), obj("sklearn.preprocessing._encoders", "OneHotEncoder",
          dict("handle_unknown" -> str("ignore"), "drop" -> none,
            "categories_" -> list(numpyObjects("4G", "5G")))),
          list(str("tech"))))))
    val clf = obj("xgboost.sklearn", "XGBClassifier", dict(
      "_Booster" -> obj("xgboost.core", "Booster", dict(
        "handle" -> reduce("builtins", "bytearray", tuple(bytes(booster.toArray)))))))
    val bundle = stream(dict(
      "model" -> obj("sklearn.pipeline", "Pipeline", dict(
        "steps" -> list(tuple(str("pre"), pre), tuple(str("clf"), clf)))),
      "num_cols" -> list(get(0), str("b")),
      "cat_cols" -> list(str("tech")),
      "label_rule" -> dict("metric" -> str("latency_ms"), "q" -> float(0.8),
        "hi_bad_primary" -> bool(true),
        "composite" -> list(str("drop_rate"), str("latency_ms"))),
      "trained_at" -> str("2025-01-02T03:04:05+00:00"),
      "metrics" -> dict("auc" -> float(0.75), "n" -> int(180),
        "positives" -> int(88), "p_at_10" -> float(0.5)),
      "note" -> none))
    val path = s"$tmp/synthetic.joblib"
    Files.write(java.nio.file.Paths.get(path), bundle)
    path
  }

  test("joblib pickle-v4 decoder: a bundle built in the test yields its metadata") {
    val meta = graft.sources.JoblibBundle.readMeta(syntheticBundle)
    assert(meta.numCols == Seq("a", "b"), "BINGET must replay the memoized string")
    assert(meta.catCols == Seq("tech"))
    assert(meta.labelMetric == "latency_ms" && meta.labelQuantile == 0.8 &&
      meta.hiBadPrimary)
    assert(meta.composite == Seq("drop_rate", "latency_ms"))
    assert(meta.trainedAt == "2025-01-02T03:04:05+00:00")
    assert(meta.metrics == Map("auc" -> 0.75, "n" -> 180.0,
      "positives" -> 88.0, "p_at_10" -> 0.5))
    // the inline numpy payloads were consumed: the whole stream parsed
    val root = graft.sources.JoblibBundle.load(syntheticBundle)
    assert(root.contains("note") && root("note") == null)
  }

  test("UBJSON booster decoder: a bundle built in the test scores its hand-computed trees") {
    val m = graft.sources.XgbBundle.load(syntheticBundle)
    assert(m.numCols == Seq("a", "b") && m.catCols == Seq("tech"))
    assert(m.means.toSeq == Seq(1.0, 2.0) && m.scales.toSeq == Seq(2.0, 4.0))
    assert(m.categories == Seq(Seq("4G", "5G")))
    assert(m.trees.size == 2 && m.numFeature == 4)
    assert(m.baseScore == 0.5 && m.objective == "binary:logistic")
    assert(m.trees.head.defaultLeft.toSeq == Seq(true, false, false))
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    // a = 2 scales to 0.5, not < 0.5: right leaf −0.5; tech 5G: +0.375
    assert(m.predict(Array(2.0, 0.0), Array("5G")) == sig(-0.5 + 0.375))
    // a = 0 scales to −0.5: left leaf 0.25; tech 4G: +0.125
    assert(m.predict(Array(0.0, 0.0), Array("4G")) == sig(0.25 + 0.125))
    // a missing value follows default_left on the first stump only
    assert(m.predictFv(Array(Float.NaN, 0f, 0f, Float.NaN)) == sig(0.25 + 0.375))
  }

  test("shipped booster decodes fully and scores bit-identically to an independent driver walk") {
    val path = "/root/reference/data/models/next_hour_congestion.joblib"
    assert(new java.io.File(path).isFile, "reference bundle missing")
    val m = graft.sources.XgbBundle.load(path)
    // structural parity with the artifact's published shape
    assert(m.trees.size == 200 && m.numFeature == 40)
    assert(m.baseScore == 0.5 && m.objective == "binary:logistic")
    assert(m.numCols == graft.sources.JoblibBundle.readMeta(path).numCols,
      "transformer columns must equal the bundle's own num_cols list")
    assert(m.catCols == Seq("tech", "band"))
    assert(m.categories == Seq(Seq("4G", "5G"), Seq("B2", "B66", "n41", "n77")))
    assert(m.means.length == 34 && m.scales.forall(_ > 0))
    m.trees.foreach { t =>
      val n = t.left.length
      assert(t.right.length == n && t.splitIndices.length == n &&
        t.splitConditions.length == n && t.defaultLeft.length == n)
      (0 until n).foreach { i =>
        if (!t.isLeaf(i)) {
          assert(t.splitIndices(i) >= 0 && t.splitIndices(i) < m.numFeature)
          assert(t.left(i) > i && t.right(i) > i && t.right(i) < n)
        }
      }
    }
    // score the reference's REAL 600-row telemetry through the real model
    val raw = spark.read.option("header", "true").option("inferSchema", "true")
      .csv("/root/reference/data/raw/sample_cells.csv")
    val feats = Features.build(raw)
    val scored = Scorer.scoreBundle(feats, m).select(
      (Seq(col("cell_id"), col("ts"), col("pred_prob")) ++
        m.numCols.map(c => col(c).cast("double")) ++ m.catCols.map(col)): _*)
      .collect()
    assert(scored.length == 600)
    // engine path vs the driver-side array walk: same trees, same f32
    // feature construction — must agree exactly (both end in predictFv)
    scored.foreach { r =>
      val nums = m.numCols.indices.map(i => r.getDouble(3 + i)).toArray
      val cats = m.catCols.indices.map(j => r.getString(3 + m.numCols.length + j)).toArray
      assert(math.abs(m.predict(nums, cats) - r.getDouble(2)) < 1e-12,
        s"row ${r.getString(0)}/${r.getTimestamp(1)}")
    }
    val ps = scored.map(_.getDouble(2))
    assert(ps.forall(p => p > 0.0 && p < 1.0))
    assert(ps.max - ps.min > 0.2, "shipped model must separate the fixture")
  }

  test("xgb_score expression: hand-built ensemble pins split/missing/one-hot semantics") {
    import graft.sources.XgbBundle.{Model, Tree}
    // tree0: f0 < 0.5 ? 1.0 : 2.0, missing goes LEFT
    val t0 = Tree(Array(0, 0, 0), Array(0.5f, 1.0f, 2.0f),
      Array(1, -1, -1), Array(2, -1, -1), Array(true, false, false))
    // tree1: f3 (one-hot of level "y") < 0.5 ? -0.5 : 0.25
    val t1 = Tree(Array(3, 0, 0), Array(0.5f, -0.5f, 0.25f),
      Array(1, -1, -1), Array(2, -1, -1), Array(false, false, false))
    val m = Model(Seq("a", "b"), Array(0.0, 0.0), Array(1.0, 1.0),
      Seq("c"), Seq(Seq("x", "y")), Seq(t0, t1), 0.5, 4, "binary:logistic")
    def sig(x: Double) = 1.0 / (1.0 + math.exp(-x))
    val df = Seq(
      (1L, Some(0.0), 0.0, "x"), // f0<0.5 → 1.0; f3=0 → -0.5 ⇒ σ(0.5)
      (2L, None, 0.0, "y"),      // missing f0 → default LEFT 1.0; f3=1 → 0.25 ⇒ σ(1.25)
      (3L, Some(0.9), 0.0, "z")  // f0≥0.5 → 2.0; unknown level → zeros → -0.5 ⇒ σ(1.5)
    ).toDF("id", "a", "b", "c")
    val out = Scorer.scoreBundle(df, m).select("id", "pred_prob")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == sig(0.5), s"${out(1L)}")
    assert(out(2L) == sig(1.25), s"${out(2L)}")
    assert(out(3L) == sig(1.5), s"${out(3L)}")
    // feature columns (not raw inputs) reach the expression as FLOAT —
    // the type contract that makes the f32 rounding single and explicit
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.XgbScore(Seq.fill(4)(
          org.apache.spark.sql.GraftSqlBridge.expression(col("a").cast("double"))), m)))
        .collect()
    }
  }

  test("HTTP LLM client: request body escapes correctly, response parser decodes the envelope") {
    val c = new Summarizer.HttpJsonClient("https://example.invalid/v1", "k", "test-model")
    val body = c.buildRequestBody("line1\nhe said \"hi\"\ttab", 0.2, 700)
    assert(body.contains(""""model":"test-model""""))
    assert(body.contains(""""temperature":0.2""") && body.contains(""""max_tokens":700"""))
    assert(body.contains("""line1\nhe said \"hi\"\ttab"""))
    assert(!body.contains("\n"), "raw control chars must never reach the wire")
    val resp =
      """{"id":"x","choices":[{"index":0,"message":{"role":"assistant",
        |"content":"Cells look fine.\nNo évent at \"CELL-1\"."},
        |"finish_reason":"stop"}],"usage":{"total_tokens":42}}""".stripMargin
    assert(c.parseContent(resp) == "Cells look fine.\nNo évent at \"CELL-1\".")
    intercept[IllegalArgumentException] { c.parseContent("""{"error":"rate limit"}""") }
    // null content (tool-call/refusal envelopes) must be rejected, not
    // silently resolved to the next quoted token in the document
    intercept[IllegalArgumentException] {
      c.parseContent("""{"message":{"content":null,"tool_calls":[{"id":"t1"}]}}""")
    }
    intercept[IllegalArgumentException] {
      c.parseContent("""{"message":{"content":{"parts":["x"]}}}""")
    }
    // \b and \f decode to their control chars; unknown escapes error loudly
    assert(c.parseContent("""{"content": "a\b\fz"}""") == "a\b\fz")
    intercept[IllegalArgumentException] { c.parseContent("""{"content":"bad\qescape"}""") }
    // the HTTP client slots into the Service contract like the stub does
    assert(classOf[Summarizer.LlmClient].isAssignableFrom(c.getClass))
  }

  test("Gemini client: generateContent wire shape, text extraction, block handling, provider toggle") {
    val g = new Summarizer.GeminiClient("key", "gemini-1.5-flash")
    assert(g.requestUrl ==
      "https://generativelanguage.googleapis.com/v1beta/models/gemini-1.5-flash:generateContent")
    // reference passes [system, user] as one content list — two parts
    val body = g.buildRequestBody(Seq("You are an analyst.", "data:\n{\"x\":1}"), 0.2, 700)
    assert(body.contains(""""contents":[{"role":"user","parts":[{"text":"You are an analyst."},"""))
    assert(body.contains(""""generationConfig":{"temperature":0.2,"maxOutputTokens":700}"""))
    assert(body.contains("""data:\n{\"x\":1}""") && !body.contains("\n"))
    intercept[IllegalArgumentException] { g.buildRequestBody(Nil, 0.2, 700) }
    val resp =
      """{"candidates":[{"content":{"parts":[{"text":"Cell KPIs \"stable\".\nNo action."}],
        |"role":"model"},"finishReason":"STOP"}],"usageMetadata":{"totalTokenCount":9}}""".stripMargin
    assert(g.parseText(resp) == "Cell KPIs \"stable\".\nNo action.")
    // safety-blocked: no candidates, only promptFeedback — loud error with reason
    val blocked = intercept[IllegalArgumentException] {
      g.parseText("""{"promptFeedback":{"blockReason":"SAFETY"}}""")
    }
    assert(blocked.getMessage.contains("SAFETY"))
    // a "text" key OUTSIDE candidates must not be latched onto
    intercept[IllegalArgumentException] {
      g.parseText("""{"error":{"text":"quota"},"status":503}""")
    }
    // multi-part replies concatenate ALL text parts, not truncate to [0]
    assert(g.parseText(
      """{"candidates":[{"content":{"parts":[{"text":"part one. "},
        |{"text":"part two."}],"role":"model"}}]}""".stripMargin)
      == "part one. part two.")
    // a "text"-named field in candidate metadata BEFORE content, and a
    // functionCall part whose args carry "text", must not be extracted;
    // only the real text part inside content.parts counts
    assert(g.parseText(
      """{"candidates":[{"meta":{"text":"not me"},"content":{"parts":[
        |{"functionCall":{"name":"f","args":{"text":"also not me"}}},
        |{"text":"the reply"}],"role":"model"}}]}""".stripMargin)
      == "the reply")
    // a candidate whose parts are ONLY a functionCall has no reply text —
    // loud error, not a mis-extracted args field
    intercept[IllegalArgumentException] {
      g.parseText(
        """{"candidates":[{"content":{"parts":[
          |{"functionCall":{"name":"f","args":{"text":"nope"}}}],
          |"role":"model"}}]}""".stripMargin)
    }
    // provider toggle mirrors the reference selectbox: gemini default model,
    // openai chat-completions, unknown loud
    assert(Summarizer.client("gemini", "k").isInstanceOf[Summarizer.GeminiClient])
    assert(Summarizer.client("openai", "k").isInstanceOf[Summarizer.HttpJsonClient])
    intercept[IllegalArgumentException] { Summarizer.client("anthropic", "k") }
  }

  test("rankMetrics: mid-rank AUC and tie-broken top-k match hand-computed values") {
    // pos scores {0.9, 0.8, 0.3}, neg {0.8, 0.5, 0.5} → pairwise wins
    // 3 + (0.5 + 2) + 0 = 5.5 of 9 → AUC 0.6111…; top-2 by (s desc, id)
    // is id1(pos), id2(neg) — the 0.8 boundary tie breaks on id
    val df = Seq((1L, 0.9, 1L), (2L, 0.8, 0L), (3L, 0.8, 1L),
      (4L, 0.5, 0L), (5L, 0.5, 0L), (6L, 0.3, 1L))
      .toDF("id", "pred_prob", "label")
    val r = Scorer.rankMetrics(df, k = 2, tieCols = Seq("id")).first()
    assert(math.abs(r.getDouble(0) - 5.5 / 9) < 1e-12, s"auc ${r.getDouble(0)}")
    // sklearn threshold-step AP: (1/1 + 2/3 + 3/6) / 3 = 13/18
    assert(math.abs(r.getDouble(1) - 13.0 / 18) < 1e-12, s"ap ${r.getDouble(1)}")
    assert(r.getDouble(2) == 0.5)                      // p@2
    assert(math.abs(r.getDouble(3) - 1.0 / 3) < 1e-12) // r@2
    assert(r.getLong(4) == 3 && r.getLong(5) == 3 && r.getLong(6) == 6)
    // degenerate single-class frame: AUC/r@k null-guarded, not a crash;
    // all-positive ranking has AP 1 by definition
    val onecls = Seq((1L, 0.9, 1L), (2L, 0.1, 1L)).toDF("id", "pred_prob", "label")
    val m = Scorer.evaluate(onecls, k = 1)
    assert(m("auc").isNaN && m("p_at_1") == 1.0 && m("ap") == 1.0)
  }

  test("scorer errors on empty feature intersection (reference guard)") {
    val junk = Seq((1, 2)).toDF("a", "b")
    val spec = Scorer.ModelSpec(Map("x" -> 0.0), Map("x" -> 1.0), Map("x" -> 1.0), Map.empty, 0.0)
    intercept[IllegalArgumentException] { Scorer.score(junk, spec) }
  }

  test("risk map: latest row per cell, size01 in [0,1], RGBA color array") {
    val cur = Ingest.readCurated(spark, curated)
    val scored = Features.latest(Features.build(cur))
      .withColumn("pred_prob", (hour(col("ts")) + col("cell_id").substr(-1, 1).cast("int")) / lit(30.0))
    val coords = fixture.select("cell_id", "lat", "lon", "timestamp")
    val m = Analytics.riskMap(scored, coords)
    assert(m.count() == 5)
    val r = m.select("size01", "color").collect()
    assert(r.forall(x => x.getDouble(0) >= 0 && x.getDouble(0) <= 1))
    assert(r.forall(_.getSeq[Int](1).length == 4))
  }

  test("summarizer: memoizes by content hash, caps runs, respects TTL") {
    var clock = 0L
    val svc = new Summarizer.Service(spark, new Summarizer.StubClient(),
      Summarizer.Config(maxRunsPerSession = 2, cacheTtlMs = 100L), () => clock)
    val ctx = Map("kpi" -> Seq((1, 2.0)).toDF("a", "b"))
    val s1 = svc.summarize(ctx)
    val s2 = svc.summarize(ctx) // cached → no extra run
    assert(s1 == s2 && svc.runsUsed == 1)
    val s3 = svc.summarize(Map("kpi" -> Seq((2, 3.0)).toDF("a", "b")))
    assert(s3.isDefined && svc.runsUsed == 2)
    // cap reached → new context refused
    assert(svc.summarize(Map("kpi" -> Seq((9, 9.0)).toDF("a", "b"))).isEmpty)
    // TTL expiry forces a re-run, but cap still blocks
    clock = 1000L
    assert(svc.summarize(ctx).isEmpty)
  }
}
