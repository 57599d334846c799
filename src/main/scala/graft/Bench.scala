package graft

/** Noise-adjudication core of [[Bench]], separated so the degraded-window
  * logic is unit-testable without a SparkSession (BenchSpec replays a
  * synthetic degraded window against it).
  *
  * The problem it solves: this VM class suffers bursty host-contention
  * windows (PERF.md rounds 5/7/9) that can inflate a contiguous block of
  * queries 2-4× on UNCHANGED plans. A single pre/post floor probe
  * brackets the whole run but cannot see a degraded window in the
  * middle — round 9's d38-d51 block read 47.4 s in the driver file vs
  * 17.7 s on a healthy re-run. The fix is three-part:
  *
  *  1. the ~40-char floor probe runs BETWEEN query segments (every
  *     [[Bench.FloorEvery]] queries), so each query has a bracketing
  *     pair of local floors;
  *  2. a query is a SUSPECT when it measures >2× its own prior from the
  *     last committed `bench_queries.json` AND its local floor window is
  *     degraded (worse bracket ≥3× the run's MID-RUN MEDIAN probe and
  *     above an absolute grace — mid-run probes sit ~3× the cold
  *     pre/post brackets on a healthy host, so the best probe was the
  *     wrong reference and left the gate almost always open) — a slow
  *     query on a HEALTHY floor is a genuine regression and is never
  *     second-guessed;
  *  3. each suspect is re-timed once after the run, only if the floor
  *     has recovered, and the minimum is kept; rescued names are
  *     reported in the file record so the adjudication is auditable.
  */
object BenchCore {

  /** One timed query: `seg` is the index of the floor probe taken just
    * before its segment, so its bracketing floors are `floors(seg)` and
    * `floors(seg + 1)` (the post-run probe closes the last segment).
    */
  final case class Timing(name: String, secs: Double, seg: Int)

  /** The worse of the two probes bracketing this query's segment — the
    * conservative local VM-noise estimate for its window.
    */
  def localFloor(t: Timing, floors: IndexedSeq[Double]): Double =
    math.max(floors(t.seg), floors(math.min(t.seg + 1, floors.length - 1)))

  /** Reference floor for the degraded gate: the MEDIAN of the mid-run
    * probes (pre/post brackets excluded when any mid-run probe exists).
    * The round-10 floors series showed mid-run probes sit ~3× the
    * pre/post brackets on a HEALTHY host (they interleave with hot
    * query work — JIT/GC pressure the cold brackets don't see), so
    * gating against the whole-run BEST probe — usually a bracket —
    * left the gate almost always open and reduced the adjudication to
    * a bare ">2× prior". The median of the mid-run series is the
    * typical local floor of THIS run's steady state; a window is only
    * degraded relative to that. Lower median (index (n−1)/2) keeps the
    * reference conservative when half the run is contended.
    */
  def refFloor(floors: IndexedSeq[Double]): Double = {
    val mid = if (floors.length > 2) floors.slice(1, floors.length - 1)
              else floors
    val sorted = mid.sorted
    sorted((sorted.length - 1) / 2)
  }

  /** A window is degraded when its worse bracket is ≥3× the run's
    * reference floor ([[refFloor]] — the mid-run median) and above an
    * absolute grace (healthy probes sit ~0.05-0.15 s on this VM;
    * tripling a 0.03 s reference is still healthy).
    */
  def degraded(local: Double, ref: Double): Boolean =
    local > math.max(3.0 * ref, 0.15)

  /** Names measuring >2× their prior INSIDE a degraded floor window —
    * re-run candidates. Queries with no prior (new this round), failed
    * queries (sentinel -1), and slow-on-healthy-floor genuine
    * regressions all stay untouched. 2× (not 3×): the round-10 full run
    * recorded d72 at 2.07× its prior inside a ~0.2 s floor window and a
    * targeted healthy-floor re-run read 1.0× — the observed artifact
    * multiples are 2-4×, and the floor gate already keeps genuine
    * regressions out (a truly slow query re-times slow and min() keeps
    * the honest number).
    */
  def suspects(ts: Seq[Timing], floors: IndexedSeq[Double],
               priors: Map[String, Double]): Seq[String] = {
    val ref = refFloor(floors)
    ts.filter { t =>
      t.secs >= 0 &&
        priors.get(t.name).exists(p => p > 0 && t.secs > 2.0 * p) &&
        degraded(localFloor(t, floors), ref)
    }.map(_.name)
  }

  /** Priors from a previous `bench_queries.json` line. The file is this
    * repo's own single-line format (keys `[A-Za-z0-9_]+`, plain decimal
    * values), so a regex over the "queries" object body is exact — no
    * JSON library needed, and a missing/garbled file degrades to no
    * priors (no re-runs) rather than an error.
    */
  def parsePriors(json: String): Map[String, Double] = {
    val qIdx = json.indexOf("\"queries\":")
    if (qIdx < 0) return Map.empty
    val start = json.indexOf('{', qIdx)
    if (start < 0) return Map.empty
    // brace-depth scan to the matching close (the current format is flat,
    // but a nested object inside "queries" must FAIL VISIBLY via an
    // unbalanced scan, not silently truncate the priors). Keys/values
    // never contain braces (keys [A-Za-z0-9_], plain decimals), so depth
    // counting is exact without string-literal tracking.
    var i = start; var depth = 0; var end = -1
    while (i < json.length && end < 0) {
      json.charAt(i) match {
        case '{' => depth += 1
        case '}' => depth -= 1; if (depth == 0) end = i
        case _ =>
      }
      i += 1
    }
    if (end < 0) return Map.empty
    val re = """"([A-Za-z0-9_]+)":(-?[0-9]+(?:\.[0-9]+)?)""".r
    re.findAllMatchIn(json.substring(start + 1, end))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** Sum of the successful timings, 3 decimals. Failed queries (sentinel
    * -1) are left out: summing them in would LOWER the metric on a
    * regression; [[failedJson]] reports them by name instead.
    */
  def total(results: Seq[(String, Double)]): String =
    f"${results.map(_._2).filter(_ >= 0).sum}%.3f"

  /** The failed queries' full names, as a JSON array. */
  def failedJson(results: Seq[(String, Double)]): String =
    results.filter(_._2 < 0).map("\"" + _._1 + "\"").mkString("[", ",", "]")

  /** The run's first and last floor probes, as a `"floor"` field: the
    * compact [pre, post] shape both the stdout line and the file record
    * carry.
    */
  def floorField(floors: IndexedSeq[Double]): String =
    f""","floor":[${floors.head}%.3f,${floors.last}%.3f]"""

  /** Successful queries the stdout line names. */
  val Slowest = 60

  /** [[Bench]]'s one stdout line. The harness keeps only the last ~2000
    * chars of stdout, and a per-query map of the whole registry does not
    * fit there even at 1 decimal, so the line carries the total, the
    * failures by name, the query count and the [[Slowest]] successful
    * timings (prefix keys, 1 decimal, slowest first) — the tail a perf
    * review reads. The full map is in `bench_queries.json`. `sfName` is
    * the data directory's basename (`sf0.1`).
    */
  def stdoutLine(results: Seq[(String, Double)], floors: IndexedSeq[Double],
                 sfName: String): String = {
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(Slowest)
      .map { case (k, v) => "\"" + SparkEntry.prefix(k) + "\":" + f"$v%.1f" }
      .mkString("{", ",", "}")
    val nFailed = results.count(_._2 < 0)
    s"""{"metric":"total","value":${total(results)},"unit":"sec","n_failed":$nFailed,"failed":${failedJson(results)},"n_queries":${results.size},"slowest":$slowest${floorField(floors)},"sf":"$sfName"}"""
  }
}

/** Benchmark main, and graft's one timing loop.
  *
  * Options: `SPARK_GRAFT_SF_DIR` (data directory, default
  * `/root/testdata/sf0.1`), `SPARK_GRAFT_CPUS` (default 32),
  * `SPARK_GRAFT_ONLY` (a comma-separated list of registry prefixes or full
  * names, see [[SparkEntry.select]]; unset = the whole registry) and
  * `GRAFT_BENCH_DIR` (where the previous record is read and the new one
  * written, default the working directory).
  *
  * Stdout contract: the LAST stdout line is one JSON object,
  * [[BenchCore.stdoutLine]] — `metric`, `value` (total seconds), `unit`,
  * `n_failed`, `failed`, `n_queries`, the slowest 60 timings, `floor` and
  * `sf` — and stays under 1,950 chars. `sbt run` prints it without sbt's
  * `[info] ` prefix (`run / outputStrategy` in build.sbt). Every query's
  * timing, the shared-frame and streaming segments and the noise evidence
  * go to `bench_queries.json`, one line, read back by [[graft.Scaling]] and
  * as the next run's priors.
  *
  * Methodology: queries run in sorted name order; a first untimed pass
  * warms the JVM's JIT, parquet footers and generated code (single-JVM
  * local mode otherwise charges one-time session costs to whichever query
  * runs first), then each query is timed three times and the minimum is
  * reported —
  * steady-state engine speed, not launch noise. Cross-JVM wall clock on
  * this class of VM varies up to 2×, and round 5 showed bursty host
  * stalls can hit BOTH reps of min-of-2 (d18 read 6.9× on an unchanged
  * plan, fully recovered next session — see PERF.md "round-5 bench
  * regression"); min-of-3 shrinks that window. VM-noise calibration is
  * [[BenchCore]]'s: floor probes interleave between query segments
  * (every [[FloorEvery]] queries — the full per-segment series lands in
  * `bench_queries.json`), and any query measuring >2× its committed
  * prior inside a degraded window is re-timed once on a recovered
  * floor, with rescued names reported. The `floor` field keeps its
  * [pre, post] shape — pre/post are the first and last entries of the
  * full series.
  *
  * Index roots: the untimed warm-up pass builds the index-serving
  * queries' persisted index roots under `java.io.tmpdir` (or finds them
  * there from an earlier run), so the timed repetitions measure serving
  * from warm roots, never the build. [[Verify]] runs each query once and
  * is the main that exercises the cold build path.
  *
  * The warm-up keeps generated code only because [[GraftSession]] sizes
  * Spark's codegen cache to the registry's working set: with Spark's
  * default 100 entries, any run of more than a handful of queries evicted
  * a query's classes before its timed repetitions and every repetition
  * compiled them again in Janino. `bench_queries.json` records the check
  * as a top-level `compiles` object: per query, the classes compiled
  * during its three timed repetitions (0 or near it when warm).
  */
object Bench {

  /** Queries per floor-probe segment. 8 ≈ 27 probes over 216 queries —
    * fine enough to localize a multi-minute degraded window, cheap
    * enough (~0.05 s each, healthy) to not perturb the run.
    */
  val FloorEvery = 8

  /** Seconds `f` takes. */
  private def secs(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val queries = SparkEntry.select(only)
    val qByName = queries.toMap
    // the previous record is read for priors before this run overwrites it
    val recordPath = java.nio.file.Paths
      .get(sys.env.getOrElse("GRAFT_BENCH_DIR", ".")).resolve("bench_queries.json")
    val spark = GraftSession.local("graft-bench", cpus)

    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val dt = try secs(fn(spark, sfDir).count()) catch { case _: Throwable => -1.0 }
      // each invocation persists fresh frames (q31/q33) that are never
      // shared across calls — drop them outside the timed span or every
      // repetition leaks another copy into executor storage
      spark.sharedState.cacheManager.clearCache()
      dt
    }

    // VM-noise calibration probe: no IO, no parquet — pure codegen +
    // scheduling. A healthy window floors ~0.05 s; multi-× inflation here
    // means host contention, not engine regression.
    def probe(): Double = secs(spark.range(2000000L).selectExpr("sum(id) AS s").collect())
    // Priors for the noise adjudication; keys there are the registry
    // prefixes.
    val priors: Map[String, Double] =
      try BenchCore.parsePriors(new String(
        java.nio.file.Files.readAllBytes(recordPath), "UTF-8"))
      catch { case _: Exception => Map.empty }

    queries.foreach { case (_, fn) => run(fn) } // warm-up pass, untimed
    val floors = scala.collection.mutable.ArrayBuffer[Double]()
    floors += (1 to 3).map(_ => probe()).min
    // Janino compiles per query across its timed repetitions
    def compiledClasses(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compiles = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val timed = queries.zipWithIndex.map { case ((name, fn), i) =>
      if (i > 0 && i % FloorEvery == 0) floors += probe()
      val c0 = compiledClasses()
      val best = Seq(run(fn), run(fn), run(fn)).min
      compiles += name -> (compiledClasses() - c0)
      BenchCore.Timing(name, best, floors.length - 1)
    }
    floors += (1 to 3).map(_ => probe()).min
    val floorSeries = floors.toIndexedSeq

    // Outlier re-run: >2× the committed prior inside a degraded floor
    // window → one more min-of-2 on a recovered floor; keep the min.
    // Never rescues a slow-on-healthy-floor measurement (that is a real
    // regression) and never makes any timing WORSE (min).
    import SparkEntry.prefix
    val suspectSet = BenchCore.suspects(
      timed.map(t => t.copy(name = prefix(t.name))), floorSeries,
      priors).toSet
    val rescued = scala.collection.mutable.ArrayBuffer[String]()
    val results = timed.map { t =>
      if (!suspectSet.contains(prefix(t.name))) t.name -> t.secs
      else if (BenchCore.degraded(probe(), BenchCore.refFloor(floorSeries))) {
        // the host is STILL contended — an immediate re-run would just
        // re-measure the noise; keep the honest (flagged) timing
        t.name -> t.secs
      } else {
        val again = math.min(run(qByName(t.name)), run(qByName(t.name)))
        if (again >= 0 && again < t.secs) { rescued += prefix(t.name); () }
        t.name -> (if (again >= 0) math.min(t.secs, again) else t.secs)
      }
    }

    // Record keys are the registry prefixes (q01_pricing_summary -> q01);
    // CORRECTNESS_r*.json carries the prefix->name mapping.
    require(results.map(n => prefix(n._1)).distinct.size == results.size,
      "bench key prefixes must be unique")
    val resultMap = results.toMap
    // Shared-frame segment: a family re-timed with its common subtrees
    // materialized ONCE through the family's `enableSharedFrames` — how
    // a real pipeline runs — reported as a compact [build, shared,
    // isolated] array beside the isolated numbers, so regression signal
    // separates from shared-subtree recompute noise. Every member must
    // have SUCCEEDED in the timed pass (-1.0 is the failure sentinel):
    // re-timing a failing query here would throw after all per-query
    // work completed and lose the whole record.
    def sharedSegment(key: String, family: Seq[String], enable: => Unit,
                      clear: () => Unit): String = {
      val members = family.filter(qByName.contains)
      if (members.isEmpty || !members.forall(resultMap(_) >= 0)) ""
      else {
        val build = secs(enable)
        val shared = members.map(n => secs(qByName(n)(spark, sfDir).count())).sum
        clear()
        spark.sharedState.cacheManager.clearCache()
        val isolated = members.map(resultMap).sum
        f""","$key":[$build%.2f,$shared%.2f,$isolated%.2f]"""
      }
    }
    // the dedup family (d12/d13/d18/d26/d29/d34/d37/d39 all rebuild the
    // shingle / d05 pair / d13 cluster subtrees when run self-contained —
    // d39 builds the shingle table three times)
    val pipeline = sharedSegment("pipeline", Seq(
      "d12_edit_distance_dup_pairs", "d13_dup_clusters",
      "d18_contamination", "d20_crossdoc_ngram_dup",
      "d26_cross_split_leakage", "d29_apply_near_dup_removal",
      "d34_cluster_weighted_sample", "d37_best_of_cluster",
      "d39_capped_jaccard_pairs", "d40_boilerplate_ngrams",
      "d45_ngram_novelty",
      "d46_dup_substring_spans", "d48_apply_substring_removal",
      "d49_cluster_safe_split", "d50_bpe_merges",
      "d51_dup_graph_pagerank", "d53_apply_decontamination",
      "d56_bpe_encode", "d57_dup_graph_triangles",
      "d61_minhash_estimate_audit", "d67_dup_mass_report",
      "d74_lsh_band_sensitivity"),
      graft.ext.TextOps.enableSharedFrames(spark, sfDir),
      () => graft.ext.TextOps.clearSharedFrames())
    // the vector-serving family: e20 re-encodes the PQ index e19 built,
    // e13 re-buckets what e03/e05 bucketed, e21 rebuilds its code table,
    // and the IVF family (e07/e18/e22-e26) each re-assigns the corpus to
    // the coarse codebook
    val vpipe = sharedSegment("vpipe", Seq(
      "e03_lsh_buckets", "e05_ann_lsh_top5", "e07_ann_ivf_top5",
      "e13_lsh_recall", "e18_ann_ivf_multiprobe", "e19_pq_knn",
      "e20_pq_rerank_top5", "e21_bq_knn", "e22_semantic_dedup",
      "e23_crossmodal_dup_confirm", "e24_ivfpq_knn", "e25_kmeans_codebook",
      "e26_ivf_recall", "e27_knn_graph", "e28_pca_power_iteration",
      "e30_hard_negatives", "e31_triplet_mining", "e40_graph_walk_recall"),
      graft.ext.VectorOps.enableSharedFrames(spark, sfDir),
      () => graft.ext.VectorOps.clearSharedFrames())
    // Streaming segment: the stateful monitors are spec-verified but were
    // never TIMED — a state-store regression was invisible to the bench.
    // Fixed replay: the whole events table, ts-ordered, split into 8
    // deterministic micro-batches through a MemoryStream into five
    // representative stateful pipelines (watermarked tumbling agg,
    // session windows, watermark dedup, CUSUM monitor, decayed trending
    // heavy hitters) under the RocksDB state store (the production
    // posture; the transformWithState monitors need its column
    // families). Reported in bench_queries.json only ("stream" object).
    // Whole-registry runs only: perfbench's `analytics` workload times a
    // micro-batch through the same five pipelines for targeted work. On
    // any failure the segment is left out with a WARN, not a lost record.
    def streamSegment(): String = {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import spark.implicits._
      import graft.streaming.StreamOps
      import graft.streaming.StreamOps.Event
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
      try {
        val data = graft.Tables.events(spark, sfDir)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
        val batches = data.grouped(math.max(1, data.length / 8)).toSeq
        // per-type mean hourly count — the CUSUM in-control target,
        // derived once from the replay data itself (deterministic)
        val mu = data.groupBy(_.event_type).map { case (et, es) =>
          et -> es.size.toDouble /
            es.map(e => e.ts.getTime / 3600000L).distinct.size
        }
        def mem(df: org.apache.spark.sql.DataFrame, name: String,
                mode: String) = df.writeStream.format("memory")
          .queryName(s"bench_stream_$name").outputMode(mode).start()
        def t(name: String)(
            start: MemoryStream[Event] =>
              org.apache.spark.sql.streaming.StreamingQuery): (String, Double) = {
          implicit val ctx = spark.sqlContext
          val ms = MemoryStream[Event]
          name -> secs {
            val q = start(ms)
            try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
            finally q.stop()
            spark.catalog.dropTempView(s"bench_stream_$name")
          }
        }
        // bracket the segment with the same floor probe the query pass
        // uses: the round-10 closing run recorded tumble at 24 s vs its
        // 7.3 s baseline inside a contended window, and without a local
        // floor nothing in the record said so
        val sPre = probe()
        val timings = Seq(
          t("tumble")(ms =>
            mem(StreamOps.tumblingHourly(ms.toDF()), "tumble", "complete")),
          t("session")(ms =>
            mem(StreamOps.userSessionWindows(ms.toDF()), "session", "complete")),
          t("dedup")(ms =>
            mem(StreamOps.dedupEvents(ms.toDF()), "dedup", "append")),
          t("cusum")(ms =>
            mem(StreamOps.cusumStream(ms.toDS(), mu).toDF(), "cusum", "append")),
          t("trend")(ms =>
            mem(StreamOps.trendingUsersStream(ms.toDS()).toDF(), "trend",
              "append")))
        val sPost = probe()
        (timings.map { case (n, v) => "\"" + n + "\":" + f"$v%.2f" } ++
          Seq(f""""floor":[$sPre%.3f,$sPost%.3f]"""))
          .mkString(""","stream":{""", ",", "}")
      } catch {
        case e: Exception =>
          System.err.println("# WARN stream segment failed: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
          ""
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
    val streamSeg = if (only.isEmpty) streamSegment() else ""

    results.foreach { case (k, v) => println(f"# $k%-40s $v%8.3f s") }
    // The file record carries what the stdout line cannot afford: every
    // query's 3-decimal timing, the shared-frame and streaming segments,
    // the per-segment floor series (each query's bracket is
    // floors[i/floor_every], floors[i/floor_every+1] in sorted-name
    // order), which suspect timings a recovered-floor re-run rescued, and
    // the FULL sfDir path (two corpora with the same basename in
    // different parents stay distinguishable).
    val queriesJson = results
      .map { case (k, v) => "\"" + prefix(k) + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val floorsJson = floorSeries.map(f => f"$f%.3f").mkString("[", ",", "]")
    val rescuedJson = rescued.map("\"" + _ + "\"").mkString("[", ",", "]")
    // top-level, outside "queries": BenchCore.parsePriors reads that
    // object's values as timings
    val compilesJson = compiles
      .map { case (k, n) => "\"" + prefix(k) + "\":" + n }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":${BenchCore.total(results)},"n_failed":${results.count(_._2 < 0)},"failed":${BenchCore.failedJson(results)},"queries":$queriesJson$pipeline$vpipe$streamSeg${BenchCore.floorField(floorSeries)},"floors":$floorsJson,"floor_every":$FloorEvery,"rescued":$rescuedJson,"compiles":$compilesJson,"sf":"$sfDir"}"""
    // a failed write WARNS instead of silently leaving a stale committed
    // file that misrepresents the latest run
    try {
      java.nio.file.Files.write(recordPath, (fullJson + "\n").getBytes("UTF-8"))
    } catch {
      case e: Exception => // a read-only CWD must not fail the bench itself
        System.err.println(
          s"# WARN bench_queries.json not written to $recordPath (${e.getClass.getSimpleName}: ${e.getMessage}); any existing file there is STALE")
    }
    // the JSON line is the LAST stdout print (spark.stop logs to stderr),
    // so the harness's ~2000-char stdout tail captures it whole at ≤1950
    val line = BenchCore.stdoutLine(results, floorSeries,
      new java.io.File(sfDir).getName)
    require(line.length < 1950, s"bench JSON line ${line.length} chars risks tail truncation")
    println(line)
    spark.stop()
  }
}
