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
}

/** Benchmark main — driver contract: one JSON line
  * `{"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}`. The harness
  * parses the LAST bare `{"metric":…}` line of stdout; `sbt run` prints it
  * without sbt's `[info] ` prefix (`run / outputStrategy` in build.sbt).
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
  * floor, with rescued names reported. The stdout `floor` field keeps
  * its [pre, post] shape (driver contract) — pre/post are the first
  * and last entries of the full series.
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
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-bench", cpus)

    // SPARK_GRAFT_ONLY=q01,d05 limits the run (dev iteration); unset = all.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.mkString(",")}")
    }
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => return -1.0 }
      val dt = (System.nanoTime() - t0) / 1e9
      // each invocation persists fresh frames (q31/q33) that are never
      // shared across calls — drop them outside the timed span or every
      // repetition leaks another copy into executor storage
      spark.sharedState.cacheManager.clearCache()
      dt
    }

    // VM-noise calibration probe: no IO, no parquet — pure codegen +
    // scheduling. A healthy window floors ~0.05 s; multi-× inflation here
    // means host contention, not engine regression.
    def probe(): Double = {
      val t0 = System.nanoTime()
      spark.range(2000000L).selectExpr("sum(id) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Priors for the noise adjudication come from the PREVIOUS run's
    // committed bench_queries.json (read before this run overwrites it);
    // keys there are the compacted registry prefixes.
    val priorsPath = java.nio.file.Paths
      .get(sys.env.getOrElse("GRAFT_BENCH_DIR", "."))
      .resolve("bench_queries.json")
    val priors: Map[String, Double] =
      try BenchCore.parsePriors(new String(
        java.nio.file.Files.readAllBytes(priorsPath), "UTF-8"))
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
      val secs = Seq(run(fn), run(fn), run(fn)).min
      compiles += name -> (compiledClasses() - c0)
      BenchCore.Timing(name, secs, floors.length - 1)
    }
    floors += (1 to 3).map(_ => probe()).min
    val floorSeries = floors.toIndexedSeq
    val floorPre = floorSeries.head
    val floorPost = floorSeries.last

    // Outlier re-run: >2× the committed prior inside a degraded floor
    // window → one more min-of-2 on a recovered floor; keep the min.
    // Never rescues a slow-on-healthy-floor measurement (that is a real
    // regression) and never makes any timing WORSE (min).
    def shortName(name: String): String = name.takeWhile(_ != '_')
    val suspectSet = BenchCore.suspects(
      timed.map(t => t.copy(name = shortName(t.name))), floorSeries,
      priors).toSet
    val qByName = queries.toMap
    val rescued = scala.collection.mutable.ArrayBuffer[String]()
    val results = timed.map { t =>
      if (!suspectSet.contains(shortName(t.name))) t.name -> t.secs
      else if (BenchCore.degraded(probe(), BenchCore.refFloor(floorSeries))) {
        // the host is STILL contended — an immediate re-run would just
        // re-measure the noise; keep the honest (flagged) timing
        t.name -> t.secs
      } else {
        val again = math.min(run(qByName(t.name)), run(qByName(t.name)))
        if (again >= 0 && again < t.secs) { rescued += shortName(t.name); () }
        t.name -> (if (again >= 0) math.min(t.secs, again) else t.secs)
      }
    }

    // The harness captures only the last ~2000 chars of stdout, so the JSON
    // line must stay comfortably below that: per-query keys are compacted to
    // the registry prefix (q01_pricing_summary -> q01; prefixes are unique by
    // construction) and timings rounded to ms. Full names print above for
    // humans; CORRECTNESS_r*.json carries the prefix->name mapping anyway.
    def short(name: String): String = name.takeWhile(_ != '_')
    require(results.map(n => short(n._1)).distinct.size == results.size,
      "bench key prefixes must be unique")
    // 2-decimal per-query timings: 10 ms grain is below this VM's run-to-run
    // noise anyway, and the saved chars keep the line under the harness's
    // ~2000-char stdout tail as the registry grows (full ms precision for
    // humans prints in the per-query lines above). At 140 queries the line
    // sits ~90 chars under the cap, so if 2 decimals would overflow it the
    // map degrades to 1 decimal rather than tripping the length guard.
    def qsAt(dec: Int): String = results
      .map { case (k, v) => "\"" + short(k) + "\":" + s"%.${dec}f".format(v) }
      .mkString("{", ",", "}")
    // Pipeline segment: the dedup family (d12/d13/d18/d26/d29/d34/d37/d39
    // all rebuild the shingle / d05 pair / d13 cluster subtrees when run
    // self-contained — d39 builds the shingle table three times) re-times
    // with those frames materialized ONCE via TextOps.enableSharedFrames —
    // how a real pipeline runs. Reported beside the isolated numbers so
    // regression signal separates from shared-subtree recompute noise;
    // per-query timings above keep the driver contract untouched.
    val family = Seq("d12_edit_distance_dup_pairs", "d13_dup_clusters",
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
      "d74_lsh_band_sensitivity")
      .filter(n => only.forall(_.contains(n)))
    val resultMap = results.toMap
    // every family member must have SUCCEEDED in the timed pass (-1.0 is the
    // failure sentinel) — re-timing a failing query here would throw after
    // all per-query work completed and lose the whole bench line
    val pipeline = if (family.nonEmpty &&
        family.forall(n => resultMap.get(n).exists(_ >= 0))) {
      def t(f: => Unit): Double =
        { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      val build = t(graft.ext.TextOps.enableSharedFrames(spark, sfDir))
      val sharedSec =
        family.map(n => t { SparkEntry.queries(n)(spark, sfDir).count(); () }).sum
      graft.ext.TextOps.clearSharedFrames()
      spark.sharedState.cacheManager.clearCache()
      val isolated = family.map(resultMap(_)).filter(_ >= 0).sum
      // compact [build, shared, isolated] array: the object form's field
      // names cost ~60 chars/segment, which at 152 queries pushed the
      // 1-decimal line past the ladder rung and silently shed BOTH
      // pipeline segments — the array keeps them on the line
      f""","pipeline":[$build%.2f,$sharedSec%.2f,$isolated%.2f]"""
    } else ""
    // Vector-serving segment, same methodology: e20 re-encodes the PQ
    // index e19 built, e13 re-buckets what e03/e05 bucketed, e21 rebuilds
    // its code table, and the IVF family (e07/e18/e22-e26) each
    // re-assigns the corpus to the coarse codebook —
    // VectorOps.enableSharedFrames materializes the vector/bucket/PQ/BQ/
    // IVF-assignment index frames once, how a serving pipeline runs.
    val vfamily = Seq("e03_lsh_buckets", "e05_ann_lsh_top5", "e07_ann_ivf_top5",
      "e13_lsh_recall", "e18_ann_ivf_multiprobe", "e19_pq_knn",
      "e20_pq_rerank_top5", "e21_bq_knn", "e22_semantic_dedup",
      "e23_crossmodal_dup_confirm", "e24_ivfpq_knn", "e25_kmeans_codebook",
      "e26_ivf_recall", "e27_knn_graph", "e28_pca_power_iteration",
      "e30_hard_negatives", "e31_triplet_mining", "e40_graph_walk_recall")
      .filter(n => only.forall(_.contains(n)))
    val vpipe = if (vfamily.nonEmpty &&
        vfamily.forall(n => resultMap.get(n).exists(_ >= 0))) {
      def t(f: => Unit): Double =
        { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
      val build = t(graft.ext.VectorOps.enableSharedFrames(spark, sfDir))
      val sharedSec =
        vfamily.map(n => t { SparkEntry.queries(n)(spark, sfDir).count(); () }).sum
      graft.ext.VectorOps.clearSharedFrames()
      spark.sharedState.cacheManager.clearCache()
      val isolated = vfamily.map(resultMap(_)).filter(_ >= 0).sum
      f""","vpipe":[$build%.2f,$sharedSec%.2f,$isolated%.2f]""" // same [b,s,i] shape
    } else ""
    // Streaming segment: the stateful monitors are spec-verified but were
    // never TIMED — a state-store regression was invisible to the bench.
    // Fixed replay: the whole events table, ts-ordered, split into 8
    // deterministic micro-batches through a MemoryStream into five
    // representative stateful pipelines (watermarked tumbling agg,
    // session windows, watermark dedup, CUSUM monitor, decayed trending
    // heavy hitters) under the RocksDB state store (the production
    // posture; the transformWithState monitors need its column
    // families). Reported in bench_queries.json only ("stream" object) —
    // the stdout line has no budget for it. Skipped under
    // SPARK_GRAFT_ONLY (dev iteration) and on any failure (a WARN, not a
    // lost bench line).
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
          val t0 = System.nanoTime()
          val q = start(ms)
          try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
          finally q.stop()
          spark.catalog.dropTempView(s"bench_stream_$name")
          name -> (System.nanoTime() - t0) / 1e9
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
    // SPARK_GRAFT_STREAM=1 forces the segment under SPARK_GRAFT_ONLY
    // (dev iteration on the streaming layer itself)
    val streamSeg =
      if (only.isEmpty || sys.env.contains("SPARK_GRAFT_STREAM"))
        streamSegment()
      else ""

    // Failed queries (-1.0 sentinel) are excluded from the headline total —
    // summing them in would *lower* the metric on a regression — and
    // reported by name so a nonzero failure list is unmissable.
    val (failed, ok) = results.partition(_._2 < 0)
    val total = f"${ok.map(_._2).sum}%.3f"
    // sf as the directory basename ("sf0.1"): the full path spent 15 chars
    // of the ~2000-char stdout-tail budget repeating a constant prefix —
    // at 175 queries those chars are what keep the pipeline segments on
    // the 1-decimal line
    val sfName = new java.io.File(sfDir).getName
    val failedJson = failed.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    results.foreach { case (k, v) => println(f"# $k%-40s $v%8.3f s") }
    // compact [pre, post] array (same shape trade as pipeline/vpipe): the
    // object form's field names cost 13 chars the 157-query line needs
    val floor = f""","floor":[$floorPre%.3f,$floorPost%.3f]"""
    def mkLine(dec: Int): String =
      s"""{"metric":"total","value":$total,"unit":"sec","n_failed":${failed.size},"failed":$failedJson,"queries":${qsAt(dec)}$pipeline$vpipe$floor,"sf":"$sfName"}"""
    // degradation ladder as the registry grows: 2-decimal timings →
    // 1-decimal → (last resort) drop the pipeline enrichment but keep
    // the per-query map — the driver contract needs total+queries; the
    // enrichments are this repo's own additions. The ~40-char floor
    // probe survives EVERY rung (mkMinimal included): it is the
    // VM-noise calibration the cross-round methodology checks first,
    // and dropping it would be the inconsistency of shedding the
    // smallest field before the biggest.
    def mkBare(dec: Int): String =
      s"""{"metric":"total","value":$total,"unit":"sec","n_failed":${failed.size},"failed":$failedJson,"queries":${qsAt(dec)}$floor,"sf":"$sfName"}"""
    // When even the bare 1-decimal map overflows the tail budget (the
    // registry crossed ~180 queries), keep the SLOWEST 60 — the tail a
    // perf review actually reads — plus the query count; the full map
    // is always in bench_queries.json (written below), so nothing is
    // lost, only demoted off the stdout line.
    def mkTop: String = {
      val slowest = ok.sortBy(-_._2).take(60)
        .map { case (k, v) => "\"" + short(k) + "\":" + f"$v%.1f" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","n_failed":${failed.size},"failed":$failedJson,"n_queries":${results.size},"slowest":$slowest$floor,"sf":"$sfName"}"""
    }
    // absolute floor: total + failures only — the driver contract fields.
    // Losing per-query detail beats losing the whole line to the length
    // guard AFTER all benchmarking work completed.
    def mkMinimal: String =
      s"""{"metric":"total","value":$total,"unit":"sec","n_failed":${failed.size},"failed":$failedJson$floor,"sf":"$sfName"}"""
    // Full-resolution per-query record, unconditionally: the stdout line
    // is budget-bound but the repo is not — every run leaves its complete
    // 3-decimal map (plus floor) here for PERF.md work and review. The
    // file record keeps the FULL sfDir path (no length budget applies):
    // two corpora with the same basename in different parents stay
    // distinguishable; only the stdout line uses the basename.
    // The file record carries the FULL noise-adjudication evidence the
    // stdout line cannot afford: the per-segment floor series (each
    // query's bracket is floors[i/floor_every], floors[i/floor_every+1]
    // in sorted-name order), and which suspect timings a recovered-floor
    // re-run actually rescued.
    val floorsJson = floorSeries.map(f => f"$f%.3f").mkString("[", ",", "]")
    val rescuedJson = rescued.map("\"" + _ + "\"").mkString("[", ",", "]")
    // top-level, outside "queries": BenchCore.parsePriors reads that
    // object's values as timings
    val compilesJson = compiles
      .map { case (k, n) => "\"" + short(k) + "\":" + n }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"n_failed":${failed.size},"failed":$failedJson,"queries":${qsAt(3)}$pipeline$vpipe$streamSeg$floor,"floors":$floorsJson,"floor_every":$FloorEvery,"rescued":$rescuedJson,"compiles":$compilesJson,"sf":"$sfDir"}"""
    // Output dir is explicit — GRAFT_BENCH_DIR when set, else the process
    // CWD — and a failed write WARNS instead of silently leaving a stale
    // committed file that misrepresents the latest run.
    val outPath = java.nio.file.Paths
      .get(sys.env.getOrElse("GRAFT_BENCH_DIR", "."))
      .resolve("bench_queries.json")
    try {
      java.nio.file.Files.write(outPath, (fullJson + "\n").getBytes("UTF-8"))
    } catch {
      case e: Exception => // a read-only CWD must not fail the bench itself
        System.err.println(
          s"# WARN bench_queries.json not written to $outPath (${e.getClass.getSimpleName}: ${e.getMessage}); any existing file there is STALE")
    }
    // Rung raised 1880 → 1948 at 171 queries: the JSON line is the LAST
    // stdout print (spark.stop logs to stderr), so the harness's ~2000-char
    // stdout tail captures it whole at ≤1950. At 171 queries the 1-decimal
    // map alone is ~1850 chars; the old 1880 rung silently shed BOTH
    // pipeline segments (~57 chars) that still fit under the true bound.
    val line = Seq(mkLine(2), mkLine(1), mkBare(1), mkTop, mkMinimal)
      .find(_.length < 1948).getOrElse(mkMinimal)
    require(line.length < 1950, s"bench JSON line ${line.length} chars risks tail truncation")
    println(line)
    spark.stop()
  }
}
