package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session posture, shared by the Verify/Bench
  * mains and any embedding application. A cluster deployment submits with
  * the same confs, `spark.sql.codegen.cache.maxEntries` included (plus
  * `spark.sql.extensions=graft.functions.GraftExtensions` to get the
  * native functions without a code hook).
  *
  * Why these settings:
  *  - `shuffle.partitions` sized to the parallelism at hand — locally the
  *    core count; on a 1000-executor cluster, 2-3× total cores as the
  *    STARTING point, with AQE's partition coalescing (on by default in
  *    Spark 4) shrinking small stages at runtime, so over-provisioning
  *    the static number is cheap while under-provisioning spills.
  *  - `session.timeZone=UTC` pinned: every temporal query (hour buckets,
  *    weekday rollups, week cohorts) must bucket identically regardless
  *    of host timezone — and identically to the DuckDB oracle.
  *  - AQE left at Spark 4 defaults (on): runtime skew-join splitting and
  *    coalescing are part of the engine's skew posture (PlanSpec pins the
  *    behaviors themselves).
  *  - `codegen.cache.maxEntries` sized to graft's working set of
  *    generated classes, not Spark's default of 100. One pass over all
  *    262 registry queries at sf0.01 with an unbounded cache compiled
  *    5,255 distinct classes, and one warm round of a seven-query mix
  *    needs about 280; an LRU cache cycled through more entries than it
  *    holds gets no hits, so with 100 entries every warm query compiled
  *    its code again in Janino, on the driver and again in every task
  *    (whole-stage code is compiled per task through the same cache).
  *    8192 is derived, not tuned: the next power of two above 5,255.
  *    Holding all 5,498 classes of two registry passes ended at 236 MB of
  *    metaspace, against 188 MB with the default cache. The conf is
  *    STATIC: Spark reads it once per JVM, when `CodeGenerator` first
  *    initialises, so it only takes effect if the JVM's first session is
  *    built here (or a cluster job passes it with `--conf`). Plans, jobs,
  *    stages and tasks are unchanged; only compile work goes away.
  *  - UI off for headless runs (driver harness / CI).
  */
object GraftSession {

  def build(appName: String, master: String, shufflePartitions: Int,
            extra: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.register(spark)
    spark
  }

  /** Local session for the driver-harness mains: `local[cpus]` with
    * shuffle partitions = cpus (not the 200 default — 200 tiny partitions
    * on a laptop-scale input is pure scheduling overhead).
    */
  def local(appName: String, cpus: Int): SparkSession =
    build(appName, s"local[$cpus]", cpus)
}
