package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry queries run warm in seed-shuffled order (the query half of
  * `analytics`: [[QueryWorkload.OlapShort]] and [[QueryWorkload.LlmTail]]).
  * One round is one pass over the whole list, so every query is measured
  * equally often whatever the seed.
  *
  * Each query is timed from the call into its `SparkEntry.queries`
  * function (construction) through `collect()` (planning and execution);
  * `collect` computes every output column, where `count()` would let
  * Catalyst prune them. The digest is taken after the timed span, so the
  * op's latency is its construct, plan and exec phases and nothing else.
  */
class QueryWorkload(names: Seq[String]) extends Workload {
  import QueryWorkload._

  private var order: Seq[String] = names

  def setup(ctx: Ctx): Unit = {
    val rng = new scala.util.Random(ctx.seed)
    order = rng.shuffle(names)
    // one untimed pass: every query's first, cold run (class loading,
    // codegen, the bulk of JIT compilation) stays out of the measurement
    ctx.step("warm-up")(order.foreach(run(ctx, _)))
  }

  def round(ctx: Ctx, i: Int): Seq[Op] = order.map(n => run(ctx, n))

  def run(ctx: Ctx, name: String): Op = {
    val spark = ctx.spark
    val fn = registry(name)
    val module = moduleOf(name)
    val tr = ctx.tracer
    val op = tr.open("op", name, module)
    val t0 = System.nanoTime()
    val result = try {
      val df = tr.span("phase", "construct", module)(_ => fn(spark, ctx.data.toString))
      val actionStartMs = System.currentTimeMillis()
      val rows = tr.span("phase", "action", module) { s =>
        val r = df.collect()
        if (tr.enabled) s.attrs("plan_s") = planSeconds(df, actionStartMs)
        r
      }
      Right((df.columns.toSeq, rows))
    } catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    } finally tr.close(op)
    val secs = (System.nanoTime() - t0) / 1e9
    // frames a query persists are never shared across calls
    spark.sharedState.cacheManager.clearCache()
    result match {
      case Right((cols, rows)) =>
        Op("query", name, module, secs, ok = true, Digest.of(cols, rows), rows.length)
      case Left(err) => Op("query", name, module, secs, ok = false, error = err)
    }
  }
}

object QueryWorkload {

  /** Short relational and temporal queries (`q*`/`t*`),
    * overhead-bound: construction jobs, planning and job launch. A
    * stratified sample of all 103: [[RankQueries]] ranks them by warm
    * latency at sf0.1; these sit at ranks 6, 32, 57 and 83 of 0–102
    * (README.md has the sample's profile beside the population's). */
  val OlapShort: Seq[String] = Seq("t14", "q16", "q42", "t12").map(fullName)

  /** LLM-data queries from the slow tail, none index-serving:
    * d13 is construction-bound (over 80 % of its time in jobs run while
    * the frame is built), e35 kernel-bound (executor time well above wall
    * time); m03 covers the multimodal module. */
  val LlmTail: Seq[String] = Seq("d13", "e35", "m03").map(fullName)

  lazy val registry: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
  def registryNames: Seq[String] = registry.keys.toSeq.sorted

  def fullName(prefix: String): String =
    registryNames.find(_.takeWhile(_ != '_') == prefix)
      .getOrElse(throw new IllegalArgumentException(s"no registry query $prefix"))

  private lazy val modules: Map[String, String] = Seq(
    "operators" -> (graft.operators.Relational.defs ++ graft.operators.Temporal.defs),
    "ext.TextOps" -> graft.ext.TextOps.defs,
    "ext.VectorOps" -> graft.ext.VectorOps.defs,
    "ext.Multimodal" -> graft.ext.Multimodal.defs,
    "ext.TextIndex" -> graft.ext.TextIndex.defs,
    "ext.RetrievalIndex" -> graft.ext.RetrievalIndex.defs,
    "ext.VectorIndex" -> graft.ext.VectorIndex.defs)
    .flatMap { case (m, ds) => ds.map(_.name -> m) }.toMap

  def moduleOf(name: String): String = modules.getOrElse(name, "other")

  /** Optimizer and physical-planning time of `df`'s action, read from its
    * `QueryPlanningTracker`: the phases that started at or after the
    * action began (analysis ran while the frame was built). */
  def planSeconds(df: DataFrame, actionStartMs: Long): Double =
    df.queryExecution.tracker.phases.values
      .filter(_.startTimeMs >= actionStartMs)
      .map(_.durationMs).sum / 1e3
}
