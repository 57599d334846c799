package graft

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.plans.PlanAudit
import org.apache.spark.GraftSparkTestHooks.waitListenerBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** One pass over the whole registry, shared by every registry-wide test in
  * the JVM: QueriesSpec's per-query cases, SemanticsSpec's ANSI diff and
  * PlanSpec's plan sweeps read the same outcomes, so each query function
  * runs once per ANSI setting, not once per check.
  *
  * Per query, in name order:
  *  1. the shared frames and the cache manager are cleared (the runner
  *     owns cleanup: a frame one query persists must not serve a later
  *     query's subtree and make the outcomes registry-order-dependent);
  *  2. the function runs and its frame is collected with ANSI on, the
  *     mains' posture. A `QueryExecutionListener` records every execution
  *     this triggers — the jobs run while the frame is built (eager
  *     `localCheckpoint()`s, driver collects, iterative loops), whose
  *     scans a checkpoint truncates out of the final plan, and the final
  *     collect. Each is reduced to its [[PlanAudit]] findings and the
  *     plans are dropped;
  *  3. the function runs and collects again with ANSI off.
  *
  * The session's ANSI value is restored after each run. A query that
  * throws fails only the checks that read its outcome.
  *
  * Before the pass, the data dir's default index roots
  * (`<tmpdir>/graft-<family>/<dir slug>`, [[graft.ext.SegmentChain.tmpRoot]])
  * are deleted, so every index query takes the cold build path — the
  * regime Verify exercises — and its recorded scans do not depend on
  * what an earlier run left under the tmpdir.
  */
object RegistryRun {

  /** A query's result schema and rows, or what it threw. */
  type Result = Try[(StructType, Seq[Row])]

  final case class Outcome(
      ansiOn: Result, ansiOff: Result, findings: Seq[PlanAudit.Finding])

  private val Ansi = "spark.sql.ansi.enabled"
  private val runs =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Outcome]]()

  /** Every registry query's outcome on `dir`, computed on first request. */
  def of(spark: SparkSession, dir: String): Map[String, Outcome] =
    runs.computeIfAbsent(dir, _ => run(spark, dir))

  private def run(spark: SparkSession, dir: String): Map[String, Outcome] = {
    deleteIndexRoots(dir)
    val outcomes = SparkEntry.allQueries.sortBy(_.name).map { q =>
      clearCaches(spark)
      def result(): Result =
        // Throwable, not NonFatal: a StackOverflowError in planning is
        // this query's failure, not the whole registry's
        try {
          val df = q.fn(spark, dir)
          Success((df.schema, df.collect().toSeq))
        } catch { case e: Throwable => Failure(e) }
      val (on, findings) =
        SparkSpec.withConfs(spark, Ansi -> "true")(audited(spark)(result()))
      val off = SparkSpec.withConfs(spark, Ansi -> "false")(result())
      q.name -> Outcome(on, off, findings)
    }
    clearCaches(spark)
    outcomes.toMap
  }

  private def deleteIndexRoots(dir: String): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft-"))
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(graft.ext.SegmentChain.tmpRoot(f.getName, dir))))
  }

  private def clearCaches(spark: SparkSession): Unit = {
    graft.ext.TextOps.clearSharedFrames()
    graft.ext.VectorOps.clearSharedFrames()
    spark.sharedState.cacheManager.clearCache()
  }

  /** `body`'s value and the findings of every execution it triggered.
    * The listener bus is drained on both sides: before, so the previous
    * query's ANSI-off executions are not delivered to this listener;
    * after, so all of `body`'s are.
    */
  private def audited[A](spark: SparkSession)(body: => A)
      : (A, Seq[PlanAudit.Finding]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    waitListenerBus(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val r = body
      waitListenerBus(spark.sparkContext)
      // a failed execution may have no physical plan to audit
      (r, seen.asScala.toSeq.flatMap(qe => Try(PlanAudit.audit(qe.executedPlan)).getOrElse(Nil)))
    } finally spark.listenerManager.unregister(listener)
  }
}
