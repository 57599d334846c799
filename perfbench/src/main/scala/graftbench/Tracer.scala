package graftbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One node of the traced run's span tree: workload → operation → phase
  * (construct, plan, exec, commit, probe, resolve) → Spark job → stage.
  * Times are epoch seconds; `attrs` carries the stage metrics summed over
  * its tasks, or a phase's own counters.
  */
final class Span(val id: Long, val parent: Long, val kind: String,
    val name: String, val module: String, val start: Double) {
  var end: Double = start
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty

  def add(k: String, v: Double): Unit = attrs(k) = attrs.getOrElse(k, 0.0) + v

  def toJson: String = {
    val a = attrs.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
      .mkString("{", ",", "}")
    s"""{"id":$id,"parent":$parent,"kind":${Json.str(kind)},"name":${Json.str(name)},""" +
      s""""module":${Json.str(module)},"start":${Json.num(start)},"end":${Json.num(end)},"attrs":$a}"""
  }
}

/** Span recorder for the traced run. Untraced runs use [[Tracer.off]],
  * whose calls run the body and record nothing.
  *
  * Attribution never uses wall-clock windows. Before a phase runs, the
  * span id goes into a Spark local property, which the scheduler copies
  * into every job the driver thread submits. Jobs a streaming query runs
  * on its own thread carry the query id and batch id instead; the driver
  * thread binds each completed batch id to the phase that fed it (see
  * [[bindBatches]]). Events are resolved to spans only in [[finish]],
  * after the listener bus has been drained, so late delivery is harmless.
  */
class Tracer(val enabled: Boolean) {
  import Tracer._

  private val t0Epoch = System.currentTimeMillis() / 1e3
  private val t0Nano = System.nanoTime()
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nano) / 1e9

  private var nextId = 1L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val batchSpan = mutable.Map.empty[(String, Long), Long]

  private val listener = new Listener
  private var session: Option[SparkSession] = None

  def install(spark: SparkSession): Unit = if (enabled) {
    session = Some(spark)
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(listener.streams)
  }

  def open(kind: String, name: String, module: String = ""): Span = {
    val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L),
      kind, name, module, now())
    nextId += 1
    if (enabled) spans += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.end = now()
    stack = stack.dropWhile(_ ne s).drop(1)
  }

  /** Run `body` inside a span whose id tags every job the calling thread
    * submits; the previous tag is restored afterwards. */
  def span[T](kind: String, name: String, module: String = "")(body: Span => T): T = {
    val s = open(kind, name, module)
    val sc = session.map(_.sparkContext)
    val prev = sc.map(_.getLocalProperty(SpanProperty))
    sc.foreach(_.setLocalProperty(SpanProperty, s.id.toString))
    try body(s)
    finally {
      close(s)
      sc.foreach(_.setLocalProperty(SpanProperty, prev.orNull))
    }
  }

  /** Bind streaming batches `batchIds` of query `queryId` to span `s`. */
  def bindBatches(queryId: String, batchIds: Iterable[Long], s: Span): Unit =
    if (enabled) batchIds.foreach(b => batchSpan((queryId, b)) = s.id)

  /** Drain the listener bus and hang every recorded job, stage and
    * streaming progress under the span it belongs to. */
  def finish(): Unit = session.foreach { spark =>
    GraftBenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(listener.streams)
    val byId = spans.map(s => s.id -> s).toMap
    def owner(k: Key): Option[Span] = (k match {
      case SpanKey(id) => Some(id)
      case BatchKey(q, b) => batchSpan.get((q, b))
    }).flatMap(byId.get)
    val stageOwner = mutable.Map.empty[Int, Span]
    listener.jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      owner(j.key).foreach { p =>
        val js = new Span(nextId, p.id, "job", s"job ${j.jobId}", p.module, j.start)
        nextId += 1
        js.end = if (j.end > 0) j.end else j.start
        spans += js
        if (j.tablesSite) js.attrs("tables_site") = 1
        j.stageIds.foreach(st => stageOwner(st) = js)
      }
    }
    listener.stages.asScala.toSeq.sortBy(_._1).foreach { case ((stageId, attempt), st) =>
      stageOwner.get(stageId).foreach { js =>
        val ss = new Span(nextId, js.id, "stage", s"stage $stageId.$attempt",
          js.module, st.submitted)
        nextId += 1
        ss.end = math.max(st.completed, st.submitted)
        st.metrics.foreach { case (k, v) => ss.add(k, v) }
        if (st.firstLaunch > 0) ss.add("task_wait_s", st.firstLaunch - st.submitted)
        spans += ss
      }
    }
    listener.progress.asScala.foreach { case ((q, b), m) =>
      batchSpan.get((q, b)).flatMap(byId.get).foreach { p =>
        m.foreach { case (k, v) => p.add(k, v) }
      }
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s => w.write(s.toJson); w.write('\n') }
    finally w.close()
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
  def off: Tracer = new Tracer(false)

  sealed trait Key
  final case class SpanKey(id: Long) extends Key
  final case class BatchKey(queryId: String, batchId: Long) extends Key

  final case class JobRec(jobId: Int, key: Key, start: Double,
      stageIds: Seq[Int], tablesSite: Boolean) { @volatile var end: Double = 0 }

  final class StageRec(var submitted: Double) {
    var completed: Double = 0
    var firstLaunch: Double = 0
    val metrics: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
    def add(k: String, v: Double): Unit = metrics(k) = metrics.getOrElse(k, 0.0) + v
  }

  private def keyOf(p: Properties): Option[Key] = Option(p).flatMap { p =>
    val q = p.getProperty("sql.streaming.queryId")
    val b = p.getProperty("streaming.sql.batchId")
    if (q != null && b != null) Some(BatchKey(q, b.toLong))
    else Option(p.getProperty(SpanProperty)).map(id => SpanKey(id.toLong))
  }

  private val MB = 1024.0 * 1024.0

  /** Records raw scheduler and streaming events; [[Tracer.finish]]
    * resolves them. Events of untagged jobs are dropped on arrival. */
  final class Listener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]
    val stages = new ConcurrentHashMap[(Int, Int), StageRec]
    val progress = new ConcurrentHashMap[(String, Long), Map[String, Double]]
    private val tracked = ConcurrentHashMap.newKeySet[Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      keyOf(e.properties).foreach { k =>
        // a job launched from graft.Tables carries it in its call-site trace
        val site = e.stageInfos.exists(_.details.contains("graft.Tables$"))
        jobs.put(e.jobId, JobRec(e.jobId, k, e.time / 1e3, e.stageIds, site))
        e.stageIds.foreach(s => tracked.add(s))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time / 1e3)

    private def stage(id: Int, attempt: Int): Option[StageRec] =
      if (!tracked.contains(id)) None
      else Some(stages.computeIfAbsent((id, attempt), _ => new StageRec(0)))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stage(e.stageInfo.stageId, e.stageInfo.attemptNumber()).foreach { s =>
        s.submitted = e.stageInfo.submissionTime.getOrElse(0L) / 1e3
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stage(e.stageInfo.stageId, e.stageInfo.attemptNumber()).foreach { s =>
        s.completed = e.stageInfo.completionTime.getOrElse(0L) / 1e3
        if (s.submitted == 0) s.submitted = e.stageInfo.submissionTime.getOrElse(0L) / 1e3
      }

    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      stage(e.stageId, e.stageAttemptId).foreach { s =>
        val t = e.taskInfo.launchTime / 1e3
        s.synchronized { if (s.firstLaunch == 0 || t < s.firstLaunch) s.firstLaunch = t }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stage(e.stageId, e.stageAttemptId).foreach { s => s.synchronized {
        s.add("tasks", 1)
        if (e.reason != Success) s.add("failed_tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          s.add("executor_run_s", m.executorRunTime / 1e3)
          s.add("executor_cpu_s", m.executorCpuTime / 1e9)
          s.add("gc_s", m.jvmGCTime / 1e3)
          s.add("input_mb", m.inputMetrics.bytesRead / MB)
          s.add("records_read", m.inputMetrics.recordsRead.toDouble)
          s.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
          s.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
          s.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
        }
      }}

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => s"${k}_s" -> v.doubleValue / 1e3 }
        val ops = p.stateOperators
        val m = Map(
          "trigger_s" -> d.getOrElse("triggerExecution_s", 0.0),
          "addBatch_s" -> d.getOrElse("addBatch_s", 0.0),
          "queryPlanning_s" -> d.getOrElse("queryPlanning_s", 0.0),
          "walCommit_s" -> d.getOrElse("walCommit_s", 0.0),
          "commitOffsets_s" -> d.getOrElse("commitOffsets_s", 0.0),
          "input_rows" -> p.numInputRows.toDouble,
          "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
          "state_mb" -> ops.map(_.memoryUsedBytes).sum / MB,
          "rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
        progress.put((p.id.toString, p.batchId), m)
      }
    }
  }
}
