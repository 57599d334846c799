package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event

/** The stream half of `analytics`: the `events` table, ts-ordered and
  * cut at seeded points into micro-batches, replayed through the five stateful
  * `StreamOps` pipelines `graft.Bench` times (watermarked tumbling
  * aggregate, session windows, watermark dedup, CUSUM monitor, decayed
  * trending users) under the RocksDB state store. Set-up feeds the first
  * micro-batch untimed; one round then feeds the next micro-batch to
  * every pipeline, and each pipeline's batch is one operation.
  *
  * Output check: after the measured phase, the tumbling and session
  * results must equal the same `StreamOps` functions run as batch queries
  * over the replayed prefix, and the dedup output must hold every replayed
  * event exactly once.
  */
class StreamMonitors extends Workload {
  import StreamMonitors._

  private var batches: Seq[Seq[Event]] = Nil
  private var inputs: Map[String, MemoryStream[Event]] = Map.empty
  private var queries: Seq[(String, StreamingQuery)] = Nil
  private val seen = mutable.Map.empty[String, Long].withDefaultValue(-1L)
  private var next = 0

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val data = graft.Tables.events(spark, ctx.data.toString)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    // seeded cut points: batch sizes uniform in [0.9·Batch, 1.1·Batch), so
    // every run feeds about as many events
    val rng = new scala.util.Random(ctx.seed)
    val cuts = Iterator.iterate(0)(_ + Batch * 9 / 10 + rng.nextInt(Batch / 5))
      .takeWhile(_ < data.length).toSeq :+ data.length
    batches = cuts.sliding(2).map { case Seq(a, b) => data.slice(a, b) }.toSeq
    // per-type mean hourly count: the CUSUM in-control target
    val mu = data.groupBy(_.event_type).map { case (et, es) =>
      et -> es.size.toDouble / es.map(_.ts.getTime / 3600000L).distinct.size
    }
    val ckpt = ctx.work.resolve("stream-checkpoints")
    def start(name: String, df: DataFrame, mode: String): (String, StreamingQuery) =
      name -> df.writeStream.format("memory").queryName(s"sm_$name").outputMode(mode)
        .option("checkpointLocation", ckpt.resolve(name).toString).start()
    inputs = Pipelines.map(p => p -> MemoryStream[Event]).toMap
    queries = ctx.step("stream pipelines start")(Seq(
      start("tumble", StreamOps.tumblingHourly(inputs("tumble").toDF()), "complete"),
      start("session", StreamOps.userSessionWindows(inputs("session").toDF()), "complete"),
      start("dedup", StreamOps.dedupEvents(inputs("dedup").toDF()), "append"),
      start("cusum", StreamOps.cusumStream(inputs("cusum").toDS(), mu).toDF(), "append"),
      start("trend", StreamOps.trendingUsersStream(inputs("trend").toDS()).toDF(), "append")))
    // the first micro-batch of each pipeline plans and compiles its
    // stateful operators: untimed, so every measured round is warm
    ctx.step("warm-up batch")(round(ctx, -1))
  }

  def round(ctx: Ctx, i: Int): Seq[Op] = {
    if (next >= batches.size) return Nil
    val b = batches(next)
    next += 1
    val tr = ctx.tracer
    queries.map { case (name, q) =>
      val op = tr.open("op", name, Module)
      val t0 = System.nanoTime()
      tr.span("phase", "exec", Module) { s =>
        inputs(name).addData(b)
        q.processAllAvailable()
        val done = q.recentProgress.map(_.batchId).filter(_ > seen(name))
        tr.bindBatches(q.id.toString, done.toSeq, s)
        if (done.nonEmpty) seen(name) = done.max
      }
      tr.close(op)
      Op("batch", name, Module, (System.nanoTime() - t0) / 1e9, ok = true, rows = b.size)
    }
  }

  override def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val fed = spark.createDataset(batches.take(next).flatten).toDF()
    def digest(df: DataFrame) = Digest.of(df.columns.toSeq, df.collect())
    Seq("tumble" -> StreamOps.tumblingHourly(fed),
        "session" -> StreamOps.userSessionWindows(fed)).collect {
      case (n, batch) if digest(spark.table(s"sm_$n")) != digest(batch) =>
        s"$n stream result differs from its batch form"
    } ++ {
      val d = spark.table("sm_dedup")
      if (d.count() != fed.count() || d.select("event_id").distinct().count() != fed.count())
        Seq("dedup output is not the replayed events exactly once") else Nil
    }
  }

  override def summary(ctx: Ctx): Seq[(String, String)] = Seq(
    "stream_batches_fed" -> next.toString)

  override def teardown(ctx: Ctx): Unit = queries.foreach(_._2.stop())
}

object StreamMonitors {
  val Module = "streaming.StreamOps"
  val Pipelines = Seq("tumble", "session", "dedup", "cusum", "trend")
  /** Mean micro-batch size in events. */
  val Batch = 1000
}
