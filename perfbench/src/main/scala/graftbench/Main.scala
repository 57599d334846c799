package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload: a query, a sink micro-batch, a
  * probe, a fold or a stream micro-batch. `rows` is the result size of a
  * query or probe and the input size of a batch. */
final case class Op(kind: String, name: String, module: String, secs: Double,
    ok: Boolean, digest: String = "", rows: Long = -1, error: String = "") {
  def toJson: String = Json.obj(Seq(
    "kind" -> Json.str(kind), "name" -> Json.str(name),
    "module" -> Json.str(module), "secs" -> Json.num(secs),
    "ok" -> ok.toString, "digest" -> Json.str(digest), "rows" -> rows.toString,
    "error" -> Json.str(error)))
}

/** What a workload needs from the run: the session, its inputs and the
  * tracer. `work` is a scratch directory private to this run; `steps`
  * collects the set-up steps timed with [[Ctx.step]]. */
final case class Ctx(spark: SparkSession, data: Path, work: Path, seed: Long,
    tracer: Tracer, steps: mutable.ArrayBuffer[(String, Double)] = mutable.ArrayBuffer.empty) {
  def step[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally steps += name -> (System.nanoTime() - t0) / 1e9
  }
}

/** A closed-loop workload. `setup` prepares inputs and warms up (untimed);
  * each `round` runs one unit of repetition and returns its timed
  * operations; `check` verifies end state after the measured phase (each
  * string is one problem); `summary` adds workload-specific figures. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def round(ctx: Ctx, i: Int): Seq[Op]
  def check(ctx: Ctx): Seq[String] = Nil
  def summary(ctx: Ctx): Seq[(String, String)] = Nil
  def teardown(ctx: Ctx): Unit = ()
}

/** Two workloads run as one: set up one after the other, and each round
  * is a round of each. */
final class Both(a: Workload, b: Workload) extends Workload {
  def setup(ctx: Ctx): Unit = { a.setup(ctx); b.setup(ctx) }
  def round(ctx: Ctx, i: Int): Seq[Op] = a.round(ctx, i) ++ b.round(ctx, i)
  override def check(ctx: Ctx): Seq[String] = a.check(ctx) ++ b.check(ctx)
  override def summary(ctx: Ctx): Seq[(String, String)] = a.summary(ctx) ++ b.summary(ctx)
  override def teardown(ctx: Ctx): Unit = { a.teardown(ctx); b.teardown(ctx) }
}

/** Benchmark JVM entry point. Run by `run.py`, which generates the inputs,
  * checks the digests and computes the metrics; this side only measures.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --data <dir> --work <dir> --out <dir>
  * }}}
  * Writes `<out>/result.json` (and `<out>/spans.jsonl` when traced).
  */
object Main {

  def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  /** Spark's `local[N]`: every core up to four, the size the workloads
    * were sized on. */
  val Cpus: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def workload(name: String): Workload = name match {
    case "analytics" =>
      new Both(new QueryWorkload(QueryWorkload.OlapShort ++ QueryWorkload.LlmTail),
        new StreamMonitors)
    case "index-churn" => new IndexChurn
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The host floor probe `graft.Bench` uses: no IO, pure codegen and
    * scheduling. Min of three, so one stall does not read as a slow host. */
  def floorProbe(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(2000000L).selectExpr("sum(id) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  /** Host speed reference: `Cpus` threads each fill 2^20 longs from a
    * xorshift generator and sort them; the mean CPU seconds of a thread,
    * three times. Plain JVM code, no Spark, so no change to the engine can
    * move it, while a host whose cores are shared with busy neighbours
    * slows it as it slows the engine (see README.md, "Steadiness"). */
  def reference(): Seq[Double] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    def once(): Double = {
      val cpu = new java.util.concurrent.atomic.AtomicLong
      val ts = (0 until Cpus).map { k =>
        new Thread(() => {
          val c0 = mx.getCurrentThreadCpuTime
          val a = new Array[Long](1 << 20)
          var i = 0
          var x = 0x9E3779B97F4A7C15L + k
          while (i < a.length) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            a(i) = x
            i += 1
          }
          java.util.Arrays.sort(a)
          cpu.addAndGet(mx.getCurrentThreadCpuTime - c0)
        })
      }
      ts.foreach(_.start())
      ts.foreach(_.join())
      cpu.get / 1e9 / Cpus
    }
    (1 to 3).map(_ => once())
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val name = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val wl = workload(name)

    reference() // compiles it
    val refs = mutable.ArrayBuffer(reference(): _*)
    val tb = System.nanoTime()
    val spark = graft.GraftSession.local("graftbench", Cpus)
    val buildS = (System.nanoTime() - tb) / 1e9
    val floorBefore = floorProbe(spark)

    val ctx = Ctx(spark, Paths.get(a("data")), Paths.get(a("work")),
      a("seed").toLong, Tracer.off)
    val ts = System.nanoTime()
    wl.setup(ctx)
    // set-up as the engine sees it: session build, inputs read, base
    // indexes built, warm-up; JVM start and input generation excluded
    val setupS = buildS + (System.nanoTime() - ts) / 1e9
    refs ++= reference()

    def measure(c: Ctx, budget: Double, firstRound: Int)
        : (Seq[Op], Seq[Double], Double) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val rounds = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var i = firstRound
      var more = true
      while (more && (rounds.isEmpty || elapsed < budget)) {
        val r0 = System.nanoTime()
        val r = wl.round(c, i)
        // a workload that has used up its inputs returns no operations
        more = r.nonEmpty
        if (more) {
          ops ++= r
          rounds += (System.nanoTime() - r0) / 1e9
        }
        i += 1
      }
      (ops.toSeq, rounds.toSeq, elapsed)
    }

    // Whole rounds until the time is up, at least one.
    // Traced runs measure the first half of the time untraced, then the
    // second half traced, so the tracing overhead comes out of one run.
    val watch = new RunWatch
    val (ops, rounds, measured) = measure(ctx, if (traced) seconds / 2 else seconds, 0)
    val (peakHeapMb, cpuS) = watch.stop()
    val tracedPart = if (traced) {
      val tracer = new Tracer(true)
      tracer.install(spark)
      val tctx = ctx.copy(tracer = tracer)
      val root = tracer.open("workload", name)
      val r = measure(tctx, seconds / 2, rounds.size)
      tracer.close(root)
      tracer.finish()
      tracer.writeJsonLines(out.resolve("spans.jsonl"))
      Some(r)
    } else None
    refs ++= reference()
    val floorAfter = floorProbe(spark)
    val problems = wl.check(ctx)
    val extra = wl.summary(ctx)
    wl.teardown(ctx)

    def opsJson(xs: Seq[Op]) = Json.arr(xs.map(_.toJson))
    def roundsJson(xs: Seq[Double]) = Json.arr(xs.map(Json.num))
    val fields = Seq(
      "workload" -> Json.str(name), "seed" -> a("seed"), "cpus" -> Cpus.toString,
      "traced" -> traced.toString,
      "setup_s" -> Json.num(setupS),
      "session_build_s" -> Json.num(buildS),
      "setup_steps" -> Json.obj(ctx.steps.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "reference_s" -> Json.arr(refs.toSeq.map(Json.num)),
      "floor_before_s" -> Json.num(floorBefore),
      "floor_after_s" -> Json.num(floorAfter),
      "measured_s" -> Json.num(measured),
      "cpu_s" -> Json.num(cpuS),
      "peak_heap_mb" -> Json.num(peakHeapMb),
      "ops" -> opsJson(ops), "rounds" -> roundsJson(rounds)) ++
      tracedPart.toSeq.flatMap { case (tops, trounds, tmeasured) => Seq(
        "traced_ops" -> opsJson(tops), "traced_rounds" -> roundsJson(trounds),
        "traced_measured_s" -> Json.num(tmeasured)) } ++
      Seq("check_problems" -> Json.arr(problems.map(Json.str))) ++ extra
    Files.write(out.resolve("result.json"), (Json.obj(fields) + "\n").getBytes(UTF_8))
    spark.stop()
  }
}

/** Samples the JVM every 50 ms while a workload is measured: the peak
  * heap in use right after a collection (live data; the heap has a fixed
  * size, so plain used heap only tracks when the collector runs), and the
  * CPU time of every Java thread (driver, task and stream threads). GC
  * and JIT-compiler threads are not Java threads and are left out, so
  * warm-up compilation and collection timing do not move the CPU figure;
  * a thread that ends loses at most one interval. */
final class RunWatch {
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val base = mutable.Map.empty[Long, Long]
  private val last = mutable.Map.empty[Long, Long]
  @volatile private var peak = 0L
  @volatile private var running = true
  System.gc()
  threads.getAllThreadIds.foreach(id => base(id) = math.max(0L, threads.getThreadCpuTime(id)))
  private val t = new Thread(() => while (running) { sample(); Thread.sleep(50) })
  t.setDaemon(true)
  t.start()

  private def sample(): Unit = synchronized {
    peak = math.max(peak, heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
    threads.getAllThreadIds.foreach { id =>
      if (id != t.getId) {
        val c = threads.getThreadCpuTime(id)
        if (c >= 0) last(id) = c
      }
    }
  }

  /** Stops sampling; returns (peak heap MB, thread CPU seconds). */
  def stop(): (Double, Double) = {
    running = false
    t.join()
    sample()
    val cpu = last.map { case (id, c) => c - base.getOrElse(id, 0L) }.sum
    (peak / (1024.0 * 1024.0), cpu / 1e9)
  }
}
