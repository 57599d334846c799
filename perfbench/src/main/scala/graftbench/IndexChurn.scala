package graftbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.ext.{RetrievalIndex, TextIndex, VectorIndex}

/** `index-churn`: writes beside reads on the three index families.
  *
  * Set-up reads the fixed base (about 80 % of the corpus, written by
  * `run.py`) and the held-out rows, builds each family's committed index
  * over the base and starts the public maintenance sinks on in-memory
  * streams. One round
  * then streams the next micro-batch of held-out rows through
  * `VectorIndex.indexAppendSink`, `RetrievalIndex.indexAppendSink` and
  * `TextIndex.admissionSink`, forgets part of that batch again through
  * `RetrievalIndex.indexForgetSink`, runs one seeded probe per family
  * through the serve functions, and folds every family with
  * `compactIndex`: the commits grow each chain, the probes read the grown
  * chain, the fold collapses it.
  *
  * Output check: after the measured phase the live id sets of the vector
  * and retrieval indexes must equal base ∪ appended ∖ forgotten, every
  * probe may only return live ids, and every admitted text-index document
  * must be a base or streamed id.
  */
class IndexChurn extends Workload {
  import IndexChurn._

  private var rng: scala.util.Random = _
  private var dataDir: String = _
  private var roots: Map[String, String] = Map.empty
  private var docBatches: Seq[Seq[DocRow]] = Nil
  private var vecBatches: Seq[Seq[VecRow]] = Nil
  private var vecIn: MemoryStream[VecRow] = _
  private var docIn: MemoryStream[DocRow] = _
  private var forgetIn: MemoryStream[DocRow] = _
  private var admitIn: MemoryStream[DocRow] = _
  private var queries: Map[String, StreamingQuery] = Map.empty
  private val seenBatches = mutable.Map.empty[String, Long].withDefaultValue(-1L)
  private var baseVecIds: Set[Long] = Set.empty
  private var baseDocIds: Set[Long] = Set.empty
  private var docIds: IndexedSeq[Long] = IndexedSeq.empty
  private val appendedVec = mutable.Set.empty[Long]
  private val appendedDoc = mutable.Set.empty[Long]
  private val forgotten = mutable.Set.empty[Long]
  private val badProbes = mutable.ArrayBuffer.empty[String]
  private var next = 0

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    rng = new scala.util.Random(ctx.seed)
    dataDir = ctx.data.toString
    // run.py writes the base share of documents/embeddings to base/; the
    // held-out rest streams in seeded order
    val baseDir = ctx.data.resolve("base").toString
    val docs = graft.Tables.documents(spark, dataDir)
    val (heldDocs, heldVecs) = ctx.step("index-churn inputs") {
      baseDocIds = graft.Tables.documents(spark, baseDir).select("doc_id").as[Long].collect().toSet
      baseVecIds = graft.Tables.embeddings(spark, baseDir).select("vec_id").as[Long].collect().toSet
      (rng.shuffle(docs.select("doc_id", "text").as[DocRow].collect()
        .filterNot(d => baseDocIds(d.doc_id)).toSeq),
       rng.shuffle(graft.Tables.embeddings(spark, dataDir)
        .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
        .as[VecRow].collect().filterNot(v => baseVecIds(v.vec_id)).toSeq))
    }
    docIds = (baseDocIds ++ heldDocs.map(_.doc_id)).toIndexedSeq.sorted
    docBatches = heldDocs.grouped(DocBatch).toSeq
    vecBatches = heldVecs.grouped(VecBatch).toSeq

    roots = Map(
      "ext.VectorIndex" -> ctx.work.resolve("vector-index").toString,
      "ext.RetrievalIndex" -> RetrievalIndex.defaultRoot(baseDir),
      "ext.TextIndex" -> TextIndex.defaultRoot(baseDir))
    // base builds through the public entry points: the vector build, and
    // the first-touch builds of the retrieval and text registry serves
    ctx.step("ext.VectorIndex base")(
      VectorIndex.buildIndex(spark, baseDir, roots("ext.VectorIndex")))
    ctx.step("ext.RetrievalIndex base")(
      RetrievalIndex.bm25IndexServed(spark, baseDir).collect())
    ctx.step("ext.TextIndex base")(TextIndex.indexNearDedup(spark, baseDir).collect())

    vecIn = MemoryStream[VecRow]
    docIn = MemoryStream[DocRow]
    forgetIn = MemoryStream[DocRow]
    admitIn = MemoryStream[DocRow]
    val ckpt = ctx.work.resolve("checkpoints")
    def start(name: String, w: DataStreamWriter[Row]) =
      name -> w.option("checkpointLocation", ckpt.resolve(name).toString).start()
    val primary = docs.select("doc_id", "text")
    queries = ctx.step("index sinks start")(Map(
      start("vector-append", VectorIndex.indexAppendSink(vecIn.toDF(), roots("ext.VectorIndex"))),
      start("bm25-append", RetrievalIndex.indexAppendSink(docIn.toDF(), roots("ext.RetrievalIndex"))),
      start("bm25-forget", RetrievalIndex.indexForgetSink(forgetIn.toDF(), roots("ext.RetrievalIndex"))),
      start("text-admit", TextIndex.admissionSink(admitIn.toDF(), primary, roots("ext.TextIndex")))))
  }

  /** Feed one micro-batch to a sink and wait until it is committed. */
  private def commit[T](ctx: Ctx, sink: String, module: String,
      in: MemoryStream[T], rows: Seq[T]): Op = {
    val tr = ctx.tracer
    val q = queries(sink)
    val root = roots(module)
    val before = if (tr.enabled) files(root) else Map.empty[String, Long]
    val op = tr.open("op", sink, module)
    val t0 = System.nanoTime()
    tr.span("phase", "commit", module) { s =>
      in.addData(rows)
      q.processAllAvailable()
      val done = q.recentProgress.map(_.batchId).filter(_ > seenBatches(sink))
      tr.bindBatches(q.id.toString, done.toSeq, s)
      if (done.nonEmpty) seenBatches(sink) = done.max
      if (tr.enabled) {
        val after = files(root)
        s.attrs("bytes_written_mb") =
          after.filter { case (f, _) => !before.contains(f) }.values.sum / MB
        s.attrs("input_rows") = rows.size
      }
    }
    tr.close(op)
    Op("commit", sink, module, (System.nanoTime() - t0) / 1e9, ok = true, rows = rows.size)
  }

  private def timed(ctx: Ctx, kind: String, module: String)(body: => Long): Op = {
    val tr = ctx.tracer
    val op = tr.open("op", kind, module)
    val t0 = System.nanoTime()
    val n = try body finally tr.close(op)
    Op(kind, kind, module, (System.nanoTime() - t0) / 1e9, ok = true, rows = n)
  }

  /** One probe: resolve the live version and open its frames, then serve
    * a seeded query and collect it. */
  private def probe(ctx: Ctx, module: String): Op = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val root = roots(module)
    val terms = rng.shuffle(Vocab).take(3)
    val op = timed(ctx, "probe", module) {
      tr.span("phase", "resolve", module) { _ =>
        module match {
          case "ext.VectorIndex" => VectorIndex.latestVersion(spark, root); VectorIndex.loadCodes(spark, root)
          case "ext.RetrievalIndex" => RetrievalIndex.latestVersion(spark, root); RetrievalIndex.loadPostings(spark, root)
          case _ => TextIndex.latestVersion(spark, root); TextIndex.loadPostings(spark, root)
        }
      }
      val rows = tr.span("phase", "probe", module) { s =>
        val df: DataFrame = module match {
          case "ext.VectorIndex" =>
            VectorIndex.serveIvfPqKnnBatch(spark, dataDir, root, nQueries = 8, k = 5)
          case "ext.RetrievalIndex" =>
            RetrievalIndex.serveBm25Daat(spark, root, terms, k = 10)
          case _ =>
            val ids = Seq.fill(8)(docIds(rng.nextInt(docIds.size)))
            TextIndex.loadPostings(spark, root).filter(col("doc_id").isin(ids: _*))
        }
        val r = df.collect()
        s.attrs("result_rows") = r.length
        r
      }
      checkProbe(module, rows)
      rows.length.toLong
    }
    op
  }

  private def checkProbe(module: String, rows: Array[Row]): Unit = module match {
    case "ext.VectorIndex" =>
      val live = baseVecIds ++ appendedVec
      val ids = rows.map(r => r.getAs[Long]("vec_id"))
      if (!ids.forall(live.contains)) badProbes += s"$module returned a non-live vec_id"
    case "ext.RetrievalIndex" =>
      val live = (baseDocIds ++ appendedDoc) -- forgotten
      val ids = rows.map(r => r.getAs[Long]("doc_id"))
      if (!ids.forall(live.contains)) badProbes += s"$module returned a non-live doc_id"
    case _ =>
  }

  def round(ctx: Ctx, i: Int): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val families = Seq("ext.VectorIndex", "ext.RetrievalIndex", "ext.TextIndex")
    val fresh = next < docBatches.size && next < vecBatches.size
    if (fresh) {
      val docs = docBatches(next)
      val vecs = vecBatches(next)
      ops += commit(ctx, "vector-append", "ext.VectorIndex", vecIn, vecs)
      appendedVec ++= vecs.map(_.vec_id)
      ops += commit(ctx, "bm25-append", "ext.RetrievalIndex", docIn, docs)
      appendedDoc ++= docs.map(_.doc_id)
      ops += commit(ctx, "text-admit", "ext.TextIndex", admitIn, docs)
      val gone = docs.take(ForgetBatch)
      ops += commit(ctx, "bm25-forget", "ext.RetrievalIndex", forgetIn, gone)
      forgotten ++= gone.map(_.doc_id)
      next += 1
    }
    // probes see the chain the commits grew; the folds then collapse it
    families.foreach { m =>
      (0 until ProbesPerRound).foreach(_ => ops += probe(ctx, m))
      if (ctx.tracer.enabled) ctx.tracer.span("gauge", "chain", m) { s =>
        val (depth, mb) = chain(roots(m))
        s.attrs("chain_depth") = depth
        s.attrs("disk_mb") = mb
      }
    }
    if (fresh) Seq(
      "ext.VectorIndex" -> (() => VectorIndex.compactIndex(ctx.spark, roots("ext.VectorIndex"))),
      "ext.RetrievalIndex" -> (() => RetrievalIndex.compactIndex(ctx.spark, roots("ext.RetrievalIndex"))),
      "ext.TextIndex" -> (() => TextIndex.compactIndex(ctx.spark, roots("ext.TextIndex"))))
      .foreach { case (m, f) =>
        ops += timed(ctx, "compact", m) {
          ctx.tracer.span("phase", "compact", m)(_ => f()); 0L
        }
      }
    ops.toSeq
  }

  override def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    import spark.implicits._
    val vLive = VectorIndex.loadCodes(spark, roots("ext.VectorIndex"))
      .select("vec_id").as[Long].collect().toSet
    val rLive = RetrievalIndex.liveDocIds(spark, roots("ext.RetrievalIndex"))
      .select("doc_id").as[Long].collect().toSet
    val tIds = TextIndex.loadPostings(spark, roots("ext.TextIndex"))
      .select("doc_id").distinct().as[Long].collect().toSet
    badProbes.toSeq ++
      (if (vLive != baseVecIds ++ appendedVec) Seq("vector index live set differs") else Nil) ++
      (if (rLive != (baseDocIds ++ appendedDoc) -- forgotten) Seq("retrieval index live set differs") else Nil) ++
      (if (!tIds.subsetOf(baseDocIds ++ appendedDoc)) Seq("text index holds an unknown doc_id") else Nil)
  }

  override def summary(ctx: Ctx): Seq[(String, String)] = Seq(
    "index_disk_mb" -> Json.num(roots.values.map(r => files(r).values.sum).sum / MB),
    "index_batches_committed" -> next.toString)

  override def teardown(ctx: Ctx): Unit = queries.values.foreach(_.stop())
}

object IndexChurn {
  final case class DocRow(doc_id: Long, text: String)
  final case class VecRow(vec_id: Long, v: Seq[Double])

  val DocBatch = 20
  val VecBatch = 10
  val ForgetBatch = 5
  val ProbesPerRound = 1
  private val MB = 1024.0 * 1024.0

  /** The word list `datagen.py` draws documents from. */
  val Vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Every regular file under `root` with its size. */
  def files(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** (version directories on disk, MB on disk) of an index root. */
  def chain(root: String): (Double, Double) = {
    val p = java.nio.file.Paths.get(root)
    val versions = if (!Files.exists(p)) 0 else {
      val s = Files.list(p)
      try s.iterator.asScala.count(d => Files.isDirectory(d) &&
        d.getFileName.toString.matches("v[0-9]+"))
      finally s.close()
    }
    (versions.toDouble, files(root).values.sum / MB)
  }
}
