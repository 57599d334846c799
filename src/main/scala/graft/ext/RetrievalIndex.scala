package graft.ext

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 retrieval artifact — the text family's e46: d62
  * computes BM25 inline per query (the right correctness twin), but a
  * deployment serves ranked retrieval off a COMMITTED inverted index —
  * after dedup/filtering, retrieval over the training corpus is how
  * decontamination probes, data maps and eval-leak searches actually
  * run at 100 TB, and rebuilding tf/df/dl per query is what that
  * deployment rejects. (The reference persists its serving artifact
  * the same way — `streamlit_app.py:665` loads
  * data/models/next_hour_congestion.joblib at serve time, never
  * refit per request.)
  *
  * On-disk segments (committed, resolved and pruned by [[SegmentChain]]):
  *   - `v<n>/postings/tb=<b>/` — one (token, doc_id, tf, dl) row per
  *     distinct doc-token, HIVE-PARTITIONED BY TOKEN-HASH BUCKET (8
  *     dirs): a probe for given terms reads only their bucket
  *     directories (partition-pruned), with the term equality pushed
  *     into the parquet scan. `dl` is denormalized onto the posting row
  *     (Lucene's norms-with-postings layout) so scoring never joins a
  *     second corpus-sized table.
  *   - `v<n>/vocab/tb=<b>/` — (token, df): the document-frequency
  *     table, the index STATISTICS, partitioned by the SAME token-hash
  *     bucket as the postings so a keyed term lookup ([[resolveTerms]])
  *     is a bucket-pruned, term-pushed scan, never an O(vocab) pass.
  *     Maintained as SIGNED SEGMENTS: a base commit writes the full
  *     table, an append commits `vocab-delta/` with the batch's +df
  *     rows, a forget commits the forgotten docs' −df rows;
  *     [[loadVocab]] sums segments (df > 0) — so maintenance writes are
  *     O(batch vocabulary), never O(corpus vocabulary).
  *   - `v<n>/stats/` — (n_docs, sum_dl), same signed-segment
  *     discipline ([[loadStats]] sums to the live corpus size and
  *     total length — BM25's N and avgdl inputs).
  *   - `v<n>/postings-delta/` + `v<n>/tombstones` — O(batch) appends
  *     and metadata-only forgets under the chain rules [[SegmentChain]]
  *     states; [[compactIndex]] folds explicitly.
  *
  * Serve cost: the 8-term standard query reads ≤8 bucket directories
  * filtered to the query terms (df-bounded posting lists), joins a
  * broadcast 8-row term table and a broadcast 1-row stats table, and
  * ranks with a query_term-partitioned window — no corpus scan, no
  * global funnel. The one corpus-sized pass is the BUILD (one tokenize
  * + two map-side-combined aggregates), the cost serving amortizes.
  */
object RetrievalIndex {

  private val nBuckets = 8

  /** Postings chain: a base commits `postings` + `vocab` + `stats` +
    * `docs`, an append their `-delta` twins, a forget `tombstones` with
    * negative vocab/stats deltas ([[SegmentChain]]).
    */
  private val chain = new SegmentChain("postings")

  def defaultRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-bm25-index", dataDir)

  def defaultLifeRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-bm25-index-life", dataDir)

  /** (token, doc_id, tf, dl, positions, tb) of a (doc_id, text) frame —
    * d62's exact tokenization (split on single space; every downstream
    * number derives from this one explode) with the bucket key the
    * layout partitions by, PLUS the sorted 0-based position list per
    * doc-token (Lucene's positional-postings layout — what phrase and
    * proximity queries intersect; tf ≡ the list's length by
    * construction). Consumers that never touch positions pay nothing:
    * Catalyst prunes the column out of their scans.
    */
  private def postingsOf(docs: DataFrame): DataFrame = {
    val tf = docs
      .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, token)")
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    tf.join(dl, Seq("doc_id"))
      .selectExpr("token", "doc_id", "tf", "dl", "positions",
        s"pmod(xxhash64(token), $nBuckets) AS tb")
  }

  /** (token, df, tb) of a postings frame — one row per doc-token pair
    * means df is a plain count; tb is a pure function of the token
    * (grouping by both keeps the layout key without a recompute).
    */
  private def vocabOf(postings: DataFrame): DataFrame =
    postings.groupBy("token", "tb").agg(count(lit(1)).as("df"))
      .select("token", "df", "tb")

  /** (n_docs, sum_dl) of a postings frame. */
  private def statsOf(postings: DataFrame): DataFrame =
    postings.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))

  def latestVersion(s: SparkSession, root: String): Option[Long] =
    SegmentChain.latest(s, root)

  /** Write `postings` plus the vocab, stats and doc-id segments derived
    * from the just-WRITTEN postings into version directory `dir`, each
    * named with `suffix` ("" for a base, "-delta" for an append). The
    * statistics re-derive from the written files (a second pass over
    * the postings) so they always describe what the commit persisted.
    */
  private def writeSegments(s: SparkSession, dir: org.apache.hadoop.fs.Path,
      postings: DataFrame, suffix: String): Unit = {
    def seg(name: String) = new org.apache.hadoop.fs.Path(dir, name + suffix).toString
    postings.select("token", "doc_id", "tf", "dl", "positions", "tb")
      .write.mode("overwrite").partitionBy("tb").parquet(seg("postings"))
    val written = readPostingsDir(s, seg("postings"))
    vocabOf(written).write.mode("overwrite").partitionBy("tb")
      .parquet(seg("vocab"))
    statsOf(written).coalesce(1).write.mode("overwrite").parquet(seg("stats"))
    docIdsOf(written).sortWithinPartitions("doc_id")
      .write.mode("overwrite").partitionBy("db").parquet(seg("docs"))
  }

  /** Full (base) commit: postings + complete vocab, stats and docs. */
  private def commitBase(s: SparkSession, root: String, ver: Long,
      postings: DataFrame, stamp: (Long, String), retain: Int): Long =
    chain.commit(s, root, ver, stamp, retain)(writeSegments(s, _, postings, ""))

  private def postingsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("token", StringType),
      StructField("doc_id", LongType),
      StructField("tf", LongType),
      StructField("dl", LongType),
      StructField("positions", ArrayType(IntegerType)),
      StructField("tb", LongType)))
  }

  private def vocabSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("token", StringType),
      StructField("df", LongType),
      StructField("tb", LongType)))
  }

  private def readPostingsDir(s: SparkSession, path: String): DataFrame =
    s.read.schema(postingsSchema).parquet(path)

  /** The index format stamp prefix — bumped when the on-disk layout
    * changes (`.v`: bucketed vocab segments; `.p`: positional
    * postings; `.d`: the doc-id sidecar), so an ensure against an
    * older artifact rebuilds rather than misreads it.
    */
  private val FormatTag = "bm25.d"

  /** The doc-id SIDECAR's bucket count — deliberately larger than the
    * token-bucket count: the sidecar exists so an admission batch can
    * check novelty by reading only ITS ids' buckets, and that prune
    * only bites when a batch touches a minority of buckets. Rows are
    * bare ids (orders of magnitude under the postings), sorted within
    * partitions so row-group min/max stats prune id probes further.
    */
  private val nDocBuckets = 64

  private def docsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("db", LongType)))
  }

  /** The distinct doc ids of a postings frame, carrying the sidecar's
    * bucket key.
    */
  private def docIdsOf(postings: DataFrame): DataFrame =
    postings.select("doc_id").distinct()
      .selectExpr("doc_id", s"pmod(xxhash64(doc_id), $nDocBuckets) AS db")

  private[graft] def buildIndexFrom(docs: DataFrame, root: String,
      retain: Int = 2): Long = {
    val s = docs.sparkSession
    commitBase(s, root, SegmentChain.next(s, root), postingsOf(docs),
      (-3L, s"$FormatTag:${SegmentChain.fingerprint(docs, "doc_id")}"), retain)
  }

  /** Live postings: base ∖ tombstones ∪ deltas — [[TextIndex
    * .loadPostings]]'s resolution with the declared schema (the bucket
    * probe must reach the reader as a partition filter).
    */
  def loadPostings(s: SparkSession, root: String): DataFrame =
    livePostings(s, chain.resolve(s, root))

  private def livePostings(s: SparkSession, c: SegmentChain.Snapshot): DataFrame =
    c.unionLive(s, "doc_id", "postings", "postings-delta")(readPostingsDir(s, _))

  /** The live chain's signed vocab segments, unioned but NOT yet summed
    * — the single reader under [[loadVocab]] (full statistics) and
    * [[resolveTerms]] (keyed lookup): a filter on (tb, token) pushes
    * through the union into every segment scan, so both consumers get
    * partition pruning for free.
    */
  private def vocabSegments(s: SparkSession, c: SegmentChain.Snapshot): DataFrame =
    (c.dir(c.base, "vocab") +: c.deltas("vocab-delta"))
      .map(s.read.schema(vocabSchema).parquet(_))
      .reduce(_ unionByName _)

  /** The live document-frequency table: base `vocab/` plus every signed
    * `vocab-delta/` in the chain, summed (df > 0) — reading the FULL
    * index statistics costs O(vocab), never a postings scan. Serving a
    * known term set resolves by key instead — [[resolveTerms]].
    */
  def loadVocab(s: SparkSession, root: String): DataFrame =
    liveVocab(s, chain.resolve(s, root))

  private def liveVocab(s: SparkSession, c: SegmentChain.Snapshot): DataFrame =
    vocabSegments(s, c)
      .groupBy("token").agg(sum("df").as("df"))
      .filter(col("df") > 0)

  /** The terms' bucket literals, derived with the ENGINE's own layout
    * expression (pmod(xxhash64)) over a query-sized local relation — a
    * scala-side hash reimplementation could silently drift from what
    * the writer partitioned by.
    */
  private def termBuckets(s: SparkSession, terms: Seq[String]): Seq[Long] = {
    import s.implicits._
    terms.toDF("token")
      .selectExpr(s"pmod(xxhash64(token), $nBuckets) AS tb")
      .distinct().collect().map(_.getLong(0)).toSeq
  }

  /** KEYED term resolution: the live (token, df) rows for exactly
    * `terms`, read bucket-pruned and term-pushed from the signed vocab
    * segments — the per-query statistics lookup a serve path pays
    * (O(query terms) rows touched), in contrast to [[loadVocab]]'s
    * O(vocab) audit/derivation scan. Terms are LITERALS for the same
    * reason [[serveBm25TopK]]'s postings probe uses them: the bucket
    * set must reach every segment reader as a partition filter and the
    * token equality must push into the parquet scan.
    */
  def resolveTerms(s: SparkSession, root: String,
      terms: Seq[String]): DataFrame =
    termsAt(s, chain.resolve(s, root), terms)

  private def termsAt(s: SparkSession, c: SegmentChain.Snapshot,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "resolveTerms needs at least one term")
    vocabSegments(s, c)
      .filter(col("tb").isin(termBuckets(s, terms): _*))
      .filter(col("token").isin(terms: _*))
      .groupBy("token").agg(sum("df").as("df"))
      .filter(col("df") > 0)
  }

  /** Live (n_docs, sum_dl) — base `stats/` plus signed deltas. */
  def loadStats(s: SparkSession, root: String): DataFrame =
    liveStats(s, chain.resolve(s, root))

  private def liveStats(s: SparkSession, c: SegmentChain.Snapshot): DataFrame = {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("n_docs", LongType), StructField("sum_dl", LongType)))
    (c.dir(c.base, "stats") +: c.deltas("stats-delta"))
      .map(s.read.schema(sch).parquet(_))
      .reduce(_ unionByName _)
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
  }

  /** One incremental append commit: the batch's postings as an O(batch)
    * `postings-delta/` segment plus its +df vocab-delta and +stats
    * delta — maintenance IO scales with the batch, never the corpus.
    * Auto-folds once the chain is [[SegmentChain.AppendFoldThreshold]]
    * versions deep;
    * exactly-once by stamp. An EMPTY batch commits a marker-only
    * version carrying the stamp (no data dirs): the stamp is what
    * ensure paths and retries key on, so even a no-op batch must leave
    * one behind or every later ensure replays the whole chain.
    *
    * CONTRACT: the batch's doc_ids must be NEW to the index. The
    * postings/vocab/stats deltas are derived from the batch alone
    * (that is what makes the commit O(batch)), so re-appending a live
    * doc_id double-counts its postings, df and stats — callers that
    * cannot guarantee novelty must forget the ids first
    * ([[forgetDocs]]) or gate through a dedup admission (the
    * [[TextIndex.admitBatch]] arrangement).
    */
  private[graft] def appendDocs(batch: DataFrame, root: String,
      batchId: Long, incarnationId: String, retain: Int = 2): Long = {
    val s = batch.sparkSession
    val c = chain.resolve(s, root)
    val stamp = (batchId, incarnationId)
    if (SegmentChain.isRetry(s, root, c.live, stamp)) c.live
    else appendAt(s, c, batch, stamp, retain)
  }

  /** [[appendDocs]] past its retry check, on the resolved chain `c`. */
  private def appendAt(s: SparkSession, c: SegmentChain.Snapshot,
      batch: DataFrame, stamp: (Long, String), retain: Int): Long =
    if (batch.isEmpty)
      // marker-only commit: records the stamp (exactly-once + ensure
      // keys) without writing data dirs — readers resolve through it
      chain.commit(s, c.root, c.live + 1, stamp, retain)(_ => ())
    else if (c.shouldFold)
      commitBase(s, c.root, c.live + 1,
        livePostings(s, c).unionByName(postingsOf(batch)), stamp, retain)
    else
      chain.commit(s, c.root, c.live + 1, stamp, retain)(
        writeSegments(s, _, postingsOf(batch), "-delta"))

  /** Forget documents: on a clean base a METADATA-ONLY commit whose
    * READ is O(forgotten) — doc-id tombstones plus −df/−stats segments
    * derived by RE-TOKENIZING the forgotten docs from the PRIMARY
    * store (the exact derivation [[appendDocs]] uses for its +df
    * delta), never by scanning the live postings: the postings are
    * token-bucketed, so a doc-id probe into them prunes nothing and
    * would read the whole index per forget. On a delta-bearing chain
    * the forget COMPACTS instead (one declared full pass), keeping the
    * chain's single-tombstones invariant. After the commit the
    * forgotten docs can never rank for any query AND the statistics
    * reflect the live corpus — BM25's idf is df-sensitive, so forget
    * must unlearn the counts too, not just the rows.
    *
    * CONTRACT: `docs` is (doc_id, text) fetched from the primary store
    * — each id must be LIVE in the index and `text` must be the exact
    * text that was indexed (the primary store is the source of truth
    * both build and append derived from, so this holds by
    * construction in a deployment; a mismatched text would unlearn the
    * wrong counts).
    */
  private[graft] def forgetDocs(s: SparkSession, root: String,
      docs: DataFrame, stampId: Long, stampTag: String,
      retain: Int = 2): Long = {
    val c = chain.resolve(s, root)
    val stamp = (stampId, stampTag)
    if (SegmentChain.isRetry(s, root, c.live, stamp)) return c.live
    val batch = docs.select("doc_id", "text").dropDuplicates("doc_id")
    if (batch.isEmpty)
      chain.commit(s, root, c.live + 1, stamp, retain)(_ => ())
    else if (c.deltas("postings-delta").isEmpty && c.tombstones.isEmpty)
      // O(forgotten): the negative segments come from the batch's own
      // re-tokenization — no postings file is opened by this commit
      chain.commit(s, root, c.live + 1, stamp, retain) { dir =>
        def seg(name: String) = new org.apache.hadoop.fs.Path(dir, name).toString
        val gone = postingsOf(batch)
        batch.select("doc_id")
          .coalesce(1).write.mode("overwrite").parquet(seg("tombstones"))
        vocabOf(gone).selectExpr("token", "-df AS df", "tb")
          .write.mode("overwrite").partitionBy("tb").parquet(seg("vocab-delta"))
        statsOf(gone).selectExpr("-n_docs AS n_docs", "-sum_dl AS sum_dl")
          .coalesce(1).write.mode("overwrite").parquet(seg("stats-delta"))
      }
    else
      commitBase(s, root, c.live + 1,
        livePostings(s, c).join(broadcast(batch.select("doc_id")),
          Seq("doc_id"), "left_anti"),
        stamp, retain)
  }

  /** Streaming maintenance sink: each micro-batch of (doc_id, text)
    * documents appends through [[appendDocs]] — version re-resolved per
    * batch, O(batch) postings-delta + signed vocab/stats segments,
    * exactly-once by the (batch id, incarnation) stamp — the FIFTH
    * streaming index-maintenance path beside the vector append /
    * admission, graph insert/delete and text-signature admission
    * sinks: the retrieval artifact stays queryable and statistically
    * exact while documents stream in. [[appendDocs]]'s new-docs
    * contract applies per micro-batch: upstream must not redeliver a
    * live doc_id (dedupe or forget-first if it can).
    */
  def indexAppendSink(docs: DataFrame, root: String, retain: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    SegmentChain.stampedSink(docs) { (b, id, incarnation) =>
      appendDocs(b, root, id, incarnation, retain)
      ()
    }


  /** Streaming FORGET sink — the retrieval family's other half of the
    * mutation pair ([[VectorIndex.graphDeleteSink]]'s arrangement):
    * each micro-batch of (doc_id, text) forget requests (text from the
    * primary store — [[forgetDocs]]'s O(forgotten) derivation needs
    * it) commits one forget against the re-resolved live version,
    * exactly-once by the (batch id, incarnation) stamp. On a clean
    * base each commit is metadata-only; interleaved with appends the
    * forget compacts (the single-tombstones chain rule) — a deployment
    * alternating both at high rate schedules forgets on the fold
    * cadence.
    */
  def indexForgetSink(docs: DataFrame, root: String, retain: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    SegmentChain.stampedSink(docs) { (b, id, incarnation) =>
      forgetDocs(b.sparkSession, root, b, id, incarnation, retain)
      ()
    }


  /** The LIVE doc-id set (doc_id, db): base `docs/` ∖ tombstones ∪
    * every `docs-delta/` — the sidecar read an admission novelty check
    * pays. Optionally restricted to a bucket set: pass the BATCH's
    * own db buckets and the read partition-prunes to them (the reason
    * the sidecar is bucketed at [[nDocBuckets]], finer than the token
    * buckets).
    */
  def liveDocIds(s: SparkSession, root: String,
      buckets: Option[Seq[Long]] = None): DataFrame =
    liveDocsAt(s, chain.resolve(s, root), buckets)

  private def liveDocsAt(s: SparkSession, c: SegmentChain.Snapshot,
      buckets: Option[Seq[Long]]): DataFrame =
    c.unionLive(s, "doc_id", "docs", "docs-delta") { p =>
      val df = s.read.schema(docsSchema).parquet(p)
      buckets.fold(df)(b => df.filter(col("db").isin(b: _*)))
    }

  /** NOVELTY-GATED append — [[appendDocs]]'s new-docs contract made
    * MECHANICAL (the d79/e52 admission discipline on the retrieval
    * family, with the exact-id gate this family needs): the batch
    * anti-joins the live doc-id sidecar restricted to the batch's own
    * buckets (a bucket-pruned, id-count-sized read — never the
    * postings), and only the novel docs commit as the O(batch) delta.
    * A redelivered or overlapping batch can therefore never
    * double-count a doc's postings, df or stats. An all-duplicate
    * batch still flips a marker-only version so the stamp survives.
    * Exactly-once by the (batchId, incarnation) stamp, delegated to
    * [[appendDocs]].
    */
  private[graft] def admitDocs(batch: DataFrame, root: String,
      batchId: Long, incarnationId: String, retain: Int = 2): Long = {
    val s = batch.sparkSession
    val c = chain.resolve(s, root)
    val stamp = (batchId, incarnationId)
    if (SegmentChain.isRetry(s, root, c.live, stamp)) return c.live
    val keyed = batch.select("doc_id", "text").dropDuplicates("doc_id")
      .selectExpr("doc_id", "text",
        s"pmod(xxhash64(doc_id), $nDocBuckets) AS db")
    val bkts = keyed.select("db").distinct().collect().map(_.getLong(0)).toSeq
    // NOT broadcast-hinted: the pruned live side is id-count-sized but
    // still grows with the corpus slice the batch's buckets cover —
    // AQE picks broadcast when it fits and a shuffled anti-join when
    // it does not (either way the postings are never read)
    val novel =
      if (bkts.isEmpty) keyed.select("doc_id", "text")
      else keyed.join(liveDocsAt(s, c, Some(bkts)).select("doc_id"),
          Seq("doc_id"), "left_anti")
        .select("doc_id", "text")
    appendAt(s, c, novel, stamp, retain)
  }

  /** Streaming ADMISSION sink — the retrieval family's ingest gate
    * ([[graft.ext.TextIndex]]'s admission arrangement with the exact
    * doc-id novelty check): per micro-batch, [[admitDocs]] against the
    * re-resolved live version. Upstreams that may redeliver or overlap
    * batches use this instead of [[indexAppendSink]]; the index can
    * never double-count.
    */
  def indexAdmitSink(docs: DataFrame, root: String, retain: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    SegmentChain.stampedSink(docs) { (b, id, incarnation) =>
      admitDocs(b, root, id, incarnation, retain)
      ()
    }


  /** Fold the live chain into ONE self-contained version — stamped
    * (−2, "optimize") like every index family's maintenance commit.
    */
  def compactIndex(s: SparkSession, root: String,
      retain: Int = 2): Option[Long] =
    chain.resolveOption(s, root).map { c =>
      commitBase(s, root, c.live + 1, livePostings(s, c),
        (-2L, "optimize"), retain)
    }

  /** BM25 top-5 per query term, served ENTIRELY off the committed
    * artifact: the 8 rarest terms (df ASC, token ASC — d62's
    * data-derived deterministic query set) resolve from the ≤|vocab|
    * statistics table, their bucket set partition-prunes the postings
    * read (term equality pushed into the scan), the 8-row term table
    * and 1-row corpus stats broadcast onto the df-bounded posting
    * lists, and per-term ranking is a query_term-partitioned window.
    */
  def serveBm25TopK(s: SparkSession, root: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = chain.resolve(s, root)
    val qterms = liveVocab(s, c)
      .orderBy(col("df").asc, col("token").asc).limit(8)
      .selectExpr("token", "df", s"pmod(xxhash64(token), $nBuckets) AS qtb")
      .collect()
    // the resolved query terms as LITERALS: the bucket set prunes
    // partitions AND the term set pushes into the parquet scan (a
    // broadcast join alone would read whole bucket directories) — the
    // posting read is bounded by the query terms' df, not the bucket
    val tbs = qterms.map(_.getLong(2)).distinct.toSeq
    val termLits = qterms.map(_.getString(0)).toSeq
    val terms = qterms.map(r => s.range(1)
        .select(lit(r.getString(0)).as("token"), lit(r.getLong(1)).as("df")))
      .reduce(_ unionByName _)
    livePostings(s, c)
      .filter(col("tb").isin(tbs: _*))
      .filter(col("token").isin(termLits: _*))
      .join(broadcast(terms), Seq("token"))
      .crossJoin(broadcast(liveStats(s, c)))
      .selectExpr("token AS query_term", "doc_id",
        s"round(${TextOps.bm25TermScoreExpr}, 6) AS bm25")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_term")
          .orderBy(col("bm25").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select("query_term", "rank", "doc_id", "bm25")
      .orderBy("query_term", "rank")
  }

  /** DOCUMENT-AT-A-TIME multi-term serving off the committed artifact —
    * the query shape real retrieval actually runs (d62/d83 rank top
    * docs PER TERM; a search query sums BM25 across its terms per doc
    * and returns ONE ranked doc list): the given terms resolve their
    * df by KEYED lookup ([[resolveTerms]] — bucket-pruned, term-pushed,
    * O(query terms) rows), the postings read is pruned the same way,
    * per-term scores sum per doc (unrounded, rounded 6 dp on the sum —
    * e41's discipline) and the top-k cut is a TakeOrdered, never a
    * global window funnel. `n_terms_hit` = how many query terms the
    * doc contains (integer-exact).
    */
  def serveBm25Daat(s: SparkSession, root: String, terms: Seq[String],
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = chain.resolve(s, root)
    livePostings(s, c)
      .filter(col("tb").isin(termBuckets(s, terms): _*))
      .filter(col("token").isin(terms: _*))
      .join(broadcast(termsAt(s, c, terms)), Seq("token"))
      .crossJoin(broadcast(liveStats(s, c)))
      .selectExpr("doc_id", s"${TextOps.bm25TermScoreExpr} AS sc")
      .groupBy("doc_id")
      .agg(round(sum("sc"), 6).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id").asc)))
      .select(col("rank").cast("int").as("rank"), col("doc_id"),
        col("bm25"), col("n_terms_hit"))
      .orderBy("rank")
  }

  /** PHRASE search off the committed artifact — the query class the
    * positional postings exist for (Lucene's PhraseQuery): for each
    * 2-term phrase (a, b), the docs where `a` occurs IMMEDIATELY
    * before `b`, with phrase_tf = the number of such occurrences —
    * computed by intersecting the two terms' position lists
    * (positions of a, shifted +1, ∩ positions of b; positions are
    * distinct ints, so the intersection size IS the adjacency count).
    * Reads are the DAAT discipline: both terms' posting lists come
    * from bucket-pruned, term-pushed scans; the intersection is
    * row-local; ranking is a phrase-partitioned window over docs that
    * match at all.
    */
  def serveBm25Phrase(s: SparkSession, root: String,
      phrases: Seq[(String, String)], k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(phrases.nonEmpty, "serveBm25Phrase needs at least one phrase")
    val terms = phrases.flatMap(p => Seq(p._1, p._2)).distinct
    val posts = loadPostings(s, root)
      .filter(col("tb").isin(termBuckets(s, terms): _*))
      .filter(col("token").isin(terms: _*))
      .select("token", "doc_id", "positions")
    val pf = phrases.map { case (a, b) => s.range(1).select(
        lit(s"$a $b").as("phrase"), lit(a).as("a"), lit(b).as("b")) }
      .reduce(_ unionByName _).distinct()
    posts.select(col("token").as("ta"), col("doc_id"),
        col("positions").as("pa"))
      .join(broadcast(pf), col("ta") === col("a"))
      .join(posts.select(col("token").as("tb2"), col("doc_id"),
        col("positions").as("pb")), Seq("doc_id"))
      .filter(col("tb2") === col("b"))
      .selectExpr("phrase", "doc_id",
        """CAST(size(array_intersect(
          |  transform(pa, x -> x + 1), pb)) AS BIGINT) AS phrase_tf""".stripMargin)
      .filter(col("phrase_tf") > 0)
      .withColumn("rank", row_number().over(
        Window.partitionBy("phrase")
          .orderBy(col("phrase_tf").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("phrase"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("phrase_tf"))
      .orderBy("phrase", "rank")
  }

  /** ORDERED PROXIMITY search off the positional postings — the phrase
    * query's relaxation (Lucene's sloppy PhraseQuery family, pinned
    * here to the clean definition both engines can state exactly): for
    * (a, b, slop) count the position pairs where `b` follows `a`
    * within `slop` positions (1 ≤ pos_b − pos_a ≤ slop; slop = 1 ≡
    * exact phrase). The count is a row-local fold over the two
    * df-bounded position lists (`aggregate` × `filter` — codegen'd
    * higher-order functions, no explode); reads are [[serveBm25Phrase]]'s
    * bucket-pruned, term-pushed scans.
    */
  def serveBm25Proximity(s: SparkSession, root: String,
      phrases: Seq[(String, String)], slop: Int, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(phrases.nonEmpty && slop >= 1,
      "serveBm25Proximity needs phrases and slop >= 1")
    val terms = phrases.flatMap(p => Seq(p._1, p._2)).distinct
    val posts = loadPostings(s, root)
      .filter(col("tb").isin(termBuckets(s, terms): _*))
      .filter(col("token").isin(terms: _*))
      .select("token", "doc_id", "positions")
    val pf = phrases.map { case (a, b) => s.range(1).select(
        lit(s"$a $b").as("phrase"), lit(a).as("a"), lit(b).as("b")) }
      .reduce(_ unionByName _).distinct()
    posts.select(col("token").as("ta"), col("doc_id"),
        col("positions").as("pa"))
      .join(broadcast(pf), col("ta") === col("a"))
      .join(posts.select(col("token").as("tb2"), col("doc_id"),
        col("positions").as("pb")), Seq("doc_id"))
      .filter(col("tb2") === col("b"))
      .selectExpr("phrase", "doc_id",
        s"""CAST(aggregate(pa, 0, (acc, x) ->
           |  acc + size(filter(pb, y -> y > x AND y <= x + $slop)))
           |  AS BIGINT) AS prox_tf""".stripMargin)
      .filter(col("prox_tf") > 0)
      .withColumn("rank", row_number().over(
        Window.partitionBy("phrase")
          .orderBy(col("prox_tf").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("phrase"), col("rank").cast("int").as("rank"),
        col("doc_id"), col("prox_tf"))
      .orderBy("phrase", "rank")
  }

  // ---------------------------------------------------------------- d87

  /** Registry entry: ordered proximity (slop = 3) over d86's query
    * bigrams — the pair ranking a "terms near each other" retrieval
    * filter runs. Same derivation discipline as d86; the oracle
    * replays the windowed adjacency join inline, so the hash pins the
    * position arithmetic at a width the exact-phrase query never
    * exercises.
    */
  def bm25ProximityServed(s: SparkSession, dir: String): DataFrame = {
    val root = ensureCorpusIndex(s, dir)
    val phrases = graft.Tables.documents(s, dir)
      .filter(col("doc_id") < 4)
      .selectExpr("split(text, ' ') AS t")
      .filter(size(col("t")) >= 2)
      .selectExpr("t[0] AS a", "t[1] AS b").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    serveBm25Proximity(s, root, phrases, slop = 3, k = 5)
  }

  private val bm25ProximitySql =
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS toks
      |            FROM documents),
      |q AS (SELECT DISTINCT toks[1] AS a, toks[2] AS b,
      |        toks[1] || ' ' || toks[2] AS phrase
      |      FROM sp WHERE doc_id < 4 AND len(toks) >= 2),
      |tok AS (SELECT doc_id, pos, toks[pos] AS token FROM (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(1, len(toks))) AS pos FROM sp)),
      |ph AS (SELECT q.phrase, t1.doc_id,
      |         CAST(count(*) AS BIGINT) AS prox_tf
      |       FROM q JOIN tok t1 ON t1.token = q.a
      |       JOIN tok t2 ON t2.doc_id = t1.doc_id
      |         AND t2.pos > t1.pos AND t2.pos <= t1.pos + 3
      |         AND t2.token = q.b
      |       GROUP BY 1, 2),
      |r AS (SELECT phrase, doc_id, prox_tf,
      |        row_number() OVER (PARTITION BY phrase
      |          ORDER BY prox_tf DESC, doc_id ASC) AS rank
      |      FROM ph)
      |SELECT phrase, CAST(rank AS INT) AS rank, doc_id, prox_tf
      |FROM r WHERE rank <= 5
      |ORDER BY phrase, rank""".stripMargin

  // ---------------------------------------------------------------- d86

  /** Registry entry: phrase search served off the committed positional
    * postings — query set = each of docs 0-3's OPENING BIGRAM (first
    * two tokens, read from the primary store like e65's query-doc
    * tokens: a 4-row doc_id-pushed read), ranked by in-doc phrase
    * frequency. The oracle replays tokenize-with-positions → adjacency
    * join → rank inline in pure integer SQL, so the hash pins the
    * position lists the layout stores (an off-by-one, a dropped or
    * unsorted position, or a stale posting all shift a count).
    */
  def bm25PhraseServed(s: SparkSession, dir: String): DataFrame = {
    val root = ensureCorpusIndex(s, dir)
    val phrases = graft.Tables.documents(s, dir)
      .filter(col("doc_id") < 4)
      .selectExpr("split(text, ' ') AS t")
      .filter(size(col("t")) >= 2)
      .selectExpr("t[0] AS a", "t[1] AS b").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    serveBm25Phrase(s, root, phrases, k = 5)
  }

  private val bm25PhraseSql =
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS toks
      |            FROM documents),
      |q AS (SELECT DISTINCT toks[1] AS a, toks[2] AS b,
      |        toks[1] || ' ' || toks[2] AS phrase
      |      FROM sp WHERE doc_id < 4 AND len(toks) >= 2),
      |tok AS (SELECT doc_id, pos, toks[pos] AS token FROM (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(1, len(toks))) AS pos FROM sp)),
      |ph AS (SELECT q.phrase, t1.doc_id,
      |         CAST(count(*) AS BIGINT) AS phrase_tf
      |       FROM q JOIN tok t1 ON t1.token = q.a
      |       JOIN tok t2 ON t2.doc_id = t1.doc_id
      |         AND t2.pos = t1.pos + 1 AND t2.token = q.b
      |       GROUP BY 1, 2),
      |r AS (SELECT phrase, doc_id, phrase_tf,
      |        row_number() OVER (PARTITION BY phrase
      |          ORDER BY phrase_tf DESC, doc_id ASC) AS rank
      |      FROM ph)
      |SELECT phrase, CAST(rank AS INT) AS rank, doc_id, phrase_tf
      |FROM r WHERE rank <= 5
      |ORDER BY phrase, rank""".stripMargin

  // ---------------------------------------------------------------- d83

  /** MoreLikeThis lexical shortlist served off the committed artifact —
    * e41's doc-as-query arm on index reads: per query doc (its distinct
    * token set, supplied from the primary store — production reads a
    * forward index / term-vector store; the INVERTED index is bucketed
    * by token, so a doc-id probe into it is the wrong read), select the
    * 5 rarest terms by the INDEX's df (keyed [[resolveTerms]] lookup),
    * score BM25 over the term-pruned postings, sum per (query, doc) and
    * rank top-`n` per query (self excluded). Both driver round-trips
    * are query-batch-bounded: the distinct token set of ≤10 docs, then
    * the ≤5·|queries| selected terms as scan literals.
    */
  def serveMoreLikeThis(s: SparkSession, root: String,
      queryToks: DataFrame, n: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val allToks = queryToks.select("token").distinct()
      .collect().map(_.getString(0)).toSeq
    val c = chain.resolve(s, root)
    val qterms = queryToks
      .join(broadcast(termsAt(s, c, allToks)), Seq("token"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("df").asc, col("token").asc)))
      .filter(col("rn") <= 5)
      .select("qid", "token", "df")
      // ≤5·|queries| rows, read twice (the selected-terms collect and
      // the postings join's broadcast): materialize once, GC-owned
      .localCheckpoint()
    val selected = qterms.select("token").distinct()
      .collect().map(_.getString(0)).toSeq
    livePostings(s, c)
      .filter(col("tb").isin(termBuckets(s, selected): _*))
      .filter(col("token").isin(selected: _*))
      .join(broadcast(qterms), Seq("token"))
      .filter(col("doc_id") =!= col("qid"))
      .crossJoin(broadcast(liveStats(s, c)))
      .selectExpr("qid", "doc_id", s"${TextOps.bm25TermScoreExpr} AS sc")
      .groupBy("qid", "doc_id").agg(round(sum("sc"), 6).as("bm25"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("bm25").desc, col("doc_id").asc)))
      .filter(col("lex_rank") <= n)
      .select(col("qid"), col("doc_id"),
        col("lex_rank").cast("int").as("lex_rank"))
  }

  /** Ensure the committed retrieval index over the full documents
    * corpus under its default root (fingerprint- and format-stamped) —
    * shared by d83, d85 and the hybrid e65.
    */
  private[ext] def ensureCorpusIndex(s: SparkSession, dir: String): String = {
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
    val root = defaultRoot(dir)
    SegmentChain.ensure(s, root,
        (-3L, s"$FormatTag:${SegmentChain.fingerprint(docs, "doc_id")}"))(
      buildIndexFrom(docs, root))
    root
  }

  /** Registry entry: ensure the committed retrieval index over the full
    * documents corpus (fingerprint-guarded), serve d62's standard query
    * off it. The oracle is d62's INLINE SQL verbatim — hash equality IS
    * the build → commit → load → serve ≡ inline guarantee for tf, dl,
    * df, the corpus stats and the ranking discipline at once.
    */
  def bm25IndexServed(s: SparkSession, dir: String): DataFrame =
    serveBm25TopK(s, ensureCorpusIndex(s, dir))

  // ---------------------------------------------------------------- d85

  /** Registry entry: the multi-term document-at-a-time query served off
    * the committed artifact — query set = the 8 rarest terms (the
    * data-derived determinism device every d62-family query shares; a
    * production caller passes its own terms straight to
    * [[serveBm25Daat]] and pays only the keyed lookups), top-10 docs by
    * summed BM25. The oracle replays tokenize → stats → rarest-8 →
    * per-doc sum → rank inline, so the hash pins the keyed term
    * resolution AND the document-at-a-time arithmetic against the
    * primary store.
    */
  def bm25DaatServed(s: SparkSession, dir: String): DataFrame = {
    val root = ensureCorpusIndex(s, dir)
    val terms = loadVocab(s, root)
      .orderBy(col("df").asc, col("token").asc).limit(8)
      .collect().map(_.getString(0)).toSeq
    serveBm25Daat(s, root, terms, k = 10)
  }

  // ---------------------------------------------------------------- d84

  /** The deterministic forget slice d84 removes from the base split. */
  private[graft] def bm25ForgetPred = "doc_id % 11 = 2"

  /** Registry entry: BM25 served after the FULL index lifecycle —
    * build the base split, forget a slice (metadata-only tombstones
    * with −df/−stats segments derived from the primary store's text),
    * append the incoming split (O(batch) delta with +df/+stats
    * segments) — d82/e62's composition pin on the retrieval family.
    * The served ranking must equal d62's inline computation over the
    * LIVE doc set, which only happens if the postings chain AND the
    * signed statistics chain both resolve correctly (a stale df or
    * n_docs shifts every idf).
    */
  def bm25LifecycleServed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = graft.Tables.documents(s, dir)
      .selectExpr("doc_id", "text", TextOps.docBucket)
    val base = docs.filter(col("bucket") < TextOps.TrainCut)
      .select("doc_id", "text")
    val incoming = docs.filter(col("bucket") >= TextOps.TrainCut)
      .select("doc_id", "text")
    val root = defaultLifeRoot(dir)
    val want = s"$FormatTag+life[forget=$bm25ForgetPred]:" +
      SegmentChain.fingerprint(docs, "doc_id")
    SegmentChain.ensure(s, root, (-7L, want)) {
      buildIndexFrom(base, root)                                // v0
      forgetDocs(s, root, base.filter(expr(bm25ForgetPred)),
        -6L, s"life-forget:$bm25ForgetPred")                    // v1: DV
      appendDocs(incoming, root, -7L, want)                     // v2: delta
    }
    serveBm25TopK(s, root)
  }

  def defaultAdmitRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-bm25-index-admit", dataDir)

  /** The deterministic REDELIVERED slice d88 plants in its incoming
    * batch — base docs an at-least-once upstream sends again.
    */
  private[graft] def bm25RedeliverPred = "doc_id % 9 = 4"

  /** Registry entry: BM25 served after a NOVELTY-GATED ingest — build
    * the base split, then [[admitDocs]] one incoming batch that
    * deliberately CONTAINS redelivered base docs (the at-least-once
    * upstream reality the append contract excludes): the gate must
    * admit exactly the novel docs and reject the redelivered slice, or
    * every duplicated doc doubles its tf/df/stats and shifts the
    * ranking the oracle replays over base ∪ novel. This is the d79/e52
    * admission arc on the retrieval family, pinned through one served
    * answer.
    */
  def bm25AdmissionServed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = graft.Tables.documents(s, dir)
      .selectExpr("doc_id", "text", TextOps.docBucket)
    val base = docs.filter(col("bucket") < TextOps.TrainCut)
      .select("doc_id", "text")
    val incoming = docs
      .filter(col("bucket") >= TextOps.TrainCut && expr("doc_id % 2 = 0"))
      .select("doc_id", "text")
      .unionByName(base.filter(expr(bm25RedeliverPred)))
    val root = defaultAdmitRoot(dir)
    val want = s"$FormatTag+admit[redeliver=$bm25RedeliverPred]:" +
      SegmentChain.fingerprint(docs, "doc_id")
    SegmentChain.ensure(s, root, (-7L, want)) {
      buildIndexFrom(base, root)                                // v0
      admitDocs(incoming, root, -7L, want)                      // v1: gated
    }
    serveBm25TopK(s, root)
  }

  private def bm25AdmissionSql =
    s"""WITH live AS (
      |  SELECT doc_id, text
      |  FROM (SELECT doc_id, text, ${TextOps.docBucketSql} FROM documents)
      |  WHERE bucket < ${TextOps.TrainCut}
      |     OR (bucket >= ${TextOps.TrainCut} AND doc_id % 2 = 0)),
      |${TextOps.bm25SqlOver("live")}""".stripMargin

  private def bm25LifecycleSql =
    s"""WITH live AS (
      |  SELECT doc_id, text
      |  FROM (SELECT doc_id, text, ${TextOps.docBucketSql} FROM documents)
      |  WHERE NOT (bucket < ${TextOps.TrainCut} AND $bm25ForgetPred)),
      |${TextOps.bm25SqlOver("live")}""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("d83_bm25_index_served", bm25IndexServed,
      Some(s"WITH ${TextOps.bm25SqlOver("documents")}")),
    QueryDef("d84_bm25_index_lifecycle", bm25LifecycleServed,
      Some(bm25LifecycleSql)),
    QueryDef("d85_bm25_daat_topk", bm25DaatServed,
      Some(s"WITH ${TextOps.bm25DaatSqlOver("documents", 10)}")),
    QueryDef("d86_bm25_phrase_topk", bm25PhraseServed,
      Some(bm25PhraseSql)),
    QueryDef("d87_bm25_proximity_topk", bm25ProximityServed,
      Some(bm25ProximitySql)),
    QueryDef("d88_bm25_admission_served", bm25AdmissionServed,
      Some(bm25AdmissionSql)))
}
