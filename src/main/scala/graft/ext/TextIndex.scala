package graft.ext

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash signature index + near-dup ADMISSION — the text
  * side of the "index is the product" posture [[VectorIndex]] takes for
  * vectors: d06 computes signatures and candidates inline per query,
  * which is the right correctness twin and the wrong daily-ingest
  * shape. Production dedup at 100 TB keeps the corpus' LSH band
  * postings as a COMMITTED artifact and asks, per incoming batch, "is
  * this new document a near-dup of anything already admitted?" — cost
  * scaling with |batch| × bucket occupancy, never |corpus|² (d17's
  * property, lifted from exact text equality to the near-dup tier).
  *
  * On-disk segments ([[SegmentChain]] commits and resolves them):
  * `v<n>/postings/band=<b>/` — one (bh, doc_id) row per band per
  * indexed doc, HIVE-PARTITIONED BY BAND (8 directories; probes join
  * per band partition). Signature parameters are d06's verbatim:
  * distinct word-trigram shingle hashes → 32 permutations
  * `xxhash64(i, h)` → 8 bands × 4 rows keyed by `xxhash64(m..m+3)` —
  * so the banded-candidates ≡ exact-pairs guarantee DedupSpec pins for
  * d06 carries to every probe of this index.
  *
  * Verification is two-stage like e47: the index yields CANDIDATES
  * (band collisions), then only candidates pay the exact shingle
  * Jaccard against texts fetched from the PRIMARY store — index rows
  * are 16 bytes, raw text IO is candidate-proportional.
  *
  * Incremental admission ([[admitBatch]] / [[admissionSink]]): each
  * micro-batch probes the COMMITTED postings, emits per-doc verdicts
  * (near-dup of an already-admitted doc, with best match), and appends
  * the ADMITTED docs' postings as the next version — dedup-then-index,
  * the order a real ingest runs. A batch's own ids are excluded from
  * the probe (anti-join) so a crash-retry of a committed batch
  * recomputes VERDICTS identically instead of colliding with its own
  * just-appended signatures; the index append itself is exactly-once
  * by the CDC sink's (batch id, incarnation) stamp.
  */
object TextIndex {

  private val nPerm = 32
  private val nBands = 8

  /** Postings chain: `postings` bases, `postings-delta` admissions and
    * `tombstones` forgets ([[SegmentChain]]).
    */
  private val chain = new SegmentChain("postings")

  def defaultRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-text-index", dataDir)

  /** Distinct trigram-shingle hashes of any (doc_id, text) frame —
    * d06's shingle table over an arbitrary frame.
    */
  private def shinglesOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.selectExpr("doc_id", "array_distinct(word_trigram_hashes(text)) AS shs")
      .where("size(shs) > 0")
  }

  /** (doc_id, band, bh) — d06's 32-permutation MinHash banded 8×4,
    * verbatim (the guarantee DedupSpec pins must transfer unchanged).
    */
  private def bandPostings(sh: DataFrame): DataFrame = {
    val hv = sh.selectExpr("doc_id", "explode(shs) AS h")
    val minAggs = (0 until nPerm).map(i => min(expr(s"xxhash64($i, h)")).as(s"m$i"))
    val sigs = hv.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
    val bandStructs = (0 until nBands).map(b =>
      s"named_struct('band', $b, 'bh', xxhash64(m${b * 4}, m${b * 4 + 1}, m${b * 4 + 2}, m${b * 4 + 3}))")
    sigs.selectExpr("doc_id", s"explode(array(${bandStructs.mkString(",")})) AS e")
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  def latestVersion(s: SparkSession, root: String): Option[Long] =
    SegmentChain.latest(s, root)

  private val postingsSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("bh", LongType),
      StructField("band", IntegerType)))
  }

  /** Commit band-partitioned `postings` as `segment` of version `ver`. */
  private def commitPostings(s: SparkSession, root: String, ver: Long,
      segment: String, postings: DataFrame, stamp: (Long, String),
      retain: Int): Long =
    chain.commit(s, root, ver, stamp, retain)(writePostings(_, segment, postings))

  /** Write band-partitioned `postings` as `segment` under `dir`; a base
    * segment is clustered by band first, so it holds one file per band.
    */
  private def writePostings(dir: org.apache.hadoop.fs.Path, segment: String,
      postings: DataFrame): Unit = {
    val rows = postings.select("doc_id", "bh", "band")
    (if (segment == "postings") rows.hint("rebalance", col("band")) else rows)
      .write.mode("overwrite").partitionBy("band")
      .parquet(new org.apache.hadoop.fs.Path(dir, segment).toString)
  }

  /** Build the postings of `docs` (doc_id, text) as a NEW version. */
  private[graft] def buildIndexFrom(docs: DataFrame, root: String,
      retain: Int = 2): Long = {
    val s = docs.sparkSession
    commitPostings(s, root, SegmentChain.next(s, root), "postings",
      bandPostings(shinglesOf(docs)),
      (-3L, s"index:${SegmentChain.fingerprint(docs, "doc_id")}"), retain)
  }

  /** Committed postings (doc_id, bh, band) with a DECLARED schema (the
    * [[VectorIndex.loadCodes]] discipline: the band probe must reach
    * the reader as a partition filter on the declared type). Serves the
    * LIVE view: a forget commit's tombstones shade a document's
    * signatures out of every probe without rewriting the postings
    * ([[VectorIndex.loadCodes]]'s deletion-vector arrangement — the
    * anti-join is skipped when the live version has no tombstones).
    */
  def loadPostings(s: SparkSession, root: String): DataFrame =
    livePostings(s, chain.resolve(s, root))

  private def livePostings(s: SparkSession, c: SegmentChain.Snapshot): DataFrame =
    c.unionLive(s, "doc_id", "postings", "postings-delta")(
      s.read.schema(postingsSchema).parquet(_))

  /** Commit already-banded `fresh` postings as the next version — an
    * O(batch) `postings-delta/` segment, or one folded postings table
    * once the chain is [[SegmentChain.AppendFoldThreshold]] deep
    * ([[VectorIndex]]'s append discipline on the text family).
    */
  private def appendPostings(s: SparkSession, c: SegmentChain.Snapshot,
      fresh: DataFrame, stamp: (Long, String), retain: Int): Long =
    if (c.shouldFold)
      commitPostings(s, c.root, c.live + 1, "postings",
        livePostings(s, c).unionByName(fresh.select("doc_id", "bh", "band")),
        stamp, retain)
    else commitPostings(s, c.root, c.live + 1, "postings-delta", fresh,
      stamp, retain)

  /** Fold the live chain (base ∖ tombstones ∪ deltas) into ONE
    * self-contained postings version through [[SegmentChain.fold]] — a
    * no-op on a chain that is already its own base. None before the
    * first commit.
    */
  def compactIndex(s: SparkSession, root: String,
      retain: Int = 2): Option[Long] =
    chain.fold(s, root, retain)((c, dir) =>
      writePostings(dir, "postings", livePostings(s, c)))

  /** Forget documents — GDPR-style removal from the dedup index: a
    * forget on a postings-owning version commits METADATA ONLY
    * (cumulative doc-id tombstones; the posting files are referenced
    * back), so unlearning a document costs O(forgotten), never an
    * O(corpus-signatures) rewrite; a second forget on a DV version
    * COMPACTS (postings ∖ all tombstones) so the referenced version
    * stays inside the retain=2 prune window — [[VectorIndex.deleteIds]]'s
    * exact discipline on the text family. After the commit the forgotten
    * doc can never match an incoming probe (and, having lost its
    * postings, will be re-admitted if resubmitted — the semantics
    * "the index holds no trace of it"). Idempotent per (stampId, tag).
    */
  private[graft] def forgetDocs(s: SparkSession, root: String,
      ids: DataFrame, stampId: Long, stampTag: String,
      retain: Int = 2): Long = {
    val c = chain.resolve(s, root)
    val stamp = (stampId, stampTag)
    if (SegmentChain.isRetry(s, root, c.live, stamp)) c.live
    else if (c.depth == 0)
      // live is a clean base: metadata-only forget — tombstones only
      chain.commit(s, root, c.live + 1, stamp, retain) { dir =>
        ids.select("doc_id").distinct()
          .coalesce(1).write.mode("overwrite")
          .parquet(new org.apache.hadoop.fs.Path(dir, "tombstones").toString)
      }
    else
      // chain already carries tombstones and/or deltas: COMPACT so the
      // chain keeps at most one tombstones version on a clean base
      commitPostings(s, root, c.live + 1, "postings", livePostings(s, c)
        .join(broadcast(ids.select("doc_id")), Seq("doc_id"), "left_anti"),
        stamp, retain)
  }

  /** Probe + verify: per `incoming` doc (doc_id, text), the best
    * already-indexed near-dup (exact shingle Jaccard ≥ 0.5, ties to
    * the lowest indexed id), as
    * (doc_id, is_near_dup, match_id, jaccard). `primary` supplies the
    * indexed docs' texts for the exact verify — candidate-proportional
    * raw-text IO (e47's two-stage discipline). `excludeIds` anti-joins
    * postings before probing (the retry guard — see object doc).
    */
  private def verdictsAgainst(incoming: DataFrame, primary: DataFrame,
      postings: DataFrame, excludeIds: Option[DataFrame]): DataFrame = {
    val inSh = shinglesOf(incoming)
    val inPost = bandPostings(inSh)
    val base = excludeIds.foldLeft(postings)((p, ex) =>
      p.join(ex, Seq("doc_id"), "left_anti"))
    val cand = inPost.join(
        base.select(col("band"), col("bh"), col("doc_id").as("base_id")),
        Seq("band", "bh"))
      .select(col("doc_id"), col("base_id")).distinct()
    val verified = cand
      .join(inSh, Seq("doc_id"))
      .join(shinglesOf(primary).select(col("doc_id").as("base_id"),
        col("shs").as("bshs")), Seq("base_id"))
      .selectExpr("doc_id", "base_id",
        "size(array_intersect(shs, bshs)) AS common",
        "size(shs) AS na", "size(bshs) AS nb")
      .withColumn("jaccard",
        col("common") * lit(1.0) / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= 0.5)
    val best = verified.groupBy("doc_id")
      .agg(max_by(struct(col("base_id").as("match_id"), col("jaccard")),
        struct(col("jaccard"), (-col("base_id")).as("tb"))).as("b"))
      .select(col("doc_id"), col("b.match_id").as("match_id"),
        col("b.jaccard").as("jaccard"))
    incoming.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("match_id").isNotNull.as("is_near_dup"),
        col("match_id"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** One admission commit: verdicts against the committed index, then
    * the ADMITTED (non-dup) docs' postings appended as the next
    * version. Exactly-once append by stamp; verdicts are retry-stable
    * because the batch's own ids never serve as probe targets.
    */
  private[graft] def admitBatch(batch: DataFrame, primary: DataFrame,
      root: String, batchId: Long, incarnationId: String,
      retain: Int = 2): DataFrame = {
    val s = batch.sparkSession
    val c = chain.resolve(s, root)
    val verdicts = verdictsAgainst(batch, primary,
      livePostings(s, c), Some(batch.select("doc_id"))).cache()
    val stamp = (batchId, incarnationId)
    if (!SegmentChain.isRetry(s, root, c.live, stamp)) {
      val admitted = batch.join(
        verdicts.filter(col("is_near_dup")).select("doc_id"),
        Seq("doc_id"), "left_anti")
      // an all-dup (or empty) batch admits nothing — skip the commit
      // entirely rather than rewrite the index for no-op input
      if (!admitted.isEmpty)
        appendPostings(s, c, bandPostings(shinglesOf(admitted)), stamp, retain)
    }
    verdicts
  }

  /** Streaming admission sink: per micro-batch, [[admitBatch]] against
    * the re-resolved committed version. Verdict rows are returned to
    * the caller's foreachBatch in deployments that need them; here the
    * sink maintains the index (dedup-then-index, the ingest order).
    */
  def admissionSink(docs: DataFrame, primary: DataFrame, root: String,
      retain: Int = 2): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    SegmentChain.stampedSink(docs) { (b, id, incarnation) =>
      val v = admitBatch(b, primary, root, id, incarnation, retain)
      v.count()
      // drop the per-batch verdict cache — a long-running sink must
      // not accrete one cached plan per micro-batch in storage memory
      v.unpersist()
      ()
    }

  // ---------------------------------------------------------------- d79

  /** Registry entry: the base corpus (d14/d17's deterministic hash
    * split, buckets < 80) is ensured as a committed signature index;
    * the incoming split (buckets ≥ 80) probes it in one batch. The
    * oracle is the EXACT cross-split Jaccard witness (d06's
    * algorithm-independent-oracle discipline — valid because DedupSpec
    * pins banded ≡ exact pair sets on this corpus), so the hash equality
    * pins build → commit → load → probe → verify ≡ brute force.
    */
  def indexNearDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = graft.Tables.documents(s, dir)
      .selectExpr("doc_id", "text", TextOps.docBucket)
    val base = docs.filter(col("bucket") < TextOps.TrainCut)
      .select("doc_id", "text")
    val incoming = docs.filter(col("bucket") >= TextOps.TrainCut)
      .select("doc_id", "text")
    val root = defaultRoot(dir)
    SegmentChain.ensure(s, root,
        (-3L, s"index:${SegmentChain.fingerprint(base, "doc_id")}"))(
      buildIndexFrom(base, root))
    verdictsAgainst(incoming, base, loadPostings(s, root), None)
  }

  private def indexNearDedupSql =
    s"""WITH ${TextOps.shingleSqlCte},
      |bk AS (SELECT doc_id, ${TextOps.docBucketSql} FROM documents),
      |base AS (SELECT s.doc_id, s.sh FROM s JOIN bk USING (doc_id)
      |         WHERE bk.bucket < ${TextOps.TrainCut}),
      |inc AS (SELECT s.doc_id, s.sh FROM s JOIN bk USING (doc_id)
      |        WHERE bk.bucket >= ${TextOps.TrainCut}),
      |pr AS (
      |  SELECT i.doc_id, ba.doc_id AS base_id,
      |    len(list_intersect(i.sh, ba.sh)) AS common,
      |    len(i.sh) AS na, len(ba.sh) AS nb
      |  FROM inc i CROSS JOIN base ba),
      |j AS (
      |  SELECT doc_id, base_id,
      |    common * 1.0 / (na + nb - common) AS jaccard
      |  FROM pr WHERE common * 1.0 / (na + nb - common) >= 0.5),
      |best AS (
      |  SELECT doc_id, base_id AS match_id, jaccard FROM (
      |    SELECT doc_id, base_id, jaccard,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY jaccard DESC, base_id) AS rn
      |    FROM j) WHERE rn = 1)
      |SELECT i0.doc_id, best.match_id IS NOT NULL AS is_near_dup,
      |  best.match_id, best.jaccard
      |FROM (SELECT doc_id FROM bk WHERE bucket >= ${TextOps.TrainCut}) i0
      |LEFT JOIN best USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d80

  def defaultForgetRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-text-index-forget", dataDir)

  /** The deterministic forget set d80 commits out of the base split. */
  private[graft] def forgetPred = "doc_id % 11 = 2"

  /** Registry entry: d79's probe AFTER a forget commit removed a
    * deterministic slice of the base corpus from the index — the
    * verdicts an incoming batch gets once those documents are unlearned
    * (matches that pointed at a forgotten doc fall to the next-best
    * or to novel). The serve path is d79's verbatim
    * ([[loadPostings]] shades the tombstoned ids); the oracle is the
    * exact cross-split Jaccard witness with the forgotten docs excluded
    * from the base — hash equality pins the metadata-only forget ≡
    * rebuild-without-the-docs guarantee on the text family.
    */
  def indexForgetProbe(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = graft.Tables.documents(s, dir)
      .selectExpr("doc_id", "text", TextOps.docBucket)
    val base = docs.filter(col("bucket") < TextOps.TrainCut)
      .select("doc_id", "text")
    val incoming = docs.filter(col("bucket") >= TextOps.TrainCut)
      .select("doc_id", "text")
    val root = defaultForgetRoot(dir)
    // the stamp tag encodes the forget RULE too: a changed predicate on
    // an unchanged corpus must rebuild, not reuse the old tombstone set
    val want =
      s"index+forget[$forgetPred]:${SegmentChain.fingerprint(base, "doc_id")}"
    SegmentChain.ensure(s, root, (-4L, want)) {
      buildIndexFrom(base, root)
      forgetDocs(s, root, base.filter(expr(forgetPred)).select("doc_id"),
        -4L, want)
    }
    verdictsAgainst(incoming, base, loadPostings(s, root), None)
  }

  private def indexForgetProbeSql =
    s"""WITH ${TextOps.shingleSqlCte},
      |bk AS (SELECT doc_id, ${TextOps.docBucketSql} FROM documents),
      |base AS (SELECT s.doc_id, s.sh FROM s JOIN bk USING (doc_id)
      |         WHERE bk.bucket < ${TextOps.TrainCut}
      |           AND NOT (s.$forgetPred)),
      |inc AS (SELECT s.doc_id, s.sh FROM s JOIN bk USING (doc_id)
      |        WHERE bk.bucket >= ${TextOps.TrainCut}),
      |pr AS (
      |  SELECT i.doc_id, ba.doc_id AS base_id,
      |    len(list_intersect(i.sh, ba.sh)) AS common,
      |    len(i.sh) AS na, len(ba.sh) AS nb
      |  FROM inc i CROSS JOIN base ba),
      |j AS (
      |  SELECT doc_id, base_id,
      |    common * 1.0 / (na + nb - common) AS jaccard
      |  FROM pr WHERE common * 1.0 / (na + nb - common) >= 0.5),
      |best AS (
      |  SELECT doc_id, base_id AS match_id, jaccard FROM (
      |    SELECT doc_id, base_id, jaccard,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY jaccard DESC, base_id) AS rn
      |    FROM j) WHERE rn = 1)
      |SELECT i0.doc_id, best.match_id IS NOT NULL AS is_near_dup,
      |  best.match_id, best.jaccard
      |FROM (SELECT doc_id FROM bk WHERE bucket >= ${TextOps.TrainCut}) i0
      |LEFT JOIN best USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d82

  def defaultLifeRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-text-index-life", dataDir)

  /** Registry entry: the signature index's LIVE DOC STATE after the
    * full lifecycle chain — build the base split, forget a
    * deterministic slice (metadata-only tombstones), then ADMIT the
    * incoming split through the near-dup gate (delta postings append)
    * — e62's composition pin on the text family: d80 pins the forget
    * alone and d79 the admission alone, but only the chained state
    * proves the segments interact correctly (tombstones shade the base
    * postings only; admitted docs' delta postings stay live; a doc
    * that near-dups a FORGOTTEN base doc is admitted, because the
    * index holds no trace of it). Output: every live doc with its
    * band count (8 per signed doc — the posting-layout invariant).
    * The oracle replays base ∖ forgotten ∪ exact-Jaccard-admitted.
    */
  def indexLifecycleState(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = graft.Tables.documents(s, dir)
      .selectExpr("doc_id", "text", TextOps.docBucket)
    val base = docs.filter(col("bucket") < TextOps.TrainCut)
      .select("doc_id", "text")
    val incoming = docs.filter(col("bucket") >= TextOps.TrainCut)
      .select("doc_id", "text")
    val root = defaultLifeRoot(dir)
    val want =
      s"index+life[forget=$forgetPred]:${SegmentChain.fingerprint(docs, "doc_id")}"
    SegmentChain.ensure(s, root, (-7L, want)) {
      buildIndexFrom(base, root)                               // v0
      forgetDocs(s, root, base.filter(expr(forgetPred))
        .select("doc_id"), -6L, s"life-forget:$forgetPred")    // v1: DV
      admitBatch(incoming, base, root, -7L, want).unpersist()  // v2: delta
      latestVersion(s, root).get
    }
    loadPostings(s, root)
      .groupBy("doc_id").agg(count(lit(1)).as("n_bands"))
      .orderBy("doc_id")
  }

  private def indexLifecycleStateSql =
    s"""WITH ${TextOps.shingleSqlCte},
      |bk AS (SELECT doc_id, ${TextOps.docBucketSql} FROM documents),
      |baseLive AS (SELECT s.doc_id, s.sh FROM s JOIN bk USING (doc_id)
      |             WHERE bk.bucket < ${TextOps.TrainCut}
      |               AND NOT (s.$forgetPred)),
      |inc AS (SELECT s.doc_id, s.sh FROM s JOIN bk USING (doc_id)
      |        WHERE bk.bucket >= ${TextOps.TrainCut}),
      |dup AS (
      |  SELECT DISTINCT i.doc_id
      |  FROM inc i JOIN baseLive ba ON TRUE
      |  WHERE len(list_intersect(i.sh, ba.sh)) * 1.0
      |     / (len(i.sh) + len(ba.sh) - len(list_intersect(i.sh, ba.sh))) >= 0.5),
      |live AS (SELECT doc_id FROM baseLive
      |         UNION ALL
      |         SELECT doc_id FROM inc
      |         WHERE doc_id NOT IN (SELECT doc_id FROM dup))
      |SELECT doc_id, CAST(8 AS BIGINT) AS n_bands FROM live
      |ORDER BY doc_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("d79_index_near_dedup", indexNearDedup,
      Some(graft.QueryDef.materializeCtes(indexNearDedupSql))),
    QueryDef("d80_index_forget", indexForgetProbe,
      Some(graft.QueryDef.materializeCtes(indexForgetProbeSql))),
    QueryDef("d82_index_lifecycle_state", indexLifecycleState,
      Some(indexLifecycleStateSql)))
}
