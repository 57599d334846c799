package graft.ext

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index lifecycle — the step from "query library" to
  * "serving system": e24 ([[VectorOps.ivfPqKnn]]) computes coarse cells
  * and PQ codes inline per query, which is the right CORRECTNESS twin but
  * the wrong deployment posture — at 100 TB the index IS the product, and
  * rebuilding it per probe is what a real deployment rejects. This object
  * makes the index a versioned ON-DISK ARTIFACT:
  *
  *   - `v<n>/codebook/` — the TRAINED coarse codebook (cid, cv):
  *     e25's two deterministic Lloyd rounds ([[trainCoarse]]) run at
  *     BUILD time, so the committed artifact serves a trained
  *     quantizer, not the structural 16-lowest-vec_id stand-in the
  *     inline twins keep (the reference persists its own trained
  *     artifact the same way — data/models/next_hour_congestion.joblib,
  *     a model file beside the data, loaded at serve time);
  *   - `v<n>/pqcodebook/` — the TRAINED per-subspace PQ codebooks
  *     (cid, cj, cv): e33's per-subspace Lloyd ([[trainPq]]); stored
  *     codes index into THIS table and serve-time ADC tables are built
  *     against it (e57 measures the payoff: recall@5 at depth 10
  *     doubles vs the structural seed at sf0.01);
  *   - `v<n>/codes/cell=<c>/` — one 8-byte PQ code row per vector,
  *     HIVE-PARTITIONED BY COARSE CELL, so a probe reads exactly nprobe
  *     cell directories (partition-pruned scan — the e24 scaladoc's
  *     "codes bucketed by cell" promise, made literal on disk);
  *
  * `codebook/` and `pqcodebook/` exist in BASE versions only (the ones
  * owning `codes/`): every link above a base — `codes-delta/` appends,
  * `tombstones/` deletes — encodes against that base's quantizers, so
  * readers load both codebooks from the chain's base.
  *
  * Versions commit, resolve and prune through [[SegmentChain]] (the
  * commit-marker protocol, its crash-safety and read lease).
  * Build commits stamp `(-3, "index.r:<fingerprint>")` where the
  * fingerprint is a cheap deterministic aggregate of the indexed corpus
  * (row count + vec_id sum); [[ensureIndex]] rebuilds as a NEW version
  * only when the corpus fingerprint changed — the lakehouse REFRESH
  * discipline on plain parquet.
  *
  * Incremental maintenance ([[appendBatch]] / [[indexAppendSink]]):
  * micro-batches of new vectors are assigned against the COMMITTED
  * trained quantizers (never retrained — the FAISS
  * add-with-fixed-quantizer contract), PQ-encoded with the identical
  * 6-dp argmin discipline, and committed as an O(batch)
  * `v<cur+1>/codes-delta/` segment through the same marker flip, with
  * the CDC sink's (batch id, incarnation) stamp for exactly-once retry
  * detection; [[loadCodes]] unions base + deltas (cell filter pushed
  * into every segment scan), and chains fold back to one codes table on
  * the OPTIMIZE cadence ([[compactIndex]] / the append auto-fold). A
  * two-batch append is bit-identical to encoding the union against the
  * committed quantizers (StreamingSpec pins it) because code assignment
  * is a pure per-vector function of the fixed codebooks.
  *
  * Scale shape: build cost is one training pass (two Lloyd rounds,
  * map-side-combined centroid aggregates — e25/e33's cost model) plus
  * one corpus encode — the one-time cost serving amortizes; serve cost
  * is nprobe partition directories of 8-int code rows + a ≤128-row
  * broadcast ADC table, with the only shuffle the final per-candidate
  * sum over the probed cells. Append cost is batch-sized, never
  * corpus-sized — the delta commit writes |batch| code rows and the
  * ≤16-row stats; deletes are metadata-only tombstone commits.
  */
object VectorIndex {

  /** Subspace slicing shared by build and serve — e24's layout: 8
    * subspaces of 8 dims each over the 64-dim vectors.
    */
  private val subEx =
    """explode(transform(sequence(0, 7),
      |  j -> struct(j AS j, slice(v, 8 * j + 1, 8) AS sv))) AS s""".stripMargin

  /** e24's subspace distance: 6-dp-rounded L2² BEFORE the argmin, so
    * both engines (and the inline twin) hold identical codes.
    */
  private val l2 =
    "round(aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x), 6)"

  /** Codes chain: `codes` bases, `codes-delta` appends and `tombstones`
    * deletes; every version carries its stats, bases also the codebooks.
    */
  private val chain = new SegmentChain("codes")

  /** Graph chain: `edges` bases and `edges-delta` + `edges-tombstones`
    * mutations.
    */
  private val graphChain = new SegmentChain("edges")

  /** Default on-disk root for a data directory's index — under the JVM
    * temp dir, keyed by the full data path so two corpora never share an
    * index. The registry entry (e46) serves through this root.
    */
  def defaultRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-ann-index", dataDir)

  /** The corpus fingerprint build stamps carry ([[SegmentChain.fingerprint]]). */
  private def fingerprint(e: DataFrame): String =
    SegmentChain.fingerprint(e, "vec_id")

  /** Latest committed index version under `indexRoot`, None before the
    * first commit — the same marker resolution every CDC reader uses.
    */
  def latestVersion(s: SparkSession, indexRoot: String): Option[Long] =
    SegmentChain.latest(s, indexRoot)

  /** TRAINED coarse codebook (cid, cv) — e25's two deterministic Lloyd
    * rounds ([[VectorOps.kmeansCodebook]]'s exact chain: spherical
    * assignment with the lowest-cid tie-break, per-dimension
    * round(sum,6)/count mean update) seeded from the 16 lowest-id
    * vectors. The committed index serves a TRAINED quantizer, not the
    * structural stand-in the inline twins (e07/e18/e24) keep for their
    * correctness role; e39's sweep measured the structural codebook's
    * cost (recall@5 of 0.4 at depth 10) and this is the fix. Empty
    * cells drop, exactly as in e25.
    */
  private[graft] def trainCoarse(e: DataFrame): DataFrame = {
    def centroids(a: DataFrame): DataFrame =
      a.selectExpr("cell", "posexplode(v) AS (i, x)")
        .groupBy("cell", "i")
        .agg((round(sum("x"), 6) / count(lit(1))).as("m"))
        .groupBy("cell")
        .agg(expr("transform(sort_array(collect_list(struct(i, m))), p -> p.m)")
          .as("cv"))
        .selectExpr("cell AS cid", "cv")
    val cb0 = e.filter(col("vec_id") < 16).selectExpr("vec_id AS cid", "v AS cv")
    centroids(assignAgainst(e, centroids(assignAgainst(e, cb0))))
  }

  /** TRAINED per-subspace PQ codebooks (cid, cj, cv) — e33's chain
    * ([[VectorOps.pqCodebookTrain]]): each of the 8 subspaces
    * independently runs two k-means rounds (6-dp-rounded L2² argmin,
    * lowest-cid ties, round(sum,6)/count centroid update) from the 16
    * lowest-id vectors' subvectors. RAW-vector variant — kept as the
    * spec baseline [[trainPqResidual]] must beat (IndexSpec gates
    * residual reconstruction error strictly below this at equal bytes);
    * the committed artifact trains on residuals.
    */
  private[graft] def trainPq(e: DataFrame): DataFrame =
    trainPqOn(e.selectExpr("vec_id", subEx)
      .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv")))

  /** The per-subspace two-round Lloyd chain over an arbitrary
    * (vec_id, j, sv) subvector frame — shared by the raw and residual
    * training paths (identical rounding/tie discipline; only the input
    * subvectors differ).
    */
  private def trainPqOn(sub: DataFrame): DataFrame = {
    val cb0 = sub.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("j").as("cj"), col("sv").as("cv"))
    def assign(cb: DataFrame): DataFrame =
      sub.join(broadcast(cb), col("j") === col("cj"))
        .selectExpr("vec_id", "j", "sv", "cid", s"$l2 AS d2")
        .groupBy("vec_id", "j")
        .agg(max_by(col("cid"), struct((-col("d2")).as("nd"),
          (-col("cid")).as("nc"))).as("code"), first(col("sv")).as("sv"))
    def centroids(a: DataFrame): DataFrame =
      a.selectExpr("code", "j", "posexplode(sv) AS (i, x)")
        .groupBy("code", "j", "i")
        .agg((round(sum("x"), 6) / count(lit(1))).as("m"))
        .groupBy("code", "j")
        .agg(expr("transform(sort_array(collect_list(struct(i, m))), p -> p.m)")
          .as("cv"))
        .select(col("code").as("cid"), col("j").as("cj"), col("cv"))
    centroids(assign(centroids(assign(cb0))))
  }

  /** RESIDUALS of an assigned frame against an explicit coarse codebook
    * — r = v − centroid(cell), the quantity the committed PQ codebooks
    * train on and the stored codes encode (Jégou et al. 2011 §IV.B:
    * FAISS IndexIVFPQ's default; residual norms are much smaller than
    * vector norms, so the same 8-byte budget buys finer quantization —
    * e63 proved the encoding inline, this wires it into the artifact).
    * Exact double subtraction (determinism rule 4) against a 16-row
    * broadcast — one map-side projection, no shuffle.
    */
  private[graft] def residualsOf(assigned: DataFrame, cb: DataFrame): DataFrame =
    assigned.join(broadcast(cb), col("cell") === col("cid"))
      .selectExpr("vec_id", "cell", "zip_with(v, cv, (x, y) -> x - y) AS rv")

  /** TRAINED residual PQ codebooks: assign `e` against the trained
    * coarse codebook, take residuals, run the per-subspace Lloyd chain
    * on the residual subvectors (seeds: the 16 lowest ids' residuals —
    * the same deterministic convention as every other training seed).
    */
  private[graft] def trainPqResidual(e: DataFrame, cb: DataFrame): DataFrame =
    trainPqOn(residualsOf(assignAgainst(e, cb), cb)
      .selectExpr("vec_id", "rv AS v").selectExpr("vec_id", subEx)
      .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv")))

  /** Coarse-assign `e` (vec_id, v) against an explicit codebook —
    * e07's broadcast + max_by with the lowest-cid tie-break, but against
    * a LOADED codebook rather than the corpus' own 16 lowest ids (the
    * append path must never re-derive the quantizer from the batch).
    */
  private[graft] def assignAgainst(e: DataFrame, cb: DataFrame): DataFrame =
    e.crossJoin(broadcast(cb))
      .selectExpr("vec_id", "v", "cid", "cosine_similarity(v, cv) AS cs")
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("cs"), (-col("cid")).as("tb")))
        .as("cell"), first(col("v")).as("v"))

  /** PQ-encode an assigned frame (vec_id, cell, v) against the coarse
    * codebook `cb` and trained RESIDUAL PQ codebooks `pqcb` (cid, cj,
    * cv): take each vector's residual vs its cell's centroid, then per
    * subspace the 6-dp-rounded L2² argmin over that subspace's residual
    * centroids (ties to the lowest cid — e19/e24/e33's discipline),
    * packed to one array<int> of 8 codes per vector (8 bytes at
    * storage scale).
    */
  private def encodeAgainst(assigned: DataFrame, cb: DataFrame,
      pqcb: DataFrame): DataFrame = {
    val psub = residualsOf(assigned, cb)
      .selectExpr("vec_id", "cell", "rv AS v")
      .selectExpr("vec_id", "cell", subEx)
      .select(col("vec_id"), col("cell"), col("s.j").as("j"), col("s.sv").as("sv"))
    psub.join(broadcast(pqcb), col("j") === col("cj"))
      .selectExpr("vec_id", "cell", "j", "cid", s"$l2 AS d2")
      .groupBy("vec_id", "cell", "j")
      .agg(max_by(col("cid"), struct((-col("d2")).as("nd"),
        (-col("cid")).as("nc"))).as("code"))
      .groupBy("vec_id", "cell")
      .agg(expr("transform(sort_array(collect_list(struct(j, code))), p -> p.code)")
        .as("codes"))
  }

  /** Write codebook + cell-partitioned codes as base version `ver` —
    * the single commit step builds and folds end in.
    */
  private def commitVersion(s: SparkSession, indexRoot: String, ver: Long,
      cb: DataFrame, pqcb: DataFrame, codes: DataFrame, stamp: (Long, String),
      retain: Int): Long =
    chain.commit(s, indexRoot, ver, stamp, retain)(writeBase(s, _, cb, pqcb, codes))

  /** A base version's segments under `dir`: both codebooks, the codes
    * clustered by cell (one file per cell directory) and their stats.
    */
  private def writeBase(s: SparkSession, dir: org.apache.hadoop.fs.Path,
      cb: DataFrame, pqcb: DataFrame, codes: DataFrame): Unit = {
    writeCodebooks(dir, cb, pqcb)
    val codesDir = new org.apache.hadoop.fs.Path(dir, "codes").toString
    codes.hint("rebalance", col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(codesDir)
    // per-cell population stats, committed WITH the artifact (read back
    // from the just-written files — exact, and costs one 8-byte-row
    // column scan at build time, never at serve time): the adaptive
    // probe routes off this ≤16-row table instead of aggregating the
    // full code table per query
    writeStatsFrom(s, readCodesDir(s, codesDir), dir)
  }

  /** The codebooks live in base versions only (≤16 + ≤128 rows): every
    * link of a chain encodes against its base's quantizers.
    */
  private def writeCodebooks(dir: org.apache.hadoop.fs.Path, cb: DataFrame,
      pqcb: DataFrame): Unit = {
    cb.coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(dir, "codebook").toString)
    pqcb.coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(dir, "pqcodebook").toString)
  }

  private def codesSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("codes", ArrayType(LongType)),
      StructField("cell", LongType)))
  }

  private def readCodesDir(s: SparkSession, path: String): DataFrame =
    s.read.schema(codesSchema).parquet(path)

  private def writeStatsFrom(s: SparkSession, codes: DataFrame,
      vdir: org.apache.hadoop.fs.Path): Unit =
    codes.groupBy("cell").agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(vdir, "stats").toString)

  /** The committed per-cell population table (cell, cnt) — ≤16 rows,
    * maintained at every commit (recounted from written codes on
    * build/fold, merged incrementally on delta appends, decremented on
    * deletes) so probe-width decisions never scan the code table.
    */
  def loadStats(s: SparkSession, indexRoot: String): DataFrame =
    statsAt(s, chain.resolve(s, indexRoot))

  private def statsAt(s: SparkSession, c: SegmentChain.Snapshot): DataFrame = {
    import org.apache.spark.sql.types._
    s.read.schema(StructType(Seq(
        StructField("cell", LongType), StructField("cnt", LongType))))
      .parquet(c.dir(c.live, "stats"))
  }

  /** Build (or rebuild) the index from `e` (vec_id, v) as a NEW version
    * and commit it. Always writes — [[ensureIndex]] is the
    * fingerprint-guarded wrapper the registry uses.
    */
  private[graft] def buildIndexFrom(e: DataFrame, indexRoot: String,
      retain: Int = 2): Long = {
    val s = e.sparkSession
    graft.functions.GraftFunctions.register(s)
    val cb = trainCoarse(e)
    val pqcb = trainPqResidual(e, cb)
    commitVersion(s, indexRoot, SegmentChain.next(s, indexRoot), cb, pqcb,
      encodeCorpus(e, cb, pqcb), (-3L, s"index.r:${fingerprint(e)}"), retain)
  }

  /** Commit at `dstRoot` the encoding of `e` against `srcRoot`'s
    * COMMITTED quantizers — the spec witness for the fixed-quantizer
    * append contract: an append trail must converge to exactly this,
    * never to a from-scratch rebuild (which would RETRAIN on the grown
    * corpus and hold different centroids).
    */
  private[graft] def commitEncodedWith(e: DataFrame, srcRoot: String,
      dstRoot: String): Long = {
    val s = e.sparkSession
    graft.functions.GraftFunctions.register(s)
    val cb = loadCodebook(s, srcRoot)
    val pqcb = loadPqCodebook(s, srcRoot)
    commitVersion(s, dstRoot, SegmentChain.next(s, dstRoot), cb, pqcb,
      encodeCorpus(e, cb, pqcb), (-9L, "spec-encode"), 2)
  }

  /** Assign + encode `e` against EXPLICIT committed quantizers — the
    * pure per-vector function appends and builds share (a build is
    * train + this; an append is only this against the loaded
    * quantizers — the FAISS add-with-fixed-quantizer contract the
    * specs pin by re-deriving the expected codes through here).
    */
  private[graft] def encodeCorpus(e: DataFrame, cb: DataFrame,
      pqcb: DataFrame): DataFrame =
    encodeAgainst(assignAgainst(e, cb), cb, pqcb)

  /** Build the index of a data directory's embeddings table. */
  def buildIndex(s: SparkSession, dataDir: String, indexRoot: String,
      retain: Int = 2): Long =
    buildIndexFrom(VectorOps.vecs(s, dataDir).select("vec_id", "v"),
      indexRoot, retain)

  /** Resolve-or-build: reuse the latest committed version when its
    * stamped corpus fingerprint still matches, rebuild as a new version
    * otherwise (data changed under the same dir, or the latest commit is
    * an append trail from another writer — the registry's serving
    * queries demand the exact full-corpus artifact).
    */
  def ensureIndex(s: SparkSession, dataDir: String,
      indexRoot: String): Long = {
    val e = VectorOps.vecs(s, dataDir).select("vec_id", "v")
    SegmentChain.ensure(s, indexRoot, (-3L, s"index.r:${fingerprint(e)}"))(
      buildIndexFrom(e, indexRoot))
  }

  /** Load the latest committed version's codebook — 16 rows, read from
    * the chain's base. Throws with a clear message before the first
    * commit (readers must never guess at an uncommitted directory).
    */
  def loadCodebook(s: SparkSession, indexRoot: String): DataFrame =
    codebookAt(s, chain.resolve(s, indexRoot))

  /** The codebooks' DECLARED schemas (the committed files' own): an
    * inferred read would launch a schema-inference job per call.
    */
  private val codebookSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("cid", LongType),
      StructField("cv", ArrayType(DoubleType))))
  }

  private val pqCodebookSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("cid", LongType),
      StructField("cj", IntegerType),
      StructField("cv", ArrayType(DoubleType))))
  }

  private def codebookAt(s: SparkSession, c: SegmentChain.Snapshot): DataFrame =
    s.read.schema(codebookSchema).parquet(c.dir(c.base, "codebook"))

  /** Latest committed version's trained PQ codebooks (cid, cj, cv) —
    * ≤ 8×16 rows from the chain's base, broadcast at every serve/append
    * site.
    */
  def loadPqCodebook(s: SparkSession, indexRoot: String): DataFrame =
    pqCodebookAt(s, chain.resolve(s, indexRoot))

  private def pqCodebookAt(s: SparkSession, c: SegmentChain.Snapshot): DataFrame =
    s.read.schema(pqCodebookSchema).parquet(c.dir(c.base, "pqcodebook"))

  /** Load the latest committed version's code table (vec_id, codes,
    * cell). The schema is DECLARED (not inferred): partition discovery
    * would type `cell` from the directory names (int), and the
    * downstream `isin(longs)` partition filter must compare the
    * partition column directly — a cast in between can block pruning.
    * With the declared long type the probe filter reaches the reader as
    * a partition filter and only the probed cell directories are
    * listed/read — the read path the IndexSpec audits file-by-file.
    */
  def loadCodes(s: SparkSession, indexRoot: String): DataFrame =
    codesAt(s, chain.resolve(s, indexRoot))

  /** The LIVE view of chain `c`: a deletion-vector version shades ids
    * out of every reader without touching the code files — and it
    * shades ONLY the base segment ([[deleteIds]] compacts whenever the
    * live chain already carries deltas or tombstones), so a vector
    * deleted and later re-appended lives in an unshaded delta (re-add
    * works). The anti-join, when present, broadcasts the small
    * tombstone set UNDER the probe's partition filter; Catalyst pushes
    * the cell filter through the union into EVERY segment scan, so
    * pruning reaches base and delta reads alike. Delta segments are the
    * O(batch) appends since the base ([[appendBatch]]).
    */
  private def codesAt(s: SparkSession, c: SegmentChain.Snapshot): DataFrame =
    c.unionLive(s, "vec_id", "codes", "codes-delta")(readCodesDir(s, _))

  /** Delete `ids` (a one-column vec_id frame) from the served index —
    * the deletion-vector discipline on plain parquet: when the live
    * version owns its code files, the delete commits METADATA ONLY
    * (tombstones and the decremented stats; the code table and the
    * codebooks are referenced back to the chain base) — at 100 TB
    * this is the difference between an O(deleted) commit and an O(corpus)
    * rewrite. A second delete on top of a DV version COMPACTS instead
    * (codes minus every tombstone, rewritten cell-partitioned), both so
    * DV chains never grow unbounded and so the prune window (retain=2)
    * always contains the referenced codes version. Readers are never
    * torn: the marker flips last, and [[loadCodes]] serves the live view
    * (codes ∖ tombstones) whichever shape the live version has.
    * Idempotent per (stampId, stampTag) — the CDC retry discipline.
    */
  private[graft] def deleteIds(s: SparkSession, indexRoot: String,
      ids: DataFrame, stampId: Long, stampTag: String,
      retain: Int = 2): Long = {
    val c = chain.resolve(s, indexRoot)
    val stamp = (stampId, stampTag)
    if (SegmentChain.isRetry(s, indexRoot, c.live, stamp))
      return c.live // redelivery of the delete that produced the live version
    chain.commit(s, indexRoot, c.live + 1, stamp, retain) { dir =>
      def seg(name: String) = new org.apache.hadoop.fs.Path(dir, name).toString
      if (c.depth == 0) {
        // live is a clean base (a codes-owning version starts a fresh
        // chain: no deltas above it, no tombstones): metadata-only DV
        // commit — tombstones written, codes by reference
        ids.select("vec_id").distinct()
          .coalesce(1).write.mode("overwrite").parquet(seg("tombstones"))
        // stats decrement by the deleted ids' cells — the one per-delete
        // read of the (vec_id, cell) columns; the WRITE stays O(deleted)
        statsAt(s, c)
          .unionByName(codesAt(s, c)
            .join(broadcast(ids.select("vec_id")), Seq("vec_id"), "left_semi")
            .groupBy("cell").agg((-count(lit(1))).as("cnt")))
          .groupBy("cell").agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0)
          .coalesce(1).write.mode("overwrite").parquet(seg("stats"))
      } else {
        // live chain already carries tombstones and/or deltas: COMPACT
        // (live view minus the new ids, rewritten as a new base) — the
        // rule that keeps chains at most one tombstones version deep and
        // lets [[loadCodes]] shade only the base segment
        writeBase(s, dir, codebookAt(s, c), pqCodebookAt(s, c), codesAt(s, c)
          .join(broadcast(ids.select("vec_id")), Seq("vec_id"), "left_anti"))
      }
    }
  }

  /** IVF-PQ kNN served ENTIRELY off the loaded artifact — e24's query
    * (vec_id 0, nprobe 2, top 5 by ADC distance) with the inline
    * codebook/assignment/encode subtrees replaced by reads of the
    * committed version: route the query on the loaded 16-row codebook,
    * partition-prune the code table to the 2 probed cell directories,
    * ADC-score 8 one-byte codes per candidate against the query's
    * broadcast 8×16 lookup table. Bit-identical to [[VectorOps
    * .ivfPqKnn]] (CORRECTNESS pins both against the same oracle)
    * because build and inline twin share every rounding/tie discipline.
    */
  def serveIvfPqKnn(s: SparkSession, dataDir: String,
      indexRoot: String): DataFrame =
    serveAdc(s, dataDir, indexRoot)._2
      .orderBy(col("approx_d2"), col("vec_id"))
      .limit(5)

  /** Shared serving core: route → partition-pruned code read → ADC.
    * Returns (query frame (qv), per-candidate (vec_id, cell,
    * approx_d2)) — [[serveIvfPqKnn]] cuts the top-5, the re-rank path
    * shortlists top-10 and pays exact cosine only for those.
    */
  private def serveAdc(s: SparkSession, dataDir: String,
      indexRoot: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val c = chain.resolve(s, indexRoot)
    val cb = codebookAt(s, c)
    val q = VectorOps.vecs(s, dataDir).filter(col("vec_id") === 0)
      .selectExpr("v AS qv")
    // coarse routing: 16 loaded centroids × 1 query — driver-bounded
    val qcells = cb.crossJoin(broadcast(q))
      .selectExpr("cid", "cosine_similarity(cv, qv) AS cs")
      .orderBy(desc("cs"), col("cid")).limit(2)
      .select(col("cid").as("qcell"))
    // the probed cells as literals: isin() reaches the reader as a
    // partition filter, so only nprobe cell directories are listed/read
    // (a join would scan all partitions before filtering)
    val probed = qcells.collect().map(_.getLong(0)).toSeq
    val cand = codesAt(s, c)
      .filter(col("cell").isin(probed: _*))
      .filter(col("vec_id") =!= 0)
    // PER-CELL ADC lookup tables (nprobe × 8 × 16 rows): stored codes
    // quantize residuals, so the query side is q − centroid(cell) per
    // probed cell against the residual codebooks — the per-cell tables
    // IndexIVFPQ precomputes (e63's serving shape off the artifact)
    val qtab = perCellQueryTables(s, c, cb, q, qcells)
    val adc = cand.select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(qtab), col("cell") === col("tcell") &&
        col("j") === col("qj") && col("code") === col("qcid"))
      .groupBy("vec_id", "cell")
      .agg(round(sum("qd2"), 6).as("approx_d2"))
    (q, adc)
  }

  /** The query's per-cell residual ADC tables (tcell, qj, qcid, qd2) —
    * one 8×16 lookup table per cell in `cells(qcell)`: the query's
    * residual vs THAT cell's centroid in the serve's coarse codebook
    * `cb`, scored against the committed residual codebooks.
    * Broadcast-sized (|cells| × 128 rows).
    */
  private def perCellQueryTables(s: SparkSession, c: SegmentChain.Snapshot,
      cb: DataFrame, q: DataFrame, cells: DataFrame): DataFrame = {
    val qres = cells.join(broadcast(cb),
        col("qcell") === col("cid"))
      .crossJoin(broadcast(q))
      .selectExpr("qcell", "zip_with(qv, cv, (x, y) -> x - y) AS v")
      .selectExpr("qcell", subEx)
      .select(col("qcell"), col("s.j").as("j"), col("s.sv").as("sv"))
    qres.join(broadcast(pqCodebookAt(s, c)),
        col("j") === col("cj"))
      .selectExpr("qcell AS tcell", "j AS qj", "cid AS qcid", s"$l2 AS qd2")
  }

  /** [[perCellQueryTables]] keyed by query id — the batched-serving
    * variant: per (qid, probed cell) one 8×16 residual lookup table
    * (nQueries × nprobe × 128 rows, still broadcast-sized).
    */
  private def perQueryCellTables(s: SparkSession, c: SegmentChain.Snapshot,
      cb: DataFrame, qs: DataFrame, qcells: DataFrame): DataFrame = {
    val qres = qcells.join(broadcast(cb),
        col("qcell") === col("cid"))
      .join(qs, Seq("qid"))
      .selectExpr("qid", "qcell", "zip_with(qv, cv, (x, y) -> x - y) AS v")
      .selectExpr("qid", "qcell", subEx)
      .select(col("qid"), col("qcell"), col("s.j").as("j"), col("s.sv").as("sv"))
    qres.join(broadcast(pqCodebookAt(s, c)),
        col("j") === col("cj"))
      .selectExpr("qid AS tqid", "qcell AS tcell", "j AS qj",
        "cid AS qcid", s"$l2 AS qd2")
  }

  /** Two-stage serving off the persisted index — e20's production
    * pattern on e24's routing: the 8-byte codes SHORTLIST (top-10 by
    * ADC distance over the probed cells), then ONLY the shortlist pays
    * an exact-cosine re-rank against raw vectors — a 10-row broadcast
    * join into the primary store, raw-vector IO proportional to the
    * shortlist, never the corpus or even the probed cells. This is the
    * complete serving stack a deployment runs per query: partition-
    * pruned index read + bounded refine.
    */
  def serveIvfPqRerank(s: SparkSession, dataDir: String,
      indexRoot: String): DataFrame = {
    val (q, adc) = serveAdc(s, dataDir, indexRoot)
    val shortlist = adc.orderBy(col("approx_d2"), col("vec_id"))
      .limit(10).select("vec_id")
    VectorOps.vecs(s, dataDir).join(broadcast(shortlist), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .selectExpr("vec_id", "round(cosine_similarity(v, qv), 6) AS cos_sim")
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(5)
  }

  /** One incremental append commit: assign + encode `batch` (vec_id, v)
    * against the COMMITTED trained quantizers (never retrained — the
    * FAISS add-with-fixed-quantizer contract), committed as an O(batch)
    * `codes-delta/` segment via [[appendEncoded]] — at 100 TB the
    * difference between a batch-sized write and the corpus rewrite the
    * plain-union shape cost. The (batchId, incarnation) stamp gives the
    * CDC sink's exactly-once retry detection: a redelivered batch whose
    * stamp IS the latest marker no-ops. Returns the live version.
    */
  private[graft] def appendBatch(batch: DataFrame, indexRoot: String,
      batchId: Long, incarnationId: String, retain: Int = 2): Long = {
    val s = batch.sparkSession
    graft.functions.GraftFunctions.register(s)
    val c = chain.resolve(s, indexRoot)
    val stamp = (batchId, incarnationId)
    if (SegmentChain.isRetry(s, indexRoot, c.live, stamp))
      return c.live // genuine retry of the batch that produced the live version
    // streaming sinks regularly deliver empty micro-batches — an empty
    // append must not cost a commit (version churn + a full write)
    if (batch.isEmpty) return c.live
    val cb = codebookAt(s, c)
    val pqcb = pqCodebookAt(s, c)
    appendEncoded(s, c, cb, pqcb, encodeCorpus(batch, cb, pqcb), stamp, retain)
  }

  /** Commit already-encoded `fresh` codes as the next version — as an
    * O(batch) `codes-delta/` segment (the point of incremental
    * maintenance: append IO scales with the batch, never the corpus),
    * auto-FOLDING into a self-contained codes version once the chain is
    * [[SegmentChain.AppendFoldThreshold]] deep (the OPTIMIZE cadence —
    * [[compactIndex]] is the explicit maintenance entry).
    */
  private def appendEncoded(s: SparkSession, c: SegmentChain.Snapshot,
      cb: DataFrame, pqcb: DataFrame, fresh: DataFrame, stamp: (Long, String),
      retain: Int): Long =
    if (c.shouldFold)
      commitVersion(s, c.root, c.live + 1, cb, pqcb,
        codesAt(s, c).select("vec_id", "cell", "codes").unionByName(fresh),
        stamp, retain)
    else chain.commit(s, c.root, c.live + 1, stamp, retain) { dir =>
      val deltaDir = new org.apache.hadoop.fs.Path(dir, "codes-delta").toString
      fresh.write.mode("overwrite").partitionBy("cell").parquet(deltaDir)
      // stats merge incrementally: prior table + the written delta's
      // per-cell counts — O(batch + 16), the commit never rescans codes
      statsAt(s, c)
        .unionByName(readCodesDir(s, deltaDir)
          .groupBy("cell").agg(count(lit(1)).as("cnt")))
        .groupBy("cell").agg(sum("cnt").as("cnt"))
        .coalesce(1).write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(dir, "stats").toString)
    }

  /** Fold the live chain (base ∖ tombstones ∪ deltas) into ONE
    * self-contained codes version through [[SegmentChain.fold]],
    * stamped (−2, "optimize") so stream retry detection can never
    * mistake it for a batch, and a no-op on a chain that is already its
    * own base. After the fold, the
    * chain-aware prune retires the old base + deltas once the read lease
    * expires. None before the first commit.
    */
  def compactIndex(s: SparkSession, indexRoot: String,
      retain: Int = 2): Option[Long] =
    chain.fold(s, indexRoot, retain)((c, dir) =>
      writeBase(s, dir, codebookAt(s, c), pqCodebookAt(s, c),
        codesAt(s, c).select("vec_id", "cell", "codes")))

  /** Streaming maintenance sink: each micro-batch of new vectors
    * appends through [[appendBatch]] — version re-resolved per batch,
    * committed exactly once per (batch id, incarnation) stamp through
    * [[SegmentChain]].
    */
  def indexAppendSink(vectors: DataFrame, indexRoot: String,
      retain: Int = 2): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    SegmentChain.stampedSink(vectors) { (b, id, incarnation) =>
      appendBatch(b, indexRoot, id, incarnation, retain)
      ()
    }


  // ---------------------------------------------------------------- e46

  /** The registry entry: ensure the committed index for `dir` (build on
    * first touch, fingerprint-guarded reuse after), then serve e24's
    * query off the loaded artifact. The oracle is the INLINE
    * computation (e24's CTE chain verbatim) — the hash equality IS the
    * build→commit→load→serve ≡ inline-build guarantee, cross-engine.
    */
  def ivfPqKnnServed(s: SparkSession, dir: String): DataFrame = {
    val root = defaultRoot(dir)
    ensureIndex(s, dir, root)
    serveIvfPqKnn(s, dir, root)
  }

  /** BATCHED-query serving off the persisted index — the throughput
    * pattern a serving tier actually runs: route all `nQueries`
    * queries on the loaded codebook at once, take the UNION of their
    * probed cells as ONE partition-pruned read (each cell directory is
    * read once no matter how many queries probe it), then fan the
    * per-(query, candidate) ADC out from broadcast lookup tables
    * (nQueries×8×16 rows). Per-query top-k is a window PARTITIONED by
    * query id — parallel across queries, never a global funnel. e08 is
    * this shape brute-force; this is it against the committed artifact.
    */
  def serveIvfPqKnnBatch(s: SparkSession, dataDir: String,
      indexRoot: String, nQueries: Int = 10, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val c = chain.resolve(s, indexRoot)
    val cb = codebookAt(s, c)
    val qs = VectorOps.vecs(s, dataDir).filter(col("vec_id") < nQueries)
      .selectExpr("vec_id AS qid", "v AS qv")
    val qcells = qs.crossJoin(broadcast(cb))
      .selectExpr("qid", "cid", "cosine_similarity(cv, qv) AS cs")
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cs"), col("cid"))))
      .filter(col("rn") <= 2).select(col("qid"), col("cid").as("qcell"))
      // nQueries×2 rows, read three times (the probed-cells collect,
      // the candidate join, the per-query ADC tables): materialize
      // once, GC-owned
      .localCheckpoint()
    // ≤16 distinct cells however many queries probe them — one read
    val probed = qcells.select("qcell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cand = codesAt(s, c)
      .filter(col("cell").isin(probed: _*))
    val candQ = cand.join(broadcast(qcells), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("qid"))
    val qtab = perQueryCellTables(s, c, cb, qs, qcells)
    candQ.select(col("qid"), col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(qtab), col("qid") === col("tqid") &&
        col("cell") === col("tcell") &&
        col("j") === col("qj") && col("code") === col("qcid"))
      .groupBy("qid", "vec_id", "cell")
      .agg(round(sum("qd2"), 6).as("approx_d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("approx_d2"), col("vec_id"))))
      .filter(col("rn") <= k).drop("rn")
      .orderBy("qid", "approx_d2", "vec_id")
  }

  // ---------------------------------------------------------------- e47

  /** Registry entry: the two-stage shortlist + exact-re-rank serve off
    * the ensured index; the oracle is the inline e24 chain extended
    * with the identical shortlist/re-rank tail.
    */
  def ivfPqRerankServed(s: SparkSession, dir: String): DataFrame = {
    val root = defaultRoot(dir)
    ensureIndex(s, dir, root)
    serveIvfPqRerank(s, dir, root)
  }

  // ---------------------------------------------------------------- e49

  /** The kNN GRAPH as a committed artifact — the third index family
    * (after IVF-PQ codes and MinHash postings) through the same marker
    * protocol: e27's in-bucket top-3 adjacency written as
    * `v<n>/edges/` (src-sorted, so row-group min/max stats prune the
    * per-hop probes), fingerprint-stamped for reuse. HNSW-family
    * deployments persist exactly this: the graph build is the
    * expensive corpus pass, the walk only ever probes adjacency.
    */
  def defaultGraphRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-ann-graph", dataDir)

  def ensureGraphIndex(s: SparkSession, dataDir: String,
      root: String, retain: Int = 2): Long = {
    val e = VectorOps.vecs(s, dataDir).select("vec_id", "v")
    val stamp = (-3L, s"index:${fingerprint(e)}")
    SegmentChain.ensure(s, root, stamp)(
      commitGraphFull(s, root, SegmentChain.next(s, root),
        VectorOps.knnGraph(s, dataDir)
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst")),
        stamp, retain))
  }

  /** The LIVE adjacency: base `edges/` folded with every mutation
    * segment committed since, in commit order — per segment the rows of
    * TOUCHED sources (the delta's own srcs plus that commit's
    * tombstoned nodes) are superseded (last-writer-wins per src), then
    * the delta's repaired/new adjacency unions in. A tombstoned node
    * vanishes from BOTH sides: its own rows are superseded with no
    * replacement, and every source that pointed at it was touched by
    * that delete's repair (so its in-edges were rewritten) — the
    * invariant [[graphDeleteBatch]] maintains. Deltas are batch-sized,
    * so the per-segment supersede is a broadcast anti-join on the base
    * scan; chains fold back to one `edges/` table on the
    * [[SegmentChain.AppendFoldThreshold]] cadence ([[compactGraphIndex]]
    * / the mutation auto-fold).
    */
  def loadGraph(s: SparkSession, root: String): DataFrame =
    graphAt(s, graphChain.resolve(s, root))

  private def graphAt(s: SparkSession, c: SegmentChain.Snapshot): DataFrame = {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType)))
    val tsch = StructType(Seq(StructField("src", LongType)))
    c.links.foldLeft(s.read.schema(sch).parquet(c.dir(c.base, "edges"))) { (acc, i) =>
      val (hasD, hasT) = (c.has(i, "edges-delta"), c.has(i, "edges-tombstones"))
      if (!hasD && !hasT) acc
      else {
        val delta =
          if (hasD) s.read.schema(sch).parquet(c.dir(i, "edges-delta"))
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        val superseded =
          (if (hasT) delta.select("src").unionByName(
            s.read.schema(tsch).parquet(c.dir(i, "edges-tombstones")))
          else delta.select("src")).distinct()
        acc.join(broadcast(superseded), Seq("src"), "left_anti")
          .unionByName(delta)
      }
    }
  }

  /** Commit a SELF-CONTAINED adjacency as `v<ver>/edges` — the base/fold
    * commit both graph builds and chain folds end in (src-sorted so
    * row-group min/max stats prune per-hop probes).
    */
  private def commitGraphFull(s: SparkSession, root: String, ver: Long,
      edges: DataFrame, stamp: (Long, String), retain: Int): Long =
    graphChain.commit(s, root, ver, stamp, retain)(writeEdges(_, edges))

  private def writeEdges(dir: org.apache.hadoop.fs.Path, edges: DataFrame): Unit =
    edges.sortWithinPartitions("src").write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(dir, "edges").toString)

  /** Commit the kNN graph of `vecs` as the next base version, stamped
    * (-3, "graph:<fingerprint>") — the first commit of every maintained
    * graph's ensure chain.
    */
  private def commitGraphBase(s: SparkSession, root: String,
      vecs: DataFrame): Long =
    commitGraphFull(s, root, SegmentChain.next(s, root),
      VectorOps.knnGraphFrom(vecs)
        .select(col("vec_id").as("src"), col("neighbor_id").as("dst")),
      (-3L, s"graph:${fingerprint(vecs)}"), 2)

  /** Commit an O(touched) mutation segment: the touched sources' full
    * new adjacency (`edges-delta/`) plus the removed nodes
    * (`edges-tombstones/`) — the graph family's answer to codes-delta /
    * postings-delta: a micro-batch mutation writes bytes proportional
    * to the touched neighborhood, never the corpus. Auto-folds into a
    * self-contained `edges/` version once the chain is
    * [[SegmentChain.AppendFoldThreshold]] deep.
    */
  private def commitGraphMutation(s: SparkSession, c: SegmentChain.Snapshot,
      delta: DataFrame, tombstones: Option[DataFrame], stamp: (Long, String),
      retain: Int): Long =
    if (c.shouldFold) {
      // fold: resolve the live view (base ∖ superseded ∪ deltas), apply
      // this mutation on top, write one self-contained edges version
      val superseded = tombstones.foldLeft(delta.select("src").distinct())(
        (t, rm) => t.unionByName(rm.select("src"))).distinct()
      val merged = graphAt(s, c)
        .join(broadcast(superseded), Seq("src"), "left_anti")
        .unionByName(delta)
      commitGraphFull(s, c.root, c.live + 1, merged, stamp, retain)
    } else graphChain.commit(s, c.root, c.live + 1, stamp, retain) { dir =>
      delta.sortWithinPartitions("src").write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(dir, "edges-delta").toString)
      tombstones.foreach(_.select("src").distinct()
        .coalesce(1).write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(dir, "edges-tombstones").toString))
    }

  /** Fold the live graph chain into ONE self-contained `edges/` version
    * — [[compactIndex]]'s maintenance shape on the graph family, through
    * [[SegmentChain.fold]]. None before the first commit.
    */
  def compactGraphIndex(s: SparkSession, root: String,
      retain: Int = 2): Option[Long] =
    graphChain.fold(s, root, retain)((c, dir) => writeEdges(dir, graphAt(s, c)))

  /** Registry entry: e40's beam-walk recall audit with the adjacency
    * LOADED from the committed graph artifact instead of rebuilt —
    * identical output by construction (the walk is a pure function of
    * graph + vectors), pinned by e40's own oracle CTE chain.
    */
  def graphWalkServed(s: SparkSession, dir: String): DataFrame = {
    val root = defaultGraphRoot(dir)
    ensureGraphIndex(s, dir, root)
    // NOT persisted: the committed adjacency is a cheap pruned file
    // scan re-read per hop, and a library caller must not accrete a
    // cached plan per invocation (e61's hygiene; CacheSpec-pinned)
    val g = loadGraph(s, root)
    VectorOps.graphWalkRecallFrom(
      VectorOps.vecs(s, dir).select("vec_id", "label", "v"), g, nQueries = 10)
  }

  // ---------------------------------------------------------------- e55

  def defaultGraphInsRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-ann-graph-ins", dataDir)

  /** The deterministic incoming slice e55 inserts (0 stays in the base,
    * so the walk's min-id entry point is a base vector).
    */
  private[graft] def graphInsertPred = "vec_id % 29 = 7"

  /** INCREMENTAL graph-index maintenance — the HNSW insert primitive
    * (Malkov & Yashunin 2016 §4, alg. 1 at one layer): a new vector is
    * connected by SEARCHING the committed graph, never by rebuilding
    * it. Per incoming vector: (1) beam-walk it as a query over the live
    * adjacency (e40's exact walk — entry, hops, beam, 6-dp scores,
    * vec_id ties); (2) its out-edges are the final beam's top-3;
    * (3) each chosen neighbor gets a BACK-edge candidate and re-prunes
    * its adjacency to top-3 by cosine among old ∪ new (the
    * connect-and-prune that keeps degree bounded, so graph size stays
    * O(3n) under any insert volume). The touched adjacency commits as
    * an O(touched) `edges-delta/` segment through the marker flip
    * ([[commitGraphMutation]]), exactly-once by stamp.
    * Batch inserts connect against the COMMITTED version only —
    * in-batch siblings are invisible to each other (e52's retry-stable
    * discipline; sequential HNSW would see them, a documented
    * difference that keeps verdicts replayable).
    *
    * Scale shape: per insert the walk probes O(hops · beam · degree)
    * adjacency rows and the re-prune touches only the ≤3 chosen
    * neighbors' lists — insert cost is corpus-size-INDEPENDENT, the
    * property that makes graph indexes the mutable-serving default,
    * while e27's batch build stays the bulk path.
    */
  private[graft] def graphInsertBatch(incoming: DataFrame,
      baseVecs: DataFrame, root: String, batchId: Long,
      incarnationId: String, retain: Int = 2): Long = {
    import org.apache.spark.sql.expressions.Window
    val s = incoming.sparkSession
    graft.functions.GraftFunctions.register(s)
    val c = graphChain.resolve(s, root)
    val stamp = (batchId, incarnationId)
    if (SegmentChain.isRetry(s, root, c.live, stamp)) return c.live
    // empty micro-batch: nothing to connect — returning the live version
    // avoids version churn for no-op input
    if (incoming.isEmpty) return c.live
    // TRUNCATE LINEAGE before walking: the resolved live view is a
    // segment chain (base ∖ superseded ∪ deltas), and the beam walk
    // references it at every hop — as a Catalyst TREE each reference
    // copies the whole chain subtree, so hops × chain length explodes
    // analysis time (measured: minutes at chain length 8). One eager
    // materialization makes the walk's graph input a leaf; the edge
    // table is O(3n) long-pairs, executor-storage-sized at any corpus.
    val g = graphAt(s, c).localCheckpoint()
    val q = incoming.selectExpr("vec_id AS qid", "v AS qv")
    val beam = VectorOps.walkFinalBeam(baseVecs, g, q)
    val outE = beam
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("c"), col("vid"))))
      .filter(col("rn") <= 3)
      .select(col("qid").as("src"), col("vid").as("dst"))
    val vall = baseVecs.select("vec_id", "v")
      .unionByName(incoming.select("vec_id", "v"))
    def withCos(edges: DataFrame): DataFrame = edges
      .join(vall.selectExpr("vec_id AS src", "v AS sv"), Seq("src"))
      .join(vall.selectExpr("vec_id AS dst", "v AS dv"), Seq("dst"))
      .selectExpr("src", "dst", "round(cosine_similarity(sv, dv), 6) AS c")
    val bl = outE.select(col("dst").as("src"), col("src").as("dst"))
    val touched = bl.select("src").distinct()
    val pruned = withCos(g.join(touched, Seq("src"), "left_semi")
        .unionByName(bl))
      .withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy(desc("c"), col("dst"))))
      .filter(col("rn") <= 3)
      .select("src", "dst")
    // O(touched) commit: the delta carries ONLY the inserted nodes'
    // out-lists plus the re-pruned neighbors' adjacency — untouched
    // rows stay in the base segment, superseded-at-read per src
    // ([[loadGraph]]). The write scales with the batch's neighborhood,
    // never the graph — the codes-delta discipline on the edge table.
    commitGraphMutation(s, c, pruned.unionByName(outE), None, stamp, retain)
  }

  /** Streaming maintenance sink for the graph index: each micro-batch
    * of new vectors inserts through [[graphInsertBatch]] against the
    * re-resolved committed version — the third streaming maintenance
    * path beside [[indexAppendSink]] (codes) and
    * [[vectorAdmissionSink]] (gated codes). `primary` supplies the
    * already-indexed vectors the walk scores against; at real scale
    * that is the vector store the graph indexes.
    */
  def graphInsertSink(vectors: DataFrame, primary: DataFrame,
      indexRoot: String, retain: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    SegmentChain.stampedSink(vectors) { (b, id, incarnation) =>
      graphInsertBatch(b, primary, indexRoot, id, incarnation, retain)
      ()
    }


  /** Registry entry: build the BASE split's graph as a committed
    * artifact, insert the incoming slice through [[graphInsertBatch]],
    * then report every live edge incident to an inserted vector —
    * its out-edges plus the back-edges that SURVIVED the neighbors'
    * re-prune — with each edge's rank in its source's final adjacency.
    * The oracle replays walk + connect + prune inline from raw data, so
    * the hash pins search-based insert ≡ the declared HNSW semantics.
    */
  /** Resolve-or-build the maintained graph: the base split's committed
    * graph followed by one insert commit of the incoming slice — shared
    * by e55 (edge report) and e56 (recall audit of the same artifact).
    */
  private[graft] def ensureInsertedGraph(s: SparkSession, dir: String,
      root: String): Long = {
    graft.functions.GraftFunctions.register(s)
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    val incoming = e.filter(expr(graphInsertPred))
    val base = e.filter(expr(s"NOT ($graphInsertPred)"))
    val want = s"graph+ins[$graphInsertPred]:${fingerprint(e)}"
    SegmentChain.ensure(s, root, (-5L, want)) {
      commitGraphBase(s, root, base)
      graphInsertBatch(incoming, base, root, -5L, want)
    }
  }

  def graphInsertServed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    val incoming = e.filter(expr(graphInsertPred))
    val root = defaultGraphInsRoot(dir)
    ensureInsertedGraph(s, dir, root)
    val adj = loadGraph(s, root)
      .join(e.selectExpr("vec_id AS src", "v AS sv"), Seq("src"))
      .join(e.selectExpr("vec_id AS dst", "v AS dv"), Seq("dst"))
      .selectExpr("src", "dst", "round(cosine_similarity(sv, dv), 6) AS cos_sim")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("src").orderBy(desc("cos_sim"), col("dst"))))
    val incIds = incoming.select("vec_id")
    adj.join(broadcast(incIds.withColumnRenamed("vec_id", "src")),
        Seq("src"), "left_semi")
      .unionByName(
        adj.join(broadcast(incIds.withColumnRenamed("vec_id", "dst")),
          Seq("dst"), "left_semi"))
      .selectExpr("src", "CAST(rnk AS INT) AS rnk", "dst", "cos_sim")
      .orderBy("src", "rnk")
  }

  // ---------------------------------------------------------------- e62

  def defaultLifecycleRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-ann-index-life", dataDir)

  /** The held-out slice e62 appends (seeds stay in the base so the
    * trained quantizers derive from the initial corpus).
    */
  private[graft] def lifeAppendPred = "vec_id % 13 = 2 AND vec_id >= 16"

  /** Resolve-or-build the FULL-LIFECYCLE index: build the base split
    * (trained quantizers) → metadata-only DELETE of every 7th base
    * vector → delta APPEND of the held-out slice — the three commit
    * kinds composed in one chain, exactly the shape a long-lived
    * deployment's version history has. The stamp encodes both rules.
    */
  private[graft] def ensureLifecycleIndex(s: SparkSession, dir: String,
      root: String): Long = {
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    val base = e.filter(expr(s"NOT ($lifeAppendPred)"))
    val appendSlice = e.filter(expr(lifeAppendPred))
    val want = s"index.r+life[app=$lifeAppendPred;del=$deletePred]:${fingerprint(e)}"
    SegmentChain.ensure(s, root, (-7L, want)) {
      buildIndexFrom(base, root)                               // v0: codes
      deleteIds(s, root, base.filter(expr(deletePred))
        .select("vec_id"), -6L, s"life-del:$deletePred")       // v1: DV
      appendBatch(appendSlice, root, -7L, want)                // v2: delta
    }
  }

  /** Registry entry: e24's probe served off the index AFTER the full
    * lifecycle chain (trained build → tombstone delete → delta append)
    * — the COMPOSITION pin for the vector artifact, d81's discipline on
    * the index family: e50 pins the delete alone and the append specs
    * pin the append alone, but only a chained serve proves the segment
    * semantics interact correctly (tombstones shade the base segment
    * only; appended vectors encode against the base-trained quantizers
    * and stay live even where the delete rule would match them). The
    * oracle replays train-on-base → assign/encode base ∖ deleted ∪
    * appended → route → ADC inline.
    */
  def ivfPqLifecycleServed(s: SparkSession, dir: String): DataFrame = {
    val root = defaultLifecycleRoot(dir)
    ensureLifecycleIndex(s, dir, root)
    serveIvfPqKnn(s, dir, root)
  }

  // ---------------------------------------------------------------- e61

  /** BATCHED answer serving off the committed graph artifact — e48's
    * multi-query amortization on the graph rung: all 10 standard
    * queries beam-walk the LOADED adjacency in ONE plan (the per-hop
    * expand joins carry qid, so the graph is probed once per hop for
    * the whole batch, not once per query), and each query's top-5
    * final-beam answers emit with their rank — the per-query SERVING
    * face (answers, not the recall audit e49 reports). Per-query top-k
    * is a qid-partitioned window — parallel across queries, never a
    * global funnel.
    */
  def graphBatchServed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = defaultGraphRoot(dir)
    ensureGraphIndex(s, dir, root)
    graft.functions.GraftFunctions.register(s)
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    // NOT persisted: the walk re-reads the small edge parquet per hop
    // (a pruned file scan), and a library caller of this entry must not
    // accrete a cached plan per invocation (CacheSpec pins it)
    val g = loadGraph(s, root)
    val q = e.filter(col("vec_id") < 10).selectExpr("vec_id AS qid", "v AS qv")
    VectorOps.walkFinalBeam(e, g, q)
      .filter(col("vid") =!= col("qid"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("c"), col("vid"))))
      .filter(col("rnk") <= 5)
      .selectExpr("qid", "CAST(rnk AS INT) AS rnk", "vid",
        "c AS cos_sim")
      .orderBy("qid", "rnk")
  }

  // ---------------------------------------------------------------- e58

  def defaultGraphDelRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-ann-graph-del", dataDir)

  /** The deterministic slice e58 deletes from the committed graph. */
  private[graft] def graphDeletePred = "vec_id % 31 = 3"

  /** DELETE from the committed kNN graph with NEIGHBORHOOD REPAIR —
    * the connect-and-prune rule in reverse (the e55 insert's inverse,
    * closing the graph family's mutation pair the way e50/d80 closed
    * IVF-PQ and the text index): removing a node drops its out-list
    * and every edge pointing at it, and each in-neighbor that lost an
    * edge INHERITS the removed node's surviving out-neighbors as
    * reconnection candidates (the deleted node's neighborhood is the
    * best local approximation of where its in-edges should re-route —
    * HNSW-family repair), then re-prunes its adjacency to top-3 by
    * cosine (desc, lowest-dst ties) over surviving ∪ inherited.
    *
    * Scale shape: cost is O(|removed| · degree²) — the lost-edge scan
    * is an anti/semi join on the ≤3-per-node edge table, candidates
    * per touched node are ≤ degree + degree·degree, and untouched
    * adjacency rows pass through untouched. Never a rebuild.
    * Exactly-once by (stampId, stampTag); empty delete sets no-op.
    */
  private[graft] def graphDeleteBatch(ids: DataFrame, allVecs: DataFrame,
      root: String, stampId: Long, stampTag: String,
      retain: Int = 2): Long = {
    import org.apache.spark.sql.expressions.Window
    val s = ids.sparkSession
    graft.functions.GraftFunctions.register(s)
    val c = graphChain.resolve(s, root)
    val stamp = (stampId, stampTag)
    if (SegmentChain.isRetry(s, root, c.live, stamp)) return c.live
    if (ids.isEmpty) return c.live
    // truncated lineage, as in [[graphInsertBatch]]: the repair derives
    // lost/inherited/surviving sets from the live view several times —
    // each reference would re-copy the chain subtree into the plan tree
    val g = graphAt(s, c).localCheckpoint()
    val rm = ids.select("vec_id")
    val rmSrc = rm.withColumnRenamed("vec_id", "src")
    val rmDst = rm.withColumnRenamed("vec_id", "dst")
    // (u, r): u loses its edge to removed r
    val lost = g.join(broadcast(rmDst), Seq("dst"), "left_semi")
    // repaired sources: in-neighbors of removed nodes, themselves alive
    val touched = lost.select("src").distinct()
      .join(broadcast(rmSrc), Seq("src"), "left_anti")
    // inherited candidates: u → w for each lost (u, r) and live (r, w)
    val inherit = lost.select(col("src"), col("dst").as("r"))
      .join(g.select(col("src").as("r"), col("dst").as("w")), Seq("r"))
      .select(col("src"), col("w").as("dst"))
      .filter(col("src") =!= col("dst"))
      .join(broadcast(rmDst), Seq("dst"), "left_anti")
      .join(touched, Seq("src"), "left_semi")
    // surviving adjacency of the touched nodes
    val surv = g.join(touched, Seq("src"), "left_semi")
      .join(broadcast(rmDst), Seq("dst"), "left_anti")
    val cand = surv.unionByName(inherit).distinct()
    val scored = cand
      .join(allVecs.selectExpr("vec_id AS src", "v AS sv"), Seq("src"))
      .join(allVecs.selectExpr("vec_id AS dst", "v AS dv"), Seq("dst"))
      .selectExpr("src", "dst", "round(cosine_similarity(sv, dv), 6) AS c")
    val pruned = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("src").orderBy(desc("c"), col("dst"))))
      .filter(col("rn") <= 3)
      .select("src", "dst")
    // O(touched) commit: repaired adjacency as the delta; tombstones =
    // removed ids PLUS any touched source whose repair came up EMPTY
    // (every candidate was itself removed) — such a node contributes no
    // delta rows, so without its tombstone the base's stale edges to
    // removed nodes would survive the chain resolution. Untouched rows
    // never rewrite — they stay in the base segment (their dst cannot
    // be removed: a removed dst makes the src touched, so every in-edge
    // of a removed node is superseded by this commit — the invariant
    // [[loadGraph]]'s resolution relies on). The write is
    // O(|removed| · degree²), never O(graph).
    val emptied = touched.join(pruned.select("src").distinct(),
      Seq("src"), "left_anti")
    commitGraphMutation(s, c, pruned,
      Some(rm.withColumnRenamed("vec_id", "src").unionByName(emptied)),
      stamp, retain)
  }

  /** Streaming deletion sink for the graph index: each micro-batch of
    * (vec_id) delete requests commits one repair-delete through
    * [[graphDeleteBatch]] against the re-resolved committed version —
    * the fourth streaming maintenance path beside [[indexAppendSink]],
    * [[vectorAdmissionSink]] and [[graphInsertSink]], completing the
    * graph family's live mutation pair (insert + delete). `primary`
    * supplies the vectors the re-prune scores against.
    */
  def graphDeleteSink(ids: DataFrame, primary: DataFrame,
      indexRoot: String, retain: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    SegmentChain.stampedSink(ids) { (b, id, incarnation) =>
      graphDeleteBatch(b, primary, indexRoot, id, incarnation, retain)
      ()
    }


  /** Resolve-or-build the deleted graph: the FULL corpus' committed
    * graph followed by one repair-delete commit of the slice — e50's
    * ensure discipline on the graph family (the stamp encodes the
    * delete RULE, so a changed predicate rebuilds).
    */
  private[graft] def ensureDeletedGraph(s: SparkSession, dir: String,
      root: String): Long = {
    graft.functions.GraftFunctions.register(s)
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    val want = s"graph+del[$graphDeletePred]:${fingerprint(e)}"
    SegmentChain.ensure(s, root, (-6L, want)) {
      commitGraphBase(s, root, e)
      graphDeleteBatch(e.filter(expr(graphDeletePred)).select("vec_id"),
        e, root, -6L, want)
    }
  }

  /** Registry entry: the REPAIRED adjacency after the delete commit —
    * every live edge of a repaired (touched) source with its rank in
    * that source's final list. The oracle replays build → drop →
    * inherit → re-prune inline from raw data, so the hash pins the
    * local repair ≡ the declared reverse connect-and-prune semantics
    * (and, implicitly, that no removed node survives anywhere the
    * repaired rows can see).
    */
  def graphDeleteServed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    val root = defaultGraphDelRoot(dir)
    ensureDeletedGraph(s, dir, root)
    val rm = e.filter(expr(graphDeletePred)).select("vec_id")
    val live = loadGraph(s, root)
    // touched = sources that had an edge to a removed node in the BASE
    // graph; recompute cheaply as: live sources adjacent to nothing
    // removed whose base adjacency lost a member — instead, replay the
    // base-graph lost-edge derivation (one ≤3-per-node edge build)
    val base = VectorOps.knnGraphFrom(e)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
    val touched = base
      .join(broadcast(rm.withColumnRenamed("vec_id", "dst")), Seq("dst"), "left_semi")
      .select("src").distinct()
      .join(broadcast(rm.withColumnRenamed("vec_id", "src")), Seq("src"), "left_anti")
    live.join(touched, Seq("src"), "left_semi")
      .join(e.selectExpr("vec_id AS src", "v AS sv"), Seq("src"))
      .join(e.selectExpr("vec_id AS dst", "v AS dv"), Seq("dst"))
      .selectExpr("src", "dst", "round(cosine_similarity(sv, dv), 6) AS cos_sim")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("src").orderBy(desc("cos_sim"), col("dst"))))
      .selectExpr("src", "CAST(rnk AS INT) AS rnk", "dst", "cos_sim")
      .orderBy("src", "rnk")
  }

  // ---------------------------------------------------------------- e64

  def defaultGraphLifeRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-ann-graph-life", dataDir)

  /** Resolve-or-build the FULL-LIFECYCLE graph artifact: base build on
    * the non-inserted split (self-contained `edges/`) → one HNSW
    * insert commit of the slice (O(touched) `edges-delta/`) → one
    * repair-delete commit of the delete slice (`edges-delta/` +
    * `edges-tombstones/`) — the graph family's three commit kinds
    * composed in one chain, [[ensureLifecycleIndex]]'s shape on the
    * fourth family. The stamp encodes both mutation rules.
    */
  private[graft] def ensureGraphLifecycle(s: SparkSession, dir: String,
      root: String): Long = {
    graft.functions.GraftFunctions.register(s)
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    val incoming = e.filter(expr(graphInsertPred))
    val base = e.filter(expr(s"NOT ($graphInsertPred)"))
    val want =
      s"graph+life[ins=$graphInsertPred;del=$graphDeletePred]:${fingerprint(e)}"
    SegmentChain.ensure(s, root, (-7L, want)) {
      commitGraphBase(s, root, base)                               // v0
      graphInsertBatch(incoming, base, root,
        -5L, s"life-ins:$graphInsertPred")                         // v1
      graphDeleteBatch(e.filter(expr(graphDeletePred)).select("vec_id"),
        e, root, -7L, want)                                        // v2
    }
  }

  /** Registry entry: the batch beam walk SERVED off the graph artifact
    * after its full mutation history — build → HNSW insert → repair
    * delete, then e61's 10-query serving face over the folded chain
    * (queries restricted to live vectors). This is the composition pin
    * for [[loadGraph]]'s commit-order fold across mutation KINDS: the
    * insert's delta and the delete's delta + tombstones resolve
    * against one base, and only a walk over the final adjacency
    * observes their interaction (a stale superseded row, an unshaded
    * tombstone or a mis-ordered fold all shift some query's beam). The
    * oracle replays build → connect-and-prune → drop-inherit-re-prune
    * → walk inline from raw data.
    */
  def graphLifecycleServed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = defaultGraphLifeRoot(dir)
    ensureGraphLifecycle(s, dir, root)
    graft.functions.GraftFunctions.register(s)
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    // three-kind chain → truncate lineage before the multi-hop walk
    // (the measured Catalyst chain-subtree blowup, round-13 lesson)
    val g = loadGraph(s, root).localCheckpoint()
    val q = e.filter(col("vec_id") < 10 && !expr(graphDeletePred))
      .selectExpr("vec_id AS qid", "v AS qv")
    VectorOps.walkFinalBeam(e, g, q)
      .filter(col("vid") =!= col("qid"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("c"), col("vid"))))
      .filter(col("rnk") <= 5)
      .selectExpr("qid", "CAST(rnk AS INT) AS rnk", "vid", "c AS cos_sim")
      .orderBy("qid", "rnk")
  }

  // ---------------------------------------------------------------- e65

  /** HYBRID RRF retrieval served off BOTH committed artifacts — e41's
    * fusion with the inline stacks replaced by index reads, the serving
    * face a RAG deployment actually runs: the lexical arm is
    * [[RetrievalIndex.serveMoreLikeThis]] over the committed BM25
    * index (keyed df resolution, bucket-pruned term-pushed postings),
    * the dense arm is this family's batched two-stage serve (ADC
    * shortlist of 20 from the probed cells' stored codes, exact-cosine
    * re-rank of the shortlist only — e47's discipline ×10 queries),
    * fused by rrf(d) = Σ_side 1/(60 + rank_side(d)) in e41's exact
    * arithmetic. Note the dense arm is the INDEX's answer, not e41's
    * exact top-20 — the oracle replays the ADC chain, so the hash pins
    * what the artifact genuinely serves, shortlist membership included.
    *
    * Scale shape: every read is an index read — ≤50 term posting
    * lists + ≤8-row keyed vocab lookups on the lexical side, nprobe-
    * pruned code partitions + a 20-row-per-query raw-vector fetch on
    * the dense side; fusion runs on two 20-row-per-query shortlists.
    * No corpus scan anywhere — that is the entire point of serving off
    * the committed artifacts.
    */
  def hybridRrfServed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val broot = RetrievalIndex.ensureCorpusIndex(s, dir)
    val vroot = defaultRoot(dir)
    ensureIndex(s, dir, vroot)
    // query-doc token sets from the primary store (production keeps a
    // forward index for this read; the inverted index is the wrong
    // layout for a doc-id probe)
    val qtoks = graft.Tables.documents(s, dir).filter(col("doc_id") < 10)
      .selectExpr("doc_id AS qid", "explode(split(text, ' ')) AS token")
      .distinct()
      // query-batch-bounded (≤10 docs' token sets) and read twice inside
      // serveMoreLikeThis (the distinct-token collect and the term join):
      // materialize once, GC-owned, instead of two corpus scans
      .localCheckpoint()
    val lex = RetrievalIndex.serveMoreLikeThis(s, broot, qtoks, n = 20)
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    val qs = e.filter(col("vec_id") < 10).selectExpr("vec_id AS qid", "v AS qv")
    val dense = serveIvfPqKnnBatch(s, dir, vroot, nQueries = 10, k = 20)
      .select("qid", "vec_id")
      .join(e, Seq("vec_id"))
      .join(broadcast(qs), Seq("qid"))
      .selectExpr("qid", "vec_id AS doc_id",
        "round(cosine_similarity(v, qv), 6) AS c")
      .withColumn("dense_rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("c"), col("doc_id"))))
      .select(col("qid"), col("doc_id"),
        col("dense_rank").cast("int").as("dense_rank"))
    lex.join(dense, Seq("qid", "doc_id"), "full_outer")
      .withColumn("rrf0",
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("rrf0").desc, col("doc_id").asc)))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank").cast("int").as("rank"), col("doc_id"),
        round(col("rrf0"), 6).as("rrf"), col("lex_rank"), col("dense_rank"))
      .orderBy("qid", "rank")
  }

  // ---------------------------------------------------------------- e48

  /** Registry entry: the 10-query batch served off the ensured index;
    * oracle = the inline chain generalized per query id.
    */
  def ivfPqBatchServed(s: SparkSession, dir: String): DataFrame = {
    val root = defaultRoot(dir)
    ensureIndex(s, dir, root)
    serveIvfPqKnnBatch(s, dir, root)
  }

  // ---------------------------------------------------------------- e50

  /** Own root for the delete-bearing index: e46-e48 serve the intact
    * corpus artifact and must never observe e50's tombstones.
    */
  def defaultDeleteRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-ann-index-del", dataDir)

  /** The deterministic delete set e50 commits: every 7th vector —
    * large enough to shade candidates out of real probe answers, and a
    * pure id predicate both engines can restate exactly.
    */
  private[graft] def deletePred = "vec_id % 7 = 1"

  /** Resolve-or-build the deleted-view index: a build commit followed
    * by one DV delete commit, stamped `(-4, index+del:<fingerprint>)`
    * so reruns on an unchanged corpus reuse the live version without
    * re-deleting (and a changed corpus rebuilds the full chain).
    */
  private[graft] def ensureDeletedIndex(s: SparkSession, dataDir: String,
      root: String): Long = {
    val e = VectorOps.vecs(s, dataDir).select("vec_id", "v")
    // the tag encodes the delete RULE: a changed predicate on an
    // unchanged corpus must rebuild rather than reuse old tombstones
    val want = s"index.r+del[$deletePred]:${fingerprint(e)}"
    SegmentChain.ensure(s, root, (-4L, want)) {
      buildIndexFrom(e, root)
      deleteIds(s, root, e.filter(expr(deletePred)).select("vec_id"),
        -4L, want)
    }
  }

  /** Registry entry: e24's probe served off the index AFTER a
    * deletion-vector commit removed every 7th vector — the serve path
    * is [[serveIvfPqKnn]] verbatim ([[loadCodes]] shades the tombstoned
    * ids), the oracle is the inline e24 chain with the deleted ids
    * excluded from the candidate set, so the hash equality pins the
    * metadata-only delete ≡ rebuild-without-the-rows guarantee.
    */
  def ivfPqDeleteServed(s: SparkSession, dir: String): DataFrame = {
    val root = defaultDeleteRoot(dir)
    ensureDeletedIndex(s, dir, root)
    serveIvfPqKnn(s, dir, root)
  }

  // ---------------------------------------------------------------- e53

  def defaultLabeledRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-ann-index-lbl", dataDir)

  /** Build/ensure the LABELED index: the same codebook + cell-
    * partitioned codes, with each code row carrying the vector's label
    * (4 bytes/row) — typed metadata IN the index, the layout every
    * filtered-vector-search deployment uses so a metadata predicate can
    * prune candidates at the index scan instead of after the distance
    * math.
    */
  private[graft] def ensureLabeledIndex(s: SparkSession, dataDir: String,
      root: String): Long = {
    val e = VectorOps.vecs(s, dataDir).select("vec_id", "label", "v")
    val stamp = (-3L, s"index.r+lbl:${fingerprint(e)}")
    SegmentChain.ensure(s, root, stamp) {
      val ev = e.select("vec_id", "v")
      val cb = trainCoarse(ev)
      val pqcb = trainPqResidual(ev, cb)
      val codes = encodeCorpus(ev, cb, pqcb)
        .join(e.select("vec_id", "label"), Seq("vec_id"))
      commitVersion(s, root, SegmentChain.next(s, root), cb, pqcb, codes,
        stamp, 2)
    }
  }

  def loadLabeledCodes(s: SparkSession, indexRoot: String): DataFrame =
    labeledCodesAt(s, chain.resolve(s, indexRoot))

  private def labeledCodesAt(s: SparkSession, c: SegmentChain.Snapshot): DataFrame = {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("codes", ArrayType(LongType)),
      StructField("label", IntegerType),
      StructField("cell", LongType)))
    s.read.schema(sch).parquet(c.dir(c.base, "codes"))
  }

  /** Registry entry: filtered vector search SERVED off the committed
    * labeled index — e11's "nearest WHERE label = 3" pattern at index
    * scale: route the query (nprobe 2), read ONLY the probed cell
    * directories, and apply the label predicate AT THE CODE SCAN
    * (a plain column filter Catalyst pushes into the parquet read —
    * candidates prune before any distance math, the filter-then-rank
    * order that wins whenever the predicate is selective), then ADC-
    * shortlist 10 and exact-re-rank only the shortlist. The oracle
    * replays the identical chain with the label restriction in the
    * candidate CTE.
    */
  def filteredKnnServed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = defaultLabeledRoot(dir)
    ensureLabeledIndex(s, dir, root)
    graft.functions.GraftFunctions.register(s)
    val c = chain.resolve(s, root)
    val cb = codebookAt(s, c)
    val q = VectorOps.vecs(s, dir).filter(col("vec_id") === 0)
      .selectExpr("v AS qv")
    val qcells = cb.crossJoin(broadcast(q))
      .selectExpr("cid", "cosine_similarity(cv, qv) AS cs")
      .orderBy(desc("cs"), col("cid")).limit(2)
      .select(col("cid").as("qcell"))
    val probed = qcells.collect().map(_.getLong(0)).toSeq
    val cand = labeledCodesAt(s, c)
      .filter(col("cell").isin(probed: _*))
      .filter(col("label") === 3 && col("vec_id") =!= 0)
    val qtab = perCellQueryTables(s, c, cb, q, qcells)
    val shortlist = cand.select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(qtab), col("cell") === col("tcell") &&
        col("j") === col("qj") && col("code") === col("qcid"))
      .groupBy("vec_id")
      .agg(round(sum("qd2"), 6).as("approx_d2"))
      .orderBy(col("approx_d2"), col("vec_id")).limit(10)
      .select("vec_id")
    VectorOps.vecs(s, dir).join(broadcast(shortlist), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .selectExpr("vec_id", "label",
        "round(cosine_similarity(v, qv), 6) AS cos_sim")
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(5)
  }

  // ---------------------------------------------------------------- e54

  /** ADAPTIVE-nprobe serving — the fixed nprobe=2 of e46 is a knob, and
    * the e43 beam sweep showed what a too-small knob does (starved
    * answers); this entry makes the probe width SELF-SIZING: cells are
    * taken in routing order (cosine to the query, lowest-cid ties)
    * until the cumulative member count can satisfy k, so a query
    * landing in dense cells probes 1-2 directories while one landing in
    * sparse cells widens automatically — FAISS's "probe until the
    * shortlist fills" operational rule, expressed DECLARATIVELY (a
    * cumulative sum over the 16-row routing table — no driver loop, no
    * re-planning round-trips). Cell populations are an index-metadata
    * aggregate (at scale: kept with the artifact, here one count over
    * the committed codes). The probed prefix then serves the standard
    * partition-pruned ADC top-k.
    */
  def serveAdaptiveNprobe(s: SparkSession, dataDir: String,
      indexRoot: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val c = chain.resolve(s, indexRoot)
    val cb = codebookAt(s, c)
    val q = VectorOps.vecs(s, dataDir).filter(col("vec_id") === 0)
      .selectExpr("v AS qv")
    // cell populations come from the COMMITTED ≤16-row stats table —
    // the probe-width decision never scans the code table (the stats
    // are maintained at every commit). The query vector itself is not
    // an answer, so its own cell's count drops by one; its assigned
    // cell IS the top-1 routed cell (assignment ≡ routing, same argmax
    // + lowest-cid tie-break — both engines replay this identically).
    val cellCounts = statsAt(s, c)
    // the routing table: 16 rows — the unpartitioned running sum is
    // bounded by the codebook size, never by data
    val routed0 = cb.crossJoin(broadcast(q))
      .selectExpr("cid", "cosine_similarity(cv, qv) AS cs")
      .join(cellCounts, col("cid") === col("cell"), "left")
      .select(col("cid"), col("cs"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val routed = routed0
      .withColumn("rk", row_number().over(
        Window.orderBy(desc("cs"), col("cid"))))
      // clamp at 0: a routed cell whose stats count is already 0 (all
      // members deleted while the centroid persists, or a non-member
      // query) must not push the running coverage sum negative
      .withColumn("cnt", when(col("rk") === 1,
          greatest(col("cnt") - 1, lit(0L)))
        .otherwise(col("cnt")))
      .drop("rk")
    val wr = Window.orderBy(desc("cs"), col("cid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val probed = routed
      .withColumn("cum", sum("cnt").over(wr))
      .filter(col("cum") - col("cnt") < k)
      .select("cid").collect().map(_.getLong(0)).toSeq
    val cand = codesAt(s, c)
      .filter(col("cell").isin(probed: _*))
      .filter(col("vec_id") =!= 0)
    val qtab = perCellQueryTables(s, c, cb, q,
      cb.select(col("cid").as("qcell")).filter(col("qcell").isin(probed: _*)))
    cand.select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(qtab), col("cell") === col("tcell") &&
        col("j") === col("qj") && col("code") === col("qcid"))
      .groupBy("vec_id", "cell")
      .agg(round(sum("qd2"), 6).as("approx_d2"))
      .withColumn("n_probed", lit(probed.length))
      .orderBy(col("approx_d2"), col("vec_id"))
      .limit(k)
  }

  /** Registry entry: the self-sizing probe off the ensured index; the
    * oracle replays the cumulative routing-prefix rule inline.
    */
  def adaptiveNprobeServed(s: SparkSession, dir: String): DataFrame = {
    val root = defaultRoot(dir)
    ensureIndex(s, dir, root)
    serveAdaptiveNprobe(s, dir, root)
  }

  // ---------------------------------------------------------------- e52

  /** Near-dup verdicts for a batch of vectors probed against the
    * COMMITTED index — [[TextIndex]]'s admission discipline on the
    * vector side: route each incoming vector on the loaded codebook
    * (nprobe 2), ADC-shortlist the top 10 candidates from the probed
    * cells' stored codes, and only the shortlist pays an exact-cosine
    * verify against raw vectors fetched from `primary` (candidate-
    * proportional vector IO — e47's two-stage serve run as a dedup
    * gate). A vector is a near-dup when its best verified cosine ≥
    * `tau`; the verdict carries the best match and its similarity.
    * `excludeIds` anti-joins the code table before probing (the retry
    * guard: a redelivered batch must not collide with its own
    * just-appended codes).
    */
  private[ext] def admissionVerdicts(batch: DataFrame, primary: DataFrame,
      indexRoot: String, tau: Double,
      excludeIds: Option[DataFrame]): DataFrame =
    verdictsAt(batch, primary, chain.resolve(batch.sparkSession, indexRoot),
      tau, excludeIds)

  private def verdictsAt(batch: DataFrame, primary: DataFrame,
      c: SegmentChain.Snapshot, tau: Double,
      excludeIds: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = batch.sparkSession
    graft.functions.GraftFunctions.register(s)
    val cb = codebookAt(s, c)
    val qs = batch.selectExpr("vec_id AS qid", "v AS qv")
    val qcells = qs.crossJoin(broadcast(cb))
      .selectExpr("qid", "cid", "cosine_similarity(cv, qv) AS cs")
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(desc("cs"), col("cid"))))
      .filter(col("rn") <= 2).select(col("qid"), col("cid").as("qcell"))
    val probed = qcells.select("qcell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val codes0 = codesAt(s, c).filter(col("cell").isin(probed: _*))
    val cand = excludeIds.foldLeft(codes0)((c, ex) =>
      c.join(broadcast(ex.select("vec_id")), Seq("vec_id"), "left_anti"))
      .join(broadcast(qcells), col("cell") === col("qcell"))
    val qtab = perQueryCellTables(s, c, cb, qs, qcells)
    val shortlist = cand
      .select(col("qid"), col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(qtab), col("qid") === col("tqid") &&
        col("cell") === col("tcell") &&
        col("j") === col("qj") && col("code") === col("qcid"))
      .groupBy("qid", "vec_id")
      .agg(round(sum("qd2"), 6).as("approx_d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qid").orderBy(col("approx_d2"), col("vec_id"))))
      .filter(col("rn") <= 10)
      .select("qid", "vec_id")
    val best = shortlist
      .join(primary.selectExpr("vec_id", "v AS mv"), Seq("vec_id"))
      .join(qs, Seq("qid"))
      .selectExpr("qid", "vec_id AS match_id",
        "cosine_similarity(mv, qv) AS c")
      .filter(col("c") >= tau) // unrounded compare — e06's discipline
      .groupBy("qid")
      .agg(max_by(struct(col("match_id"), col("c")),
        struct(col("c"), (-col("match_id")).as("tb"))).as("b"))
      .select(col("qid"), col("b.match_id").as("match_id"),
        round(col("b.c"), 6).as("cos_sim"))
    batch.select(col("vec_id")).join(best,
        col("vec_id") === col("qid"), "left")
      .select(col("vec_id"), col("match_id").isNotNull.as("is_near_dup"),
        col("match_id"), col("cos_sim"))
      .orderBy("vec_id")
  }

  /** One admission commit — verdicts against the live version, then the
    * ADMITTED vectors' codes appended as the next version (dedup-then-
    * index, [[TextIndex.admitBatch]]'s order). Verdicts are retry-stable
    * (own ids excluded from the probe); the append is exactly-once by
    * the (batchId, incarnation) stamp.
    */
  private[graft] def vectorAdmitBatch(batch: DataFrame, primary: DataFrame,
      indexRoot: String, batchId: Long, incarnationId: String,
      tau: Double = 0.9, retain: Int = 2): DataFrame = {
    val s = batch.sparkSession
    val c = chain.resolve(s, indexRoot)
    val verdicts = verdictsAt(batch, primary, c, tau,
      Some(batch.select("vec_id"))).cache()
    val stamp = (batchId, incarnationId)
    if (!SegmentChain.isRetry(s, indexRoot, c.live, stamp)) {
      val admitted = batch.join(
        verdicts.filter(col("is_near_dup")).select("vec_id"),
        Seq("vec_id"), "left_anti")
      // an all-dup (or empty) batch admits nothing — skip the commit
      // entirely rather than rewrite the index for no-op input
      if (!admitted.isEmpty) {
        val cb = codebookAt(s, c)
        val pqcb = pqCodebookAt(s, c)
        appendEncoded(s, c, cb, pqcb, encodeCorpus(admitted, cb, pqcb),
          stamp, retain)
      }
    }
    verdicts
  }

  /** Streaming admission sink: per micro-batch, [[vectorAdmitBatch]]
    * against the re-resolved committed version — the vector ingest
    * gate (only novel vectors enter the served index).
    */
  def vectorAdmissionSink(vectors: DataFrame, primary: DataFrame,
      indexRoot: String, tau: Double = 0.9, retain: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    SegmentChain.stampedSink(vectors) { (b, id, incarnation) =>
      val v = vectorAdmitBatch(b, primary, indexRoot, id, incarnation, tau,
        retain)
      v.count()
      // drop the per-batch verdict cache — a long-running sink must
      // not accrete one cached plan per micro-batch in storage memory
      v.unpersist()
      ()
    }


  /** The registry's incoming/base split for e52: a deterministic id
    * slice of the corpus plays the arriving batch, the rest is the
    * already-admitted store (d79's arrangement on the vector side).
    * `vec_id >= 16` keeps the quantizer sources in the base.
    */
  private[graft] def admitPred = "vec_id % 23 = 5 AND vec_id >= 16"

  def defaultAdmitRoot(dataDir: String): String =
    SegmentChain.tmpRoot("graft-ann-admit", dataDir)

  /** Registry entry: ensure the base split's committed index, probe the
    * incoming split in one batch, emit per-vector verdicts. τ = 0.35
    * sits inside this corpus's best-match cosine range so BOTH verdicts
    * occur (the corpus plants no true near-dups — e06's demo-threshold
    * note; production runs τ ≈ 0.95 with the identical shape). The oracle
    * replays route → ADC shortlist → exact verify per incoming vector
    * from raw data, so the hash pins build → commit → probe ≡ the
    * inline two-stage computation.
    */
  def vectorAdmission(s: SparkSession, dir: String): DataFrame = {
    val e = VectorOps.vecs(s, dir).select("vec_id", "v")
    val incoming = e.filter(expr(admitPred))
    val base = e.filter(expr(s"NOT ($admitPred)"))
    val root = defaultAdmitRoot(dir)
    SegmentChain.ensure(s, root, (-3L, s"index.r:${fingerprint(base)}"))(
      buildIndexFrom(base, root))
    admissionVerdicts(incoming, base, root, tau = 0.35, None)
  }

  // ---------------------------------------------------------------- e51

  /** Quantization-health audit of the COMMITTED index — the operations
    * counterpart to e14's balance audit: per coarse cell, how faithfully
    * the stored 8-byte PQ codes reconstruct their vectors. A vector's
    * reconstruction error is the L2² between it and its code-selected
    * centroid subvectors, which (codes being the 6-dp argmin — e19/e24's
    * discipline) equals the sum of its 8 chosen subspace distances. A
    * cell whose mean/max error grows after appends is the "retrain the
    * quantizer" signal a FAISS-style deployment watches (Jégou et al.
    * 2011 §V: quantization error bounds the ADC ranking error) — this is
    * the measurement that decides when [[appendBatch]]'s fixed-codebook
    * contract has drifted too far from the data.
    *
    * Served OFF THE ARTIFACT: codes come from the committed version
    * (never re-derived), vectors join in from the primary store, and the
    * codebook's 8×16 subvector table broadcasts. Cost: one corpus join —
    * the same class as the build pass it audits, run on the audit
    * cadence, not per query.
    *
    * Determinism: d2 per subspace rounded at 6 dp (exact-decimal sums —
    * QueryDef rule 1), per-vector err = round(sum, 6), per-cell mean =
    * exact sum / exact count with no outer rounding (rule 2).
    */
  def pqReconAudit(s: SparkSession, dir: String): DataFrame = {
    val root = defaultRoot(dir)
    ensureIndex(s, dir, root)
    graft.functions.GraftFunctions.register(s)
    // codes quantize RESIDUALS (v̂ = centroid(cell) + q(r)), so the
    // reconstruction error is ‖r − q(r)‖² — the residual vs its
    // code-selected residual centroid, which still equals the sum of
    // the 8 chosen subspace distances
    val c = chain.resolve(s, root)
    val perj = codesAt(s, c)
      .join(VectorOps.vecs(s, dir).select("vec_id", "v"), Seq("vec_id"))
      .join(broadcast(codebookAt(s, c)), col("cell") === col("cid"))
      .selectExpr("vec_id", "cell", "codes",
        "zip_with(v, cv, (x, y) -> x - y) AS rv")
      .select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")), col("rv"))
      .withColumn("sv", expr("slice(rv, 8 * j + 1, 8)"))
      .join(broadcast(pqCodebookAt(s, c)),
        col("j") === col("cj") && col("code") === col("cid"))
      .selectExpr("vec_id", "cell", s"$l2 AS d2")
    perj.groupBy("vec_id", "cell")
      .agg(round(sum("d2"), 6).as("err"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        (round(sum("err"), 6) / count(lit(1))).as("mean_err"),
        max("err").as("max_err"))
      .orderBy("cell")
  }


  // ---------------------------------------------------------------- e57

  /** Recall@5 vs shortlist depth for the TRAINED committed index —
    * e39's sweep (the structural codebook's measurement: recall@5 of
    * 0.4 at depth 10) re-run against the artifact [[buildIndexFrom]]
    * now commits, so the trained-quantizer claim is an oracle-checked
    * NUMBER, not an argument: per depth n ∈ {5, 10, 25, 50}, recall@5
    * of the exact-re-rank pipeline whose ADC shortlist ranks the
    * committed codes against the query's trained lookup table. The
    * re-rank stage is exact cosine, so recall@5(n) = |exact top-5 ∩
    * ADC shortlist(n)| / 5, and the whole sweep reads one 50-deep
    * ranking (depths are prefixes — e39's monotone construction).
    * IndexSpec carries the trained ≥ structural gate per depth.
    *
    * Scale shape: one scan of the committed 8-byte codes (full index,
    * deliberately — the sweep audits PQ quality in isolation from the
    * IVF probe), a ≤50-row window, a 5-row exact side from raw
    * vectors. Run on the audit cadence, not per query.
    */
  def trainedShortlistSweep(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = defaultRoot(dir)
    ensureIndex(s, dir, root)
    graft.functions.GraftFunctions.register(s)
    val e = VectorOps.vecs(s, dir)
    val q = e.filter(col("vec_id") === 0).selectExpr("v AS qv")
    // the sweep scans the FULL code table (PQ quality in isolation from
    // the IVF probe), so the query needs a residual table per cell —
    // all 16 of them, still a ≤2048-row broadcast
    val c = chain.resolve(s, root)
    val cb = codebookAt(s, c)
    val qtab = perCellQueryTables(s, c, cb, q, cb.select(col("cid").as("qcell")))
    val short50 = codesAt(s, c).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(qtab), col("cell") === col("tcell") &&
        col("j") === col("qj") && col("code") === col("qcid"))
      .groupBy("vec_id")
      .agg(round(sum("qd2"), 6).as("approx_d2"))
      .orderBy(col("approx_d2"), col("vec_id")).limit(50)
      .withColumn("adc_rank", row_number().over(
        Window.orderBy(col("approx_d2"), col("vec_id"))))
      .select("vec_id", "adc_rank")
    val exact5 = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .selectExpr("vec_id", "round(cosine_similarity(v, qv), 6) AS cos_sim")
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(5)
      .join(broadcast(short50), Seq("vec_id"), "left")
    val grid = VectorOps.PqShortlists
      .map(n => s.range(1).select(lit(n).as("n_shortlist")))
      .reduce(_.unionByName(_))
    exact5.crossJoin(broadcast(grid))
      .groupBy("n_shortlist")
      .agg(sum(when(col("adc_rank") <= col("n_shortlist"), 1L)
        .otherwise(0L)).as("n_hits"))
      .select(col("n_shortlist"), col("n_hits"),
        (col("n_hits") / lit(5.0)).as("recall_at_5"))
      .orderBy("n_shortlist")
  }

  def defs: Seq[QueryDef] = Seq(
    QueryDef("e46_ivfpq_index_served", ivfPqKnnServed,
      Some(graft.QueryDef.materializeCtes(VectorOps.ivfPqKnnOracle))),
    QueryDef("e47_ivfpq_index_rerank", ivfPqRerankServed,
      Some(graft.QueryDef.materializeCtes(VectorOps.ivfPqRerankOracle))),
    QueryDef("e48_ivfpq_batch_served", ivfPqBatchServed,
      Some(graft.QueryDef.materializeCtes(VectorOps.ivfPqBatchOracle))),
    QueryDef("e49_graph_walk_served", graphWalkServed,
      Some(VectorOps.graphWalkRecallOracle)),
    QueryDef("e50_index_delete_served", ivfPqDeleteServed,
      Some(graft.QueryDef.materializeCtes(VectorOps.ivfPqDeleteOracle))),
    QueryDef("e51_pq_recon_audit", pqReconAudit,
      Some(VectorOps.pqReconAuditOracle)),
    QueryDef("e52_vector_admission", vectorAdmission,
      Some(graft.QueryDef.materializeCtes(VectorOps.vectorAdmissionOracle))),
    QueryDef("e53_filtered_knn_served", filteredKnnServed,
      Some(VectorOps.filteredKnnServedOracle)),
    QueryDef("e54_adaptive_nprobe", adaptiveNprobeServed,
      Some(graft.QueryDef.materializeCtes(VectorOps.adaptiveNprobeOracle))),
    QueryDef("e55_graph_insert", graphInsertServed,
      Some(graft.QueryDef.materializeCtes(VectorOps.graphInsertOracle))),
    QueryDef("e56_graph_maintained_recall", graphMaintainedRecall,
      Some(graft.QueryDef.materializeCtes(VectorOps.graphMaintainedRecallOracle))),
    QueryDef("e57_trained_shortlist_sweep", trainedShortlistSweep,
      Some(graft.QueryDef.materializeCtes(VectorOps.trainedShortlistSweepOracle))),
    QueryDef("e58_graph_delete_repair", graphDeleteServed,
      Some(VectorOps.graphDeleteOracle)),
    QueryDef("e61_graph_batch_served", graphBatchServed,
      Some(VectorOps.graphBatchServedOracle)),
    QueryDef("e62_index_lifecycle_served", ivfPqLifecycleServed,
      Some(graft.QueryDef.materializeCtes(VectorOps.ivfPqLifecycleOracle))),
    QueryDef("e64_graph_lifecycle_served", graphLifecycleServed,
      Some(graft.QueryDef.materializeCtes(VectorOps.graphLifecycleOracle))),
    QueryDef("e65_hybrid_index_served", hybridRrfServed,
      Some(graft.QueryDef.materializeCtes(VectorOps.hybridServedOracle))))

  // ---------------------------------------------------------------- e56

  /** Registry entry: e40's recall gate run ON THE MAINTAINED GRAPH —
    * the standard 10-query beam walk serves off the post-insert
    * artifact (base build + one HNSW insert commit) and is audited
    * against the exact top-5 over the FULL corpus, inserted vectors
    * included. This is the measurement that closes the e55 loop: the
    * insert path claims search-based maintenance preserves the graph's
    * serving quality, and this query makes that an oracle-checked
    * number instead of an argument (an insert that mangled adjacency —
    * dropped back-edges, unpruned degree growth, wrong neighborhoods —
    * shows up here as recall drift against the exact witness).
    */
  def graphMaintainedRecall(s: SparkSession, dir: String): DataFrame = {
    val root = defaultGraphInsRoot(dir)
    ensureInsertedGraph(s, dir, root)
    // NOT persisted — e49's hygiene note applies here too
    val g = loadGraph(s, root)
    VectorOps.graphWalkRecallFrom(
      VectorOps.vecs(s, dir).select("vec_id", "label", "v"), g,
      nQueries = 10)
  }
}
