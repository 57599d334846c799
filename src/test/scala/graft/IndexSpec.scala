package graft

import graft.ext.{SegmentChain, VectorIndex, VectorOps}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Persisted IVF-PQ index lifecycle ([[graft.ext.VectorIndex]]):
  * build (TRAINED quantizers) → commit → load → serve roundtrip,
  * torn-read impossibility through the marker protocol, fingerprint-
  * guarded reuse, version pruning, the partition-pruned probe read,
  * incremental append ≡ encode-with-the-committed-quantizers (the
  * fixed-quantizer contract), and the trained-vs-structural recall
  * gate.
  */
class IndexSpec extends SparkSpec {

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-index-$tag").toString

  private def fullVecs = VectorOps.vecs(spark, sf0001).select("vec_id", "v")

  /** Every FileSourceScanExec in an executed plan, walking through AQE
    * shells (plain collect() does not traverse them).
    */
  private def aqeScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case o => o.children
    }
    val self = p match {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => Seq(sc)
      case _ => Nil
    }
    self ++ kids.flatMap(aqeScans)
  }

  test("build -> commit -> load -> serve: deterministic, and the artifact is TRAINED") {
    val root = tmpRoot("roundtrip")
    val v0 = VectorIndex.buildIndex(spark, sf0001, root)
    assert(v0 == 0L)
    assert(VectorIndex.latestVersion(spark, root).contains(0L))
    val served = VectorIndex.serveIvfPqKnn(spark, sf0001, root).collect()
    assert(served.length == 5)
    // a second from-scratch build serves bit-identically (training is
    // deterministic: fixed seed, fixed rounds, pinned rounding/ties)
    val root2 = tmpRoot("roundtrip2")
    VectorIndex.buildIndex(spark, sf0001, root2)
    val served2 = VectorIndex.serveIvfPqKnn(spark, sf0001, root2).collect()
    assert(served.map(_.toSeq).toSeq == served2.map(_.toSeq).toSeq)
    // the committed coarse codebook is the TRAINED one — Lloyd moved
    // the centroids off the structural 16-lowest-vec_id stand-in
    val structural = fullVecs.filter(col("vec_id") < 16)
      .selectExpr("vec_id AS cid", "v AS cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList)).toMap
    val committed = VectorIndex.loadCodebook(spark, root).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toList))
    assert(committed.nonEmpty && committed.forall(c => c._1 < 16))
    assert(committed.exists(c => structural(c._1) != c._2),
      "training must move centroids off the structural seed")
    // and the PQ codebooks committed beside it (8 subspaces)
    val pq = VectorIndex.loadPqCodebook(spark, root)
    assert(pq.select("cj").distinct().count() == 8)
  }

  test("torn reads are impossible: no marker, no version") {
    val root = tmpRoot("torn")
    // pre-commit: resolution is None and readers refuse loudly
    assert(VectorIndex.latestVersion(spark, root).isEmpty)
    val ex = intercept[IllegalStateException] {
      VectorIndex.loadCodebook(spark, root)
    }
    assert(ex.getMessage.contains("no committed index version"))
    // a crashed build = data directory WITHOUT a marker: invisible
    VectorIndex.buildIndex(spark, sf0001, root)
    val partial = new java.io.File(root, "v99/codebook")
    partial.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(partial, "garbage.parquet").toPath, "not parquet")
    assert(VectorIndex.latestVersion(spark, root).contains(0L),
      "an unmarked version directory must not resolve")
    // and the reader still serves v0 whole
    assert(VectorIndex.loadCodebook(spark, root).count() == 16L)
  }

  test("ensureIndex reuses on matching fingerprint, rebuild bumps and prunes") {
    val root = tmpRoot("ensure")
    val v0 = VectorIndex.ensureIndex(spark, sf0001, root)
    assert(v0 == 0L)
    // same corpus → same stamped fingerprint → no new version
    assert(VectorIndex.ensureIndex(spark, sf0001, root) == 0L)
    // forced rebuilds commit monotone versions; retain=2 prunes v0 after v2
    assert(VectorIndex.buildIndex(spark, sf0001, root) == 1L)
    assert(VectorIndex.buildIndex(spark, sf0001, root) == 2L)
    val names = new java.io.File(root).list().toSet
    assert(VectorIndex.latestVersion(spark, root).contains(2L))
    assert(!names.contains("v0") && !names.contains("_commit-0"),
      s"retain=2 must prune v0: $names")
    assert(names.contains("v1") && names.contains("v2"), names.toString)
    // an EMPTY append is a no-op: no commit, no version churn (streams
    // deliver empty micro-batches routinely)
    VectorIndex.appendBatch(fullVecs.filter(col("vec_id") < 0), root, 6L, "x")
    assert(VectorIndex.latestVersion(spark, root).contains(2L))
    // an append trail (non-build stamp) does not satisfy ensureIndex:
    // it rebuilds to a full-corpus artifact rather than trusting it
    VectorIndex.appendBatch(
      fullVecs.limit(1).selectExpr("vec_id + 1000000 AS vec_id", "v"),
      root, 7L, "x")
    assert(VectorIndex.latestVersion(spark, root).contains(3L))
    assert(VectorIndex.ensureIndex(spark, sf0001, root) == 4L)
  }

  test("the probe read is partition-pruned to the probed cell directories") {
    val root = tmpRoot("prune")
    VectorIndex.buildIndex(spark, sf0001, root)
    val all = VectorIndex.loadCodes(spark, root)
    val nCells = all.select("cell").distinct().count()
    assert(nCells > 2, s"fixture must have >2 cells for the pruning claim, got $nCells")
    val probed = Seq(0L, 3L)
    val pruned = all.filter(col("cell").isin(probed: _*))
    // df.inputFiles reports the relation's FULL listing regardless of
    // filters — the pruning lives in the physical scan's partition
    // selection, so assert there
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "the cell probe must reach the scan as a partition filter")
    val files = scans.flatMap(_.selectedPartitions.toPartitionArray)
      .map(_.urlEncodedPath)
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("/cell=0/") || f.contains("/cell=3/")),
      s"probe read touched non-probed partitions: ${files.mkString(",")}")
    assert(files.length < all.inputFiles.length,
      "probe read must list fewer files than the full index")
  }

  test("two-batch append equals the batch build over the union") {
    val e = fullVecs
    val n = e.count()
    val cut = n / 2
    assert(cut > 16, "first batch must contain the 16 codebook vectors")
    val rootA = tmpRoot("append")
    val rootB = tmpRoot("batch")
    VectorIndex.buildIndexFrom(e.filter(col("vec_id") < cut), rootA)
    VectorIndex.appendBatch(e.filter(col("vec_id") >= cut), rootA, 0L, "spec")
    // the witness encodes the union against rootA's committed TRAINED
    // quantizers (the fixed-quantizer contract: appends never retrain;
    // a from-scratch rebuild would train on the union and differ)
    VectorIndex.commitEncodedWith(e, rootA, rootB)
    def snap(root: String) = VectorIndex.loadCodes(spark, root)
      .selectExpr("vec_id", "cell", "codes")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).toList)).sortBy(_._1).toSeq
    assert(snap(rootA) == snap(rootB))
    // codebooks bit-equal too (the append path must never retrain)
    def cb(root: String) = VectorIndex.loadCodebook(spark, root)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toList))
      .sortBy(_._1).toSeq
    assert(cb(rootA) == cb(rootB))
    // and the served query agrees between the two index trails
    assert(
      VectorIndex.serveIvfPqKnn(spark, sf0001, rootA).collect().map(_.toSeq).toSeq ==
      VectorIndex.serveIvfPqKnn(spark, sf0001, rootB).collect().map(_.toSeq).toSeq)
  }

  test("batched serving: one pruned read for all queries; the q0 slice equals the single-query serve") {
    val root = tmpRoot("batchserve")
    VectorIndex.buildIndex(spark, sf0001, root)
    val batch = VectorIndex.serveIvfPqKnnBatch(spark, sf0001, root)
    val rows = batch.collect()
    assert(rows.map(_.getLong(0)).distinct.length == 10, "5 answers per query")
    assert(rows.length == 50)
    // query 0 through the batch path ≡ the single-query serve
    val single = VectorIndex.serveIvfPqKnn(spark, sf0001, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val q0 = rows.filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(q0 == single)
    // the code read still reaches the reader as a partition filter —
    // the union of probed cells is ONE pruned scan, not one per query
    // (walk through AQE wrappers: the executed plan nests the scan
    // inside adaptive shells plain collect() does not traverse)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case o => o.children
      }
      val self = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.headOption
            .exists(_.toString.contains("/codes")) => Seq(s)
        case _ => Nil
      }
      self ++ kids.flatMap(scans)
    }
    val codeScans = scans(batch.queryExecution.executedPlan)
    assert(codeScans.nonEmpty && codeScans.forall(_.partitionFilters.nonEmpty))
  }

  test("training beats the structural seed: PQ quantization error strictly down") {
    // Lloyd monotonicity made measurable: each k-means round can only
    // lower the summed quantization error vs the codebook it started
    // from, and the seed IS the old structural codebook — so the
    // committed trained quantizers must reconstruct strictly better on
    // the corpus they trained on.
    val e = fullVecs
    val sub = e.selectExpr("vec_id",
      """explode(transform(sequence(0, 7),
        |  j -> struct(j AS j, slice(v, 8 * j + 1, 8) AS sv))) AS s""".stripMargin)
      .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv"))
    def totalErr(pq: org.apache.spark.sql.DataFrame): Double =
      sub.join(broadcast(pq), col("j") === col("cj"))
        .selectExpr("vec_id", "j",
          """round(aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)),
            |  0D, (a, x) -> a + x), 6) AS d2""".stripMargin)
        .groupBy("vec_id", "j").agg(min("d2").as("best"))
        .agg(sum("best")).head().getDouble(0)
    val structural = sub.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("j").as("cj"), col("sv").as("cv"))
    val trained = VectorIndex.trainPq(e)
    val errT = totalErr(trained)
    val errS = totalErr(structural)
    assert(errT < errS,
      s"trained PQ must reconstruct better than its structural seed: $errT vs $errS")
  }

  test("trained index serving recall >= structural at every shortlist depth (sf0.01)") {
    // the serving-quality gate on the real corpus: e57 (the sweep off
    // the TRAINED committed artifact) against e39 (the structural
    // codebook's inline sweep), depth by depth — measured, not argued
    val dir = "/root/testdata/sf0.01"
    def hits(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val t = hits(VectorIndex.trainedShortlistSweep(spark, dir))
    val st = hits(VectorOps.pqShortlistSweep(spark, dir))
    VectorOps.PqShortlists.foreach { n =>
      assert(t(n) >= st(n),
        s"trained recall regressed at depth $n: ${t(n)} < ${st(n)}")
    }
    assert(t(10) > st(10),
      s"trained must strictly beat structural at depth 10: $t vs $st")
  }

  // ------------------------------------------- deletion vectors (e50)

  test("delete on a codes version is metadata-only; the live view shades the ids") {
    val root = tmpRoot("dv")
    VectorIndex.buildIndexFrom(fullVecs, root)
    val before = VectorIndex.loadCodes(spark, root).count()
    import spark.implicits._
    val ids = Seq(3L, 20L, 21L).toDF("vec_id")
    val v1 = VectorIndex.deleteIds(spark, root, ids, 1L, "del-A")
    assert(v1 == 1L)
    // METADATA-ONLY: v1 has tombstones, codes and codebooks stay in v0
    val v1names = new java.io.File(root, "v1").list().toSet
    assert(v1names.contains("tombstones") && !v1names.contains("codes"),
      s"DV commit must not rewrite codes: $v1names")
    assert(new java.io.File(root, "v0/codes").exists(),
      "referenced codes version must survive the DV commit's prune")
    // live view: exactly the tombstoned ids gone, everything else intact
    val live = VectorIndex.loadCodes(spark, root)
    assert(live.count() == before - 3)
    assert(live.filter(col("vec_id").isin(3L, 20L, 21L)).count() == 0)
    // and the codebook still loads, from the chain's base
    assert(VectorIndex.loadCodebook(spark, root).count() == 16L)
  }

  test("delete serve equals the rebuild-without-the-rows witness") {
    import spark.implicits._
    val dvRoot = tmpRoot("dv-serve")
    val rebuildRoot = tmpRoot("dv-rebuild")
    // ids >= 16 only: the rebuild witness derives its codebook from
    // vec_id < 16, so deleting a quantizer source would retrain the
    // witness's codebook — the fixed-quantizer contract the DV side
    // keeps by construction (e50's oracle pins the <16 case too, with
    // the codebook held at the full corpus's)
    val del = fullVecs.filter(expr("vec_id % 7 = 1 AND vec_id >= 16"))
      .select("vec_id")
    VectorIndex.buildIndexFrom(fullVecs, dvRoot)
    VectorIndex.deleteIds(spark, dvRoot, del, 1L, "del")
    // rebuild witness: encode the reduced corpus against the DV side's
    // committed quantizers (trained on the FULL corpus before the
    // delete — a from-scratch rebuild would retrain on the survivors)
    VectorIndex.commitEncodedWith(
      fullVecs.join(del, Seq("vec_id"), "left_anti"), dvRoot, rebuildRoot)
    def snap(root: String) = VectorIndex.loadCodes(spark, root)
      .selectExpr("vec_id", "cell", "codes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList))
      .sortBy(_._1).toSeq
    assert(snap(dvRoot) == snap(rebuildRoot))
    assert(
      VectorIndex.serveIvfPqKnn(spark, sf0001, dvRoot).collect().map(_.toSeq).toSeq ==
      VectorIndex.serveIvfPqKnn(spark, sf0001, rebuildRoot).collect().map(_.toSeq).toSeq)
  }

  test("delete-then-append keeps the chain's base inside the prune window; compaction retires it") {
    val root = tmpRoot("dv-append")
    import spark.implicits._
    VectorIndex.buildIndexFrom(fullVecs, root)                     // v0: codes
    VectorIndex.deleteIds(spark, root, Seq(3L).toDF("vec_id"), 1L, "del") // v1: DV → v0
    val fresh = fullVecs.limit(1).selectExpr("vec_id + 1000000 AS vec_id", "v")
    val v2 = VectorIndex.appendBatch(fresh, root, 2L, "app")       // v2: delta → v0
    assert(v2 == 2L)
    // retain=2 keeps markers {v1, v2}; both reference v0's codes — the
    // chain-aware prune must keep the base (the naive newest-2 sweep
    // deleted it, breaking readers inside the documented lease)
    assert(new java.io.File(root, "v0/codes").exists(),
      "the chain references v0's codes — v0 must survive v2's prune")
    // the append is an O(batch) DELTA commit, not a corpus rewrite
    assert(new java.io.File(root, "v2/codes-delta").exists())
    assert(!new java.io.File(root, "v2/codes").exists())
    // the codebooks live in the base only: neither link copies them
    for (v <- Seq("v1", "v2"); cb <- Seq("codebook", "pqcodebook"))
      assert(!new java.io.File(root, s"$v/$cb").exists(),
        s"$v must not hold a $cb directory")
    // the live view: tombstoned id 3 gone, the appended id present
    val live = VectorIndex.loadCodes(spark, root)
    assert(live.filter(col("vec_id") === 3L).count() == 0)
    assert(live.filter(col("vec_id") >= 1000000L).count() == 1)
    // compaction folds the chain to one self-contained version (v3);
    // one more commit after that retires the old chain entirely
    assert(VectorIndex.compactIndex(spark, root).contains(3L))
    assert(new java.io.File(root, "v3/codes").exists())
    VectorIndex.appendBatch(
      fullVecs.limit(1).selectExpr("vec_id + 2000000 AS vec_id", "v"),
      root, 4L, "app")                                             // v4: delta → v3
    val names = new java.io.File(root).list().toSet
    assert(!names.contains("v0") && !names.contains("v1") && !names.contains("v2"),
      s"folded-away chain must prune once the lease expires: $names")
    assert(names.contains("v3") && names.contains("v4"), names.toString)
    // live view after the fold chain: still exactly base ∖ {3} ∪ appends
    val after = VectorIndex.loadCodes(spark, root)
    assert(after.filter(col("vec_id") === 3L).count() == 0)
    assert(after.filter(col("vec_id") >= 1000000L).count() == 2)
  }

  test("append commits are delta-sized: on-disk bytes scale with the batch, not the corpus") {
    val root = tmpRoot("delta-size")
    VectorIndex.buildIndexFrom(fullVecs, root)                     // v0
    def dirBytes(p: java.io.File): Long =
      if (p.isFile) p.length
      else Option(p.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    val baseBytes = dirBytes(new java.io.File(root, "v0/codes"))
    val n = fullVecs.count()
    val one = fullVecs.limit(1).selectExpr("vec_id + 5000000 AS vec_id", "v")
    VectorIndex.appendBatch(one, root, 0L, "sz")                   // v1: delta
    val v1 = new java.io.File(root, "v1")
    assert(new java.io.File(v1, "codes-delta").exists() &&
      !new java.io.File(v1, "codes").exists(),
      "a single-vector append must commit a delta, not rewrite the corpus")
    val deltaBytes = dirBytes(new java.io.File(v1, "codes-delta"))
    assert(deltaBytes * 4 < baseBytes,
      s"append bytes must be batch-sized: delta=$deltaBytes base=$baseBytes")
    // the union view serves the full corpus + the append
    assert(VectorIndex.loadCodes(spark, root).count() == n + 1)
    // and the probe read is STILL partition-pruned through the union:
    // the cell filter reaches base and delta scans alike
    val pruned = VectorIndex.loadCodes(spark, root)
      .filter(col("cell").isin(0L, 3L))
    pruned.collect()
    val scans = pruned.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "cell probe must stay a partition filter on every segment scan")
  }

  test("text-index admission commits are delta-sized; forget-then-admit keeps the base") {
    import graft.ext.TextIndex
    import spark.implicits._
    def mkText(stem: String) = (1 to 30).map(i => s"$stem$i").mkString(" ")
    val base = (1L to 6L).map(i => (i, mkText(s"w$i"))).toDF("doc_id", "text")
    val primary = base
    val root = tmpRoot("text-delta")
    TextIndex.buildIndexFrom(base, root)                           // v0
    TextIndex.forgetDocs(spark, root, Seq(2L).toDF("doc_id"), 1L, "f") // v1: DV
    // admit a novel doc: O(batch) postings-delta commit on the chain
    TextIndex.admitBatch(Seq((10L, mkText("z"))).toDF("doc_id", "text"),
      primary, root, 2L, "a")                                      // v2: delta
    assert(new java.io.File(root, "v2/postings-delta").exists() &&
      !new java.io.File(root, "v2/postings").exists())
    // the base postings survive the prune (v1/v2 both reference v0)
    assert(new java.io.File(root, "v0/postings").exists())
    val live = TextIndex.loadPostings(spark, root)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(live == (1L to 6L).toSet - 2L + 10L,
      s"forgotten doc shaded, admitted doc live: $live")
    // explicit compaction folds the chain to one self-contained version
    // with an identical live view; the old chain prunes after one more
    // commit
    assert(TextIndex.compactIndex(spark, root).contains(3L))
    assert(new java.io.File(root, "v3/postings").exists())
    val after = TextIndex.loadPostings(spark, root)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(after == live, "compaction must not change the live view")
  }

  test("append chains auto-fold at the threshold") {
    val root = tmpRoot("fold")
    VectorIndex.buildIndexFrom(fullVecs, root)                     // v0
    // 8 delta appends fill the chain; the 9th folds to a codes version
    (1 to 9).foreach { i =>
      VectorIndex.appendBatch(
        fullVecs.limit(1).selectExpr(s"vec_id + ${6000000 + i} AS vec_id", "v"),
        root, i.toLong, "fold")
    }
    assert(VectorIndex.latestVersion(spark, root).contains(9L))
    (1 to 8).foreach { i =>
      if (new java.io.File(root, s"v$i").exists())
        assert(new java.io.File(root, s"v$i/codes-delta").exists() ||
          !new java.io.File(root, s"v$i").exists())
    }
    assert(new java.io.File(root, "v9/codes").exists(),
      "the 9th append must auto-fold the chain into a codes version")
    assert(VectorIndex.loadCodes(spark, root).count() ==
      fullVecs.count() + 9)
  }

  test("an append at chain depth 8 folds, tombstone versions counted (codes and text postings)") {
    import graft.ext.TextIndex
    import spark.implicits._
    // codes: v0 build, v1 delete (tombstones), v2..v8 deltas — the
    // append that finds live − base = 8 must fold, not add a 9th link
    val root = tmpRoot("fold-dv")
    VectorIndex.buildIndexFrom(fullVecs, root)                        // v0
    VectorIndex.deleteIds(spark, root, Seq(3L).toDF("vec_id"), 1L, "d") // v1
    (2 to 9).foreach { i =>
      VectorIndex.appendBatch(
        fullVecs.limit(1).selectExpr(s"vec_id + ${7000000 + i} AS vec_id", "v"),
        root, i.toLong, "fold")
    }
    assert(new java.io.File(root, "v8/codes-delta").exists())
    assert(new java.io.File(root, "v9/codes").exists() &&
      !new java.io.File(root, "v9/codes-delta").exists(),
      "the append at depth 8 must fold the chain into a codes version")
    val live = VectorIndex.loadCodes(spark, root)
    assert(live.count() == fullVecs.count() - 1 + 8)
    assert(live.filter(col("vec_id") === 3L).count() == 0)
    // text postings: v0 build, v1 forget (tombstones), v2..v8 admissions
    def mkText(stem: String) = (1 to 30).map(i => s"${stem}x$i").mkString(" ")
    val docs = (1L to 6L).map(i => (i, mkText(s"w$i"))).toDF("doc_id", "text")
    val troot = tmpRoot("fold-text")
    TextIndex.buildIndexFrom(docs, troot)                              // v0
    TextIndex.forgetDocs(spark, troot, Seq(2L).toDF("doc_id"), 1L, "f") // v1
    (2 to 9).foreach { i =>
      TextIndex.admitBatch(Seq((100L + i, mkText(s"a$i"))).toDF("doc_id", "text"),
        docs, troot, i.toLong, "fold").unpersist()
    }
    assert(new java.io.File(troot, "v8/postings-delta").exists())
    assert(new java.io.File(troot, "v9/postings").exists() &&
      !new java.io.File(troot, "v9/postings-delta").exists(),
      "the admission at depth 8 must fold the chain into a postings version")
    val ids = TextIndex.loadPostings(spark, troot)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == (1L to 6L).toSet - 2L ++ (102L to 109L))
  }

  test("a second delete compacts: codes rewritten, tombstone chain reset") {
    import spark.implicits._
    val root = tmpRoot("dv-compact")
    VectorIndex.buildIndexFrom(fullVecs, root)
    val n = VectorIndex.loadCodes(spark, root).count()
    VectorIndex.deleteIds(spark, root, Seq(3L, 20L).toDF("vec_id"), 1L, "a")
    val v2 = VectorIndex.deleteIds(spark, root, Seq(21L, 22L).toDF("vec_id"), 2L, "b")
    assert(v2 == 2L)
    // compaction: v2 owns its codes, carries no tombstones
    val v2names = new java.io.File(root, "v2").list().toSet
    assert(v2names.contains("codes") && !v2names.contains("tombstones"),
      s"a delete on a DV version must compact: $v2names")
    // cumulative effect: all four ids gone from the live view
    val live = VectorIndex.loadCodes(spark, root)
    assert(live.count() == n - 4)
    assert(live.filter(col("vec_id").isin(3L, 20L, 21L, 22L)).count() == 0)
    // retain=2 keeps markers {v1, v2}, and v1 (a DV version) references
    // v0's codes — the chain-aware prune must keep v0 alive for readers
    // that resolved v1 just before the compaction flip
    assert(new java.io.File(root, "v0/codes").exists(),
      "v0 is still referenced by the retained DV version v1")
    // one more commit retires v1; only then is v0 unreferenced and swept
    VectorIndex.deleteIds(spark, root, Seq(23L).toDF("vec_id"), 3L, "c")
    val names = new java.io.File(root).list().toSet
    assert(!names.contains("v0") && !names.contains("v1"),
      s"expired chain must prune: $names")
  }

  test("a redelivered delete no-ops on its own stamp") {
    import spark.implicits._
    val root = tmpRoot("dv-retry")
    VectorIndex.buildIndexFrom(fullVecs, root)
    val ids = Seq(5L).toDF("vec_id")
    assert(VectorIndex.deleteIds(spark, root, ids, 9L, "once") == 1L)
    assert(VectorIndex.deleteIds(spark, root, ids, 9L, "once") == 1L)
    assert(VectorIndex.latestVersion(spark, root).contains(1L))
  }

  test("the probe read stays partition-pruned with tombstones present") {
    import spark.implicits._
    val root = tmpRoot("dv-prune")
    VectorIndex.buildIndexFrom(fullVecs, root)
    VectorIndex.deleteIds(spark, root, Seq(3L).toDF("vec_id"), 1L, "d")
    val pruned = VectorIndex.loadCodes(spark, root)
      .filter(col("cell").isin(0L, 3L))
    pruned.collect() // materialize through AQE so the final plan is real
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case o => o.children
      }
      val self = p match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.rootPaths.headOption
            .exists(_.toString.contains("/codes")) => Seq(s)
        case _ => Nil
      }
      self ++ kids.flatMap(scans)
    }
    val codeScans = scans(pruned.queryExecution.executedPlan)
    assert(codeScans.nonEmpty)
    assert(codeScans.forall(_.partitionFilters.nonEmpty),
      "the cell probe must reach the codes scan under the tombstone anti-join")
  }

  test("recon audit: covers the corpus, errors are sane, codebook sources reconstruct exactly") {
    val audit = VectorIndex.pqReconAudit(spark, sf0001).collect()
    val n = fullVecs.count()
    assert(audit.map(_.getLong(1)).sum == n, "every vector audited exactly once")
    audit.foreach { r =>
      val (mean, max) = (r.getDouble(2), r.getDouble(3))
      assert(mean >= 0 && max >= 0 && mean <= max, r.toString)
    }
    // real quantization error exists somewhere (the audit isn't vacuous)
    assert(audit.exists(_.getDouble(3) > 0))
    // a corpus that IS the codebook reconstructs with zero error: the
    // trained coarse centroids coincide with the vectors (one vector
    // per cell, 6-dp-rounded mean), so every residual is sub-rounding
    // noise and the residual-encoded reconstruction error is 0 at 6 dp
    val root = tmpRoot("recon-zero")
    val seeds = fullVecs.filter(col("vec_id") < 16)
    VectorIndex.buildIndexFrom(seeds, root)
    val codes16 = VectorIndex.loadCodes(spark, root)
    assert(codes16.count() == 16)
    val rv = codes16
      .join(seeds, Seq("vec_id"))
      .join(broadcast(VectorIndex.loadCodebook(spark, root)),
        col("cell") === col("cid"))
      .selectExpr("vec_id", "cell", "codes",
        "zip_with(v, cv, (x, y) -> x - y) AS rv")
      .select(col("vec_id"), col("cell"),
        posexplode(col("codes")).as(Seq("j", "code")), col("rv"))
      .withColumn("sv", expr("slice(rv, 8 * j + 1, 8)"))
      .join(broadcast(VectorIndex.loadPqCodebook(spark, root)),
        col("j") === col("cj") && col("code") === col("cid"))
      .selectExpr("vec_id",
        """round(aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)),
          |  0D, (a, x) -> a + x), 6) AS d2""".stripMargin)
    assert(rv.agg(sum("d2")).head().getDouble(0) == 0.0,
      "the codebook corpus must reconstruct exactly through the residual codes")
  }

  test("residual-trained PQ beats raw-trained: reconstruction error strictly down, recall preserved (sf0.01)") {
    // the IndexIVFPQ-default claim (Jégou §IV.B) made measurable on the
    // committed artifact: residual norms are smaller than vector norms,
    // so the same 8-byte budget must quantize FINER than round 12's
    // raw-trained codebooks — Lloyd on a tighter distribution
    val dir = "/root/testdata/sf0.01"
    val e = VectorOps.vecs(spark, dir).select("vec_id", "v")
    val l2s =
      """round(aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)),
        |  0D, (a, x) -> a + x), 6)""".stripMargin
    val sliceEx =
      """explode(transform(sequence(0, 7),
        |  j -> struct(j AS j, slice(v, 8 * j + 1, 8) AS sv))) AS s""".stripMargin
    val cb = VectorIndex.trainCoarse(e)
    def subsOf(frame: org.apache.spark.sql.DataFrame) =
      frame.selectExpr("vec_id", sliceEx)
        .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv"))
    def totalErr(sub: org.apache.spark.sql.DataFrame,
        pq: org.apache.spark.sql.DataFrame): Double =
      sub.join(broadcast(pq), col("j") === col("cj"))
        .selectExpr("vec_id", "j", s"$l2s AS d2")
        .groupBy("vec_id", "j").agg(min("d2").as("best"))
        .agg(sum("best")).head().getDouble(0)
    val rawSub = subsOf(e)
    val resid = VectorIndex.residualsOf(VectorIndex.assignAgainst(e, cb), cb)
    val residSub = subsOf(resid.selectExpr("vec_id", "rv AS v"))
    val pqRaw = VectorIndex.trainPq(e)
    val pqRes = VectorIndex.trainPqResidual(e, cb)
    val errRaw = totalErr(rawSub, pqRaw)
    val errRes = totalErr(residSub, pqRes)
    assert(errRes < errRaw,
      s"residual encoding must reconstruct better at equal bytes: $errRes vs $errRaw")
    // serving recall: the committed residual artifact's sweep (e57) vs
    // the raw-trained ADC sweep rebuilt inline — depth by depth
    def hits(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tRes = hits(VectorIndex.trainedShortlistSweep(spark, dir))
    val rawCodes = rawSub.join(broadcast(pqRaw), col("j") === col("cj"))
      .selectExpr("vec_id", "j", "cid", s"$l2s AS d2")
      .groupBy("vec_id", "j")
      .agg(max_by(col("cid"), struct((-col("d2")).as("nd"),
        (-col("cid")).as("nc"))).as("code"))
    val q = e.filter(col("vec_id") === 0).selectExpr("v AS qv")
    val qtabRaw = subsOf(q.selectExpr("0L AS vec_id", "qv AS v"))
      .join(broadcast(pqRaw), col("j") === col("cj"))
      .selectExpr("j AS qj", "cid AS qcid", s"$l2s AS qd2")
    import org.apache.spark.sql.expressions.Window
    val short50Raw = rawCodes.filter(col("vec_id") =!= 0)
      .join(broadcast(qtabRaw),
        col("j") === col("qj") && col("code") === col("qcid"))
      .groupBy("vec_id").agg(round(sum("qd2"), 6).as("approx_d2"))
      .orderBy(col("approx_d2"), col("vec_id")).limit(50)
      .withColumn("adc_rank", row_number().over(
        Window.orderBy(col("approx_d2"), col("vec_id"))))
      .select("vec_id", "adc_rank")
    val exact5 = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
      .selectExpr("vec_id", "round(cosine_similarity(v, qv), 6) AS cos_sim")
      .orderBy(desc("cos_sim"), col("vec_id")).limit(5)
      .join(broadcast(short50Raw), Seq("vec_id"), "left")
      .collect().map(r => if (r.isNullAt(2)) Int.MaxValue else r.getInt(2))
    val tRaw = VectorOps.PqShortlists
      .map(n => n -> exact5.count(_ <= n).toLong).toMap
    // measured on this corpus: residual {5→1, 10→2, 25→4, 50→5} vs raw
    // {5→2, 10→2, 25→3, 50→4} — residual wins the deep depths and the
    // aggregate; the depth-5 single-hit flip is one query's shortlist
    // boundary, not a ranking-quality signal (recall here is ONE query's
    // top-5, so each depth cell is quantized to fifths). Gate what the
    // encoding claims: strictly more total hits across the sweep, and
    // no regression at the operating depths (10+) a deployment uses.
    assert(tRes.values.sum > tRaw.values.sum,
      s"residual must win the sweep in aggregate: residual=$tRes raw=$tRaw")
    VectorOps.PqShortlists.filter(_ >= 10).foreach { n =>
      assert(tRes(n) >= tRaw(n),
        s"residual recall regressed at depth $n: ${tRes(n)} < ${tRaw(n)} " +
          s"(residual=$tRes raw=$tRaw)")
    }
  }

  // ------------------------------------ graph-insert maintenance (e55)

  test("graph insert: degree stays bounded, inserts connect, the commit is exactly-once") {
    import graft.ext.{VectorIndex, VectorOps}
    val root = tmpRoot("gins")
    val e = fullVecs
    val incoming = e.filter(expr(s"vec_id % 29 = 7"))
    val base = e.filter(expr(s"NOT (vec_id % 29 = 7)"))
    // seed the committed base graph (e49's artifact shape)
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    VectorOps.knnGraphFrom(base)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .write.parquet(s"$root/v0/edges")
    graft.streaming.StreamOps.flipCommitMarker(fs, rootP, 0L, -3L, "seed")
    val nInc = incoming.count()
    val v1 = VectorIndex.graphInsertBatch(incoming, base, root, 1L, "ins")
    assert(v1 == 1L)
    val live = VectorIndex.loadGraph(spark, root)
    // HNSW's bounded-degree invariant survives the insert: connect-and-
    // prune caps EVERY source (old, touched, new) at 3 out-edges
    val deg = live.groupBy("src").count()
    assert(deg.agg(max("count")).head().getLong(0) <= 3L)
    // every inserted vector connected (beam 8 >= 3 candidates here)
    val incSrc = live.join(incoming.select(col("vec_id").as("src")), Seq("src"))
    assert(incSrc.select("src").distinct().count() == nInc)
    // redelivery no-ops; a new stamp applies
    assert(VectorIndex.graphInsertBatch(incoming, base, root, 1L, "ins") == 1L)
    assert(VectorIndex.latestVersion(spark, root).contains(1L))
  }

  test("maintained graph preserves clustered-fixture recall after inserts") {
    import spark.implicits._
    // the DedupSpec e40 fixture: 4 tight clusters, queries + entry in
    // cluster 0 — data where the walk can actually navigate
    val rnd = new scala.util.Random(11)
    val protos = Array.fill(4, 64)(if (rnd.nextBoolean()) 1.0 else -1.0)
    val rows = (0 until 200).map { i =>
      val c = if (i < 10) 0 else i % 4
      (i.toLong, protos(c).map(_ + rnd.nextGaussian() * 0.25).toSeq)
    }
    val e = rows.toDF("vec_id", "v")
    val incoming = e.filter(expr("vec_id % 29 = 7"))
    val base = e.filter(expr("NOT (vec_id % 29 = 7)"))
    val root = tmpRoot("gins-clustered")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    VectorOps.knnGraphFrom(base)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .write.parquet(s"$root/v0/edges")
    graft.streaming.StreamOps.flipCommitMarker(fs, rootP, 0L, -3L, "seed")
    VectorIndex.graphInsertBatch(incoming, base, root, 1L, "c")
    def avgRecall(g: org.apache.spark.sql.DataFrame): Double = {
      val r = VectorOps.graphWalkRecallFrom(e, g, nQueries = 10).collect()
        .map(_.getDouble(2))
      r.sum / r.length
    }
    val maintained = avgRecall(VectorIndex.loadGraph(spark, root))
    val rebuilt = avgRecall(VectorOps.knnGraphFrom(e)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst")))
    // the insert path must navigate (e40's gate) and stay within reach
    // of the full rebuild — quality preserved, not just edges written
    assert(maintained >= 0.5,
      s"maintained-graph avg recall@5 $maintained on the clustered fixture")
    assert(maintained >= rebuilt - 0.2,
      s"insert-maintained recall $maintained trails the rebuilt graph's $rebuilt")
  }

  test("graph mutation commits are delta-sized; the chain resolves and folds exactly") {
    import spark.implicits._
    def dirBytes(p: java.io.File): Long =
      if (p.isFile) p.length
      else Option(p.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    val e = fullVecs
    val root = tmpRoot("gdelta")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = e.filter(expr("NOT (vec_id % 29 = 7)"))
    val incoming = e.filter(expr("vec_id % 29 = 7"))
    VectorOps.knnGraphFrom(base)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .write.parquet(s"$root/v0/edges")
    graft.streaming.StreamOps.flipCommitMarker(fs, rootP, 0L, -3L, "seed")
    val baseBytes = dirBytes(new java.io.File(root, "v0/edges"))
    val baseSnap = VectorIndex.loadGraph(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // ONE-vector insert: the commit must be an O(touched) delta, not a
    // graph rewrite — the exact defect class codes-delta closed for the
    // code table (VERDICT r12 item 1)
    val one = incoming.orderBy("vec_id").limit(1)
    VectorIndex.graphInsertBatch(one, base, root, 1L, "one")        // v1
    val v1 = new java.io.File(root, "v1")
    assert(new java.io.File(v1, "edges-delta").exists() &&
      !new java.io.File(v1, "edges").exists(),
      "a single-node insert must commit a delta, not rewrite the edge table")
    val deltaBytes = dirBytes(new java.io.File(v1, "edges-delta"))
    assert(deltaBytes * 4 < baseBytes,
      s"insert bytes must be touched-sized: delta=$deltaBytes base=$baseBytes")
    // the resolved live view == what a full-rewrite commit would hold:
    // inserted node connected, degree bound intact, untouched rows live
    val live1 = VectorIndex.loadGraph(spark, root)
    val insId = one.head().getLong(0)
    assert(live1.filter(col("src") === insId).count() > 0)
    assert(live1.groupBy("src").count().agg(max("count")).head().getLong(0) <= 3L)
    // a delete commits tombstones + repaired rows, still delta-sized
    val victim = baseSnap.head._1
    VectorIndex.graphDeleteBatch(Seq(victim).toDF("vec_id"),
      e, root, 2L, "del")                                           // v2
    val v2 = new java.io.File(root, "v2")
    assert(new java.io.File(v2, "edges-tombstones").exists() &&
      !new java.io.File(v2, "edges").exists(),
      "a delete must commit tombstones + delta, not rewrite the edge table")
    val live2 = VectorIndex.loadGraph(spark, root)
    assert(live2.filter(col("src") === victim || col("dst") === victim)
      .count() == 0, "no dangling edges through the chain resolution")
    // explicit compaction folds to one self-contained version with an
    // IDENTICAL live view
    val live2Snap = live2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(VectorIndex.compactGraphIndex(spark, root).contains(3L))
    assert(new java.io.File(root, "v3/edges").exists())
    val folded = VectorIndex.loadGraph(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(folded == live2Snap, "compaction must not change the live view")
    // the chain-aware prune kept the base alive while the chain was open
    // (v1/v2 reference v0's edges) — and retires it after the fold ages out
    VectorIndex.graphDeleteBatch(Seq(live2Snap.head._1).toDF("vec_id"),
      e, root, 4L, "del2")                                          // v4
    val names = new java.io.File(root).list().toSet
    assert(!names.contains("v0") && !names.contains("v1") && !names.contains("v2"),
      s"folded-away chain must prune once the lease expires: $names")
  }

  test("graph mutation chains auto-fold at the threshold") {
    import spark.implicits._
    val e = fullVecs
    val root = tmpRoot("gfold")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val incoming = e.filter(expr("vec_id % 29 = 7"))
      .orderBy("vec_id").limit(9).collect()
    val base = e.filter(expr("NOT (vec_id % 29 = 7)"))
    VectorOps.knnGraphFrom(base)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .write.parquet(s"$root/v0/edges")
    graft.streaming.StreamOps.flipCommitMarker(fs, rootP, 0L, -3L, "seed")
    import org.apache.spark.sql.types._
    val vsch = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType))))
    incoming.zipWithIndex.foreach { case (r, i) =>
      val df = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(r.getLong(0), r.getSeq[Double](1))), vsch)
      VectorIndex.graphInsertBatch(df, base, root, i.toLong + 1, "fold")
    }
    assert(VectorIndex.latestVersion(spark, root).contains(9L))
    assert(new java.io.File(root, "v9/edges").exists(),
      "the 9th mutation must auto-fold the chain into an edges version")
    // every inserted node lives in the folded view
    val live = VectorIndex.loadGraph(spark, root)
    val srcs = live.select("src").distinct().collect().map(_.getLong(0)).toSet
    assert(incoming.map(_.getLong(0)).forall(srcs.contains),
      "all nine inserted nodes must be connected in the folded graph")
  }

  // ---------------------------------- batched graph serving (e61)

  test("batched graph serving: the q0 slice equals the single-query walk") {
    val served = VectorIndex.graphBatchServed(spark, sf0001).collect()
    assert(served.map(_.getLong(0)).distinct.length == 10,
      "all 10 queries answered in one plan")
    val e = VectorOps.vecs(spark, sf0001).select("vec_id", "v")
    val g = VectorIndex.loadGraph(spark,
      VectorIndex.defaultGraphRoot(sf0001))
    val q0 = e.filter(col("vec_id") === 0)
      .selectExpr("vec_id AS qid", "v AS qv")
    val single = VectorOps.walkFinalBeam(e, g, q0)
      .filter(col("vid") =!= col("qid"))
      .orderBy(desc("c"), col("vid")).limit(5).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val batchQ0 = served.filter(_.getLong(0) == 0L)
      .sortBy(_.getInt(1))
      .map(r => (r.getLong(2), r.getDouble(3))).toSeq
    assert(batchQ0 == single,
      s"q0 through the batch path must equal the single-query walk: $batchQ0 vs $single")
  }

  // ------------------------------------ graph delete + repair (e58)

  test("graph delete: no dangling edges, degree <= 3, repair reconnects through the removed node") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def jitter(base: Seq[Double]) = base.map(_ + (rnd.nextDouble() - 0.5) * 0.01)
    // one tight cluster of 6 + a far cluster of 6: inside a cluster
    // everyone is everyone's near-neighbor, so removing a hub forces
    // its in-neighbors to re-route THROUGH its adjacency
    val cA = Seq.fill(64)(1.0); val cB = Seq.fill(32)(1.0) ++ Seq.fill(32)(-1.0)
    val vecs = ((0L to 5L).map(i => (i, jitter(cA))) ++
      (10L to 15L).map(i => (i, jitter(cB)))).toDF("vec_id", "v")
    val root = tmpRoot("gdel")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    VectorOps.knnGraphFrom(vecs)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .write.parquet(s"$root/v0/edges")
    graft.streaming.StreamOps.flipCommitMarker(fs, rootP, 0L, -3L, "seed")
    val before = VectorIndex.loadGraph(spark, root)
    // pick a hub dynamically: a node with both in- and out-edges (the
    // LSH bucket assignment decides which ids connect on this fixture)
    val srcs = before.select("src").collect().map(_.getLong(0)).toSet
    val dsts = before.select("dst").collect().map(_.getLong(0)).toSet
    val hub = (srcs intersect dsts).min
    val inNbrs = before.filter(col("dst") === hub)
      .select("src").collect().map(_.getLong(0)).toSet
    val outOfHub = before.filter(col("src") === hub)
      .select("dst").collect().map(_.getLong(0)).toSet
    assert(inNbrs.nonEmpty && outOfHub.nonEmpty)
    VectorIndex.graphDeleteBatch(Seq(hub).toDF("vec_id"), vecs, root, 1L, "d")
    val live = VectorIndex.loadGraph(spark, root)
    // no dangling edges: the removed node appears on neither side
    assert(live.filter(col("src") === hub || col("dst") === hub).count() == 0)
    // degree bound survives the repair
    assert(live.groupBy("src").count().agg(max("count")).head().getLong(0) <= 3L)
    // every in-neighbor that lost its edge re-prunes over surviving ∪
    // the removed node's out-list (the declared repair candidate set)
    inNbrs.filter(_ != hub).foreach { u =>
      val adj = live.filter(col("src") === u).select("dst")
        .collect().map(_.getLong(0)).toSet
      val beforeAdj = before.filter(col("src") === u).select("dst")
        .collect().map(_.getLong(0)).toSet
      val candidates = (beforeAdj - hub) ++ (outOfHub - u - hub)
      assert(adj.subsetOf(candidates),
        s"repair must draw from surviving ∪ inherited: $u -> $adj ⊄ $candidates")
      assert(adj.size == math.min(3, candidates.size),
        s"node $u must be repaired to full available degree: $adj")
    }
    // a redelivered delete no-ops on its stamp
    assert(VectorIndex.graphDeleteBatch(Seq(hub).toDF("vec_id"), vecs,
      root, 1L, "d") == 1L)
    assert(VectorIndex.latestVersion(spark, root).contains(1L))
  }

  // -------------------------------------- adaptive nprobe (e54)

  test("adaptive nprobe widens on sparse cells and still fills k") {
    // dense corpus: the top routing cell alone can satisfy k
    val dense = tmpRoot("anp-dense")
    VectorIndex.buildIndexFrom(fullVecs, dense)
    val d = VectorIndex.serveAdaptiveNprobe(spark, sf0001, dense).collect()
    assert(d.length == 5)
    val dProbe = d.head.getInt(3)
    // sparse corpus (~2-3 members/cell): the prefix must widen
    val sparse = tmpRoot("anp-sparse")
    VectorIndex.buildIndexFrom(fullVecs.filter(col("vec_id") < 40), sparse)
    val sp = VectorIndex.serveAdaptiveNprobe(spark, sf0001, sparse).collect()
    assert(sp.length == 5, "the widened probe must still fill k")
    val sProbe = sp.head.getInt(3)
    assert(sProbe > dProbe,
      s"sparse cells must probe wider: dense=$dProbe sparse=$sProbe")
    // results stay sorted by ADC distance with the id tie-break
    val ds = sp.map(r => (r.getDouble(2), r.getLong(0))).toSeq
    assert(ds == ds.sorted)
  }

  test("adaptive nprobe routes off the committed stats; the only codes scan is the pruned probe") {
    val root = tmpRoot("anp-stats")
    VectorIndex.buildIndexFrom(fullVecs, root)
    // the stats table is committed with the artifact and matches an
    // actual recount — the invariant every commit path maintains
    def recount() = VectorIndex.loadCodes(spark, root)
      .groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def stats() = VectorIndex.loadStats(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats() == recount(), "build stats must match a recount")
    // ...through a delta append...
    VectorIndex.appendBatch(
      fullVecs.limit(2).selectExpr("vec_id + 7000000 AS vec_id", "v"),
      root, 1L, "st")
    assert(stats() == recount(), "append stats must merge incrementally")
    // ...and through a metadata-only delete
    import spark.implicits._
    VectorIndex.compactIndex(spark, root)
    VectorIndex.deleteIds(spark, root, Seq(5L, 12L).toDF("vec_id"), 2L, "d")
    assert(stats() == recount(), "delete stats must decrement")
    // the SERVE plan reads codes only through the partition-pruned
    // probe — the probe-width decision came from the stats table, so
    // no full codes scan hides anywhere in the returned plan
    val served = VectorIndex.serveAdaptiveNprobe(spark, sf0001, root)
    served.collect()
    def scans(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = pl match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case other => other.children
      }
      val self = pl match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case _ => Nil
      }
      self ++ kids.flatMap(scans)
    }
    val codeScans = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/codes")))
    assert(codeScans.nonEmpty)
    assert(codeScans.forall(_.partitionFilters.nonEmpty),
      "every codes scan in the serve plan must be partition-pruned")
  }

  // ----------------------------------------- labeled index (e53)

  test("labeled index: the label predicate reaches the code scan as a pushed filter") {
    val root = tmpRoot("lbl")
    graft.ext.VectorIndex.ensureLabeledIndex(spark, sf0001, root)
    val probe = graft.ext.VectorIndex.loadLabeledCodes(spark, root)
      .filter(col("cell").isin(0L, 3L))
      .filter(col("label") === 3)
    probe.collect()
    val scans = probe.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // cell prunes partitions; label prunes INSIDE the scan (row groups)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "the cell probe must stay a partition filter on the labeled index")
    assert(scans.forall(_.metadata("PushedFilters").contains("label")),
      s"label must push into the parquet read: ${scans.map(_.metadata("PushedFilters"))}")
    // and the labeled rows agree with the primary store's labels
    val fromIdx = graft.ext.VectorIndex.loadLabeledCodes(spark, root)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fromStore = VectorOps.vecs(spark, sf0001)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fromIdx == fromStore)
  }

  // --------------------------------------- vector admission (e52)

  /** Deterministic 64-dim fixture: 16 base vectors (the quantizer
    * sources), one novel admit, its scaled copy (cosine 1 — the dup),
    * and a second novel vector.
    */
  private def admissionFixture = {
    val rnd = new scala.util.Random(42)
    def vec() = Seq.fill(64)(rnd.nextDouble() * 2 - 1)
    val base = (0L until 16L).map(i => (i, vec()))
    val v100 = vec()
    (base, v100, v100.map(_ * 1.01), vec())
  }

  test("vector admission: a batch-2 vector duplicating an ADMITTED batch-1 vector is rejected") {
    import spark.implicits._
    val (baseVs, v100, v100dup, v201) = admissionFixture
    val root = tmpRoot("vadmit")
    val base = baseVs.toDF("vec_id", "v")
    val primary = (baseVs ++ Seq((100L, v100), (200L, v100dup), (201L, v201)))
      .toDF("vec_id", "v")
    VectorIndex.buildIndexFrom(base, root)
    // batch 1: novel direction — admitted, codes join the index as v1
    val b1 = VectorIndex.vectorAdmitBatch(Seq((100L, v100)).toDF("vec_id", "v"),
        primary, root, 0L, "inc")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(b1 == Map(100L -> false))
    assert(VectorIndex.latestVersion(spark, root).contains(1L))
    // batch 2: 200 is a scaled copy of the ADMITTED 100 (cosine 1 —
    // a target only the maintained index can produce); 201 is novel
    val b2 = VectorIndex.vectorAdmitBatch(
        Seq((200L, v100dup), (201L, v201)).toDF("vec_id", "v"),
        primary, root, 1L, "inc")
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq.sortBy(_._1)
    assert(b2 == Seq((200L, true, 100L), (201L, false, -1L)), b2.toString)
    // the rejected dup's codes must NOT have joined the index
    val indexed = VectorIndex.loadCodes(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(indexed == (0L until 16L).toSet ++ Set(100L, 201L))
  }

  test("vector admission verdicts are retry-stable; the append is exactly-once") {
    import spark.implicits._
    val (baseVs, v100, v100dup, _) = admissionFixture
    val root = tmpRoot("vadmit-retry")
    val primary = (baseVs ++ Seq((100L, v100), (101L, v100dup)))
      .toDF("vec_id", "v")
    VectorIndex.buildIndexFrom(baseVs.toDF("vec_id", "v"), root)
    // 101 dups 100 WITHIN the batch — in-batch siblings are never probe
    // targets (own ids excluded), so both verdicts are base-only
    val batch = Seq((100L, v100), (101L, v100dup)).toDF("vec_id", "v")
    def verdicts() = VectorIndex.vectorAdmitBatch(batch, primary, root, 3L, "r")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val first = verdicts()
    assert(first == Map(100L -> false, 101L -> false))
    assert(VectorIndex.latestVersion(spark, root).contains(1L))
    // crash-after-flip redelivery: identical verdicts, no new version
    assert(verdicts() == first)
    assert(VectorIndex.latestVersion(spark, root).contains(1L))
  }

  // ------------------------------------------------------- TextIndex

  /** Synthetic corpus for the admission tests: ≥3-token texts so the
    * trigram shingles exist; near-dups share all but the tail token
    * (Jaccard well over 0.5), novel docs share nothing.
    */
  private def docsDF(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }
  private val tA = (1 to 30).map(i => s"alpha$i").mkString(" ")
  private val tB = (1 to 30).map(i => s"beta$i").mkString(" ")
  private val tC = (1 to 30).map(i => s"gamma$i").mkString(" ")
  private def nearDup(t: String) =
    t.split(' ').dropRight(1).mkString(" ") + " changed"

  test("sequential admission: a batch-2 doc duplicating an ADMITTED batch-1 doc is rejected") {
    import graft.ext.TextIndex
    val root = tmpRoot("admit")
    val base = docsDF(1L -> tA, 2L -> tB)
    // the primary store holds every doc's text (verify-side fetches)
    val primary = docsDF(1L -> tA, 2L -> tB, 10L -> tC,
      20L -> nearDup(tC), 21L -> nearDup(tA))
    TextIndex.buildIndexFrom(base, root)
    // batch 1: doc 10 is novel — admitted, its signatures join the index
    val v1 = TextIndex.admitBatch(docsDF(10L -> tC), primary, root, 0L, "inc")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(v1 == Map(10L -> false))
    assert(TextIndex.latestVersion(spark, root).contains(1L))
    // batch 2: doc 20 near-dups the ADMITTED doc 10 (not in the base
    // corpus at all — the property a static base-only probe cannot
    // express); doc 21 near-dups base doc 1
    val v2 = TextIndex.admitBatch(
        docsDF(20L -> nearDup(tC), 21L -> nearDup(tA)), primary, root,
        1L, "inc")
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq.sortBy(_._1)
    assert(v2 == Seq((20L, true, 10L), (21L, true, 1L)), v2.toString)
    // rejected docs' signatures must NOT have joined the index
    val indexed = TextIndex.loadPostings(spark, root)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexed == Set(1L, 2L, 10L))
  }

  test("admission verdicts are retry-stable; the append is exactly-once") {
    import graft.ext.TextIndex
    val root = tmpRoot("admit-retry")
    val primary = docsDF(1L -> tA, 10L -> tC, 11L -> nearDup(tC))
    TextIndex.buildIndexFrom(docsDF(1L -> tA), root)
    // one batch admitting doc 10 and rejecting nothing; 11 dups 10
    // WITHIN the batch — in-batch siblings are never probe targets, so
    // both get base-only verdicts (admitted) deterministically
    val batch = docsDF(10L -> tC, 11L -> nearDup(tC))
    def verdicts() = TextIndex.admitBatch(batch, primary, root, 3L, "r")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val first = verdicts()
    assert(first == Map(10L -> false, 11L -> false))
    assert(TextIndex.latestVersion(spark, root).contains(1L))
    // crash-after-flip redelivery: verdicts IDENTICAL (its own ids are
    // excluded from the probe, so the just-appended signatures cannot
    // flip the answer), and no new version commits
    assert(verdicts() == first)
    assert(TextIndex.latestVersion(spark, root).contains(1L))
  }

  test("forget is metadata-only; a forgotten doc stops matching and re-admits cleanly") {
    import graft.ext.TextIndex
    val root = tmpRoot("forget")
    val base = docsDF(1L -> tA, 2L -> tB)
    val primary = docsDF(1L -> tA, 2L -> tB, 21L -> nearDup(tA), 30L -> tA)
    TextIndex.buildIndexFrom(base, root)
    // before the forget: 21 near-dups base doc 1
    def verdict(batch: org.apache.spark.sql.DataFrame, id: Long) =
      TextIndex.admitBatch(batch, primary, root, id, "f")
        .collect().map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq.sortBy(_._1)
    assert(verdict(docsDF(21L -> nearDup(tA)), 0L) == Seq((21L, true, 1L)))
    import spark.implicits._
    val v = TextIndex.forgetDocs(spark, root, Seq(1L).toDF("doc_id"), 5L, "gdpr")
    // metadata-only: the forget version has tombstones, no postings
    val names = new java.io.File(root, s"v$v").list().toSet
    assert(names.contains("tombstones") && !names.contains("postings"), names.toString)
    // the forgotten doc is invisible to probes
    assert(TextIndex.loadPostings(spark, root)
      .filter(col("doc_id") === 1L).count() == 0)
    // a second forget on the DV version compacts: postings rewritten
    // minus every tombstone, chain reset
    val v2 = TextIndex.forgetDocs(spark, root, Seq(2L).toDF("doc_id"), 6L, "gdpr2")
    val n2 = new java.io.File(root, s"v$v2").list().toSet
    assert(n2.contains("postings") && !n2.contains("tombstones"), n2.toString)
    assert(TextIndex.loadPostings(spark, root).count() == 0,
      "both forgotten docs must be gone from the compacted postings")
    // with doc 1 unlearned, its exact copy re-admits as novel — the
    // index holds no trace (and the admit commits fresh postings)
    assert(verdict(docsDF(30L -> tA), 9L) == Seq((30L, false, -1L)))
    val live = TextIndex.loadPostings(spark, root)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(live == Set(30L), s"only the re-admitted doc is indexed: $live")
  }

  test("a crashed attempt's torn data dir cannot shadow the next commit at the same version") {
    // the ADVICE-1 scenario: a crash mid-compaction leaves a PARTIAL
    // v1/codes (valid parquet, subset rows, NO marker). The next commit
    // reuses version 1 with a codes-delta — base resolution walks
    // fs.exists, so without the pre-write wipe the torn dir would be
    // adopted as the chain base (serving 3 rows and dropping the delta).
    val root = tmpRoot("torn-reuse")
    VectorIndex.buildIndexFrom(fullVecs, root)                     // v0
    val n = fullVecs.count()
    // simulate the crashed attempt: a subset codes dir at v1, unmarked
    VectorIndex.loadCodes(spark, root).filter(col("vec_id") < 3)
      .select("vec_id", "codes", "cell")
      .write.partitionBy("cell").parquet(s"$root/v1/codes")
    assert(VectorIndex.latestVersion(spark, root).contains(0L))
    // the next append commits AT v1 — it must wipe the torn dir first
    VectorIndex.appendBatch(
      fullVecs.limit(1).selectExpr("vec_id + 9000000 AS vec_id", "v"),
      root, 1L, "after-crash")
    assert(!new java.io.File(root, "v1/codes").exists(),
      "the torn codes dir must be wiped by the reusing commit")
    assert(new java.io.File(root, "v1/codes-delta").exists())
    assert(VectorIndex.loadCodes(spark, root).count() == n + 1,
      "the live view must serve the full base + the delta, not the torn subset")
    // same discipline on the text index: torn postings at a reused version
    import graft.ext.TextIndex
    import spark.implicits._
    def mkText(stem: String) = (1 to 30).map(i => s"$stem$i").mkString(" ")
    val docs = (1L to 5L).map(i => (i, mkText(s"w$i"))).toDF("doc_id", "text")
    val troot = tmpRoot("torn-reuse-text")
    TextIndex.buildIndexFrom(docs, troot)                          // v0
    spark.read.parquet(s"$troot/v0/postings").limit(2)
      .write.parquet(s"$troot/v1/postings")
    TextIndex.admitBatch(Seq((10L, mkText("z"))).toDF("doc_id", "text"),
      docs, troot, 1L, "after-crash").unpersist()                  // v1: delta
    assert(!new java.io.File(troot, "v1/postings").exists(),
      "the torn postings dir must be wiped by the reusing commit")
    val live = TextIndex.loadPostings(spark, troot)
      .select("doc_id").distinct().count()
    assert(live == 6, s"full base + admitted doc, not the torn subset: $live")
  }

  test("batched graph serving leaves no cached plan behind (library-caller hygiene)") {
    spark.catalog.clearCache()
    VectorIndex.graphBatchServed(spark, sf0001).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "e61 must not accrete storage-memory cache entries per invocation")
    // the rest of the graph-serving family holds the same contract:
    // committed-graph reads are cheap pruned re-scans (no persist), and
    // the inline walks localCheckpoint (GC-owned blocks, not cache)
    VectorIndex.graphWalkServed(spark, sf0001).collect()
    VectorIndex.graphMaintainedRecall(spark, sf0001).collect()
    VectorOps.graphWalkRecall(spark, sf0001).collect()
    assert(spark.sharedState.cacheManager.isEmpty,
      "no graph-serving entry may leave a cached plan behind")
  }

  test("a resolved reader survives mutation commits underneath (the read lease, both families)") {
    // the ADVICE-1 / chain-aware-prune scenario as a PERMANENT
    // regression pin: a reader resolves the live version, then a writer
    // commits append+delete underneath — the retain=2 window plus the
    // baseOf floor must keep every segment the held resolution
    // references until the lease expires (one subsequent commit),
    // so the held DataFrame still materializes the exact view it
    // resolved. Without the reference-aware floor the naive newest-2
    // sweep deleted the base out from under the DV version.
    import spark.implicits._
    val root = tmpRoot("lease")
    VectorIndex.buildIndexFrom(fullVecs, root)                      // v0
    val n = fullVecs.count()
    VectorIndex.deleteIds(spark, root, Seq(3L).toDF("vec_id"), 1L, "d") // v1: DV→v0
    val held = VectorIndex.loadCodes(spark, root) // resolves the v1 chain
    // a writer commits an append UNDER the held reader
    VectorIndex.appendBatch(
      fullVecs.limit(1).selectExpr("vec_id + 8000000 AS vec_id", "v"),
      root, 2L, "under")                                            // v2: delta→v0
    // the held resolution still reads its exact view: base ∖ {3}
    assert(held.count() == n - 1,
      "a reader inside the lease must still see the chain it resolved")
    assert(held.filter(col("vec_id") === 3L).count() == 0)
    assert(held.filter(col("vec_id") >= 8000000L).count() == 0,
      "the held view must NOT see commits that happened after it resolved")
    // text family: resolve, forget+admit underneath, re-materialize
    import graft.ext.TextIndex
    def mkText(stem: String) = (1 to 30).map(i => s"$stem$i").mkString(" ")
    val docs = (1L to 6L).map(i => (i, mkText(s"w$i"))).toDF("doc_id", "text")
    val troot = tmpRoot("lease-text")
    TextIndex.buildIndexFrom(docs, troot)                           // v0
    TextIndex.forgetDocs(spark, troot, Seq(2L).toDF("doc_id"), 1L, "f") // v1
    val heldT = TextIndex.loadPostings(spark, troot)
    TextIndex.admitBatch(Seq((10L, mkText("z"))).toDF("doc_id", "text"),
      docs, troot, 2L, "a").unpersist()                             // v2: delta
    val liveIds = heldT.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(liveIds == (1L to 6L).toSet - 2L,
      s"held text reader must see exactly its resolved view: $liveIds")
  }

  // ------------------------------------------ BM25 retrieval index (d83)

  test("bm25 index: serve is bucket-pruned + term-pushed; stats/vocab track every commit kind") {
    import graft.ext.RetrievalIndex
    import spark.implicits._
    def mkText(stem: String, n: Int) =
      (1 to n).map(i => s"$stem$i").mkString(" ")
    // base large enough that real posting bytes dominate the parquet
    // per-partition file floor (the delta writes ≤8 tiny bucket files —
    // on a small base the FLOOR outweighed the base bytes and inverted
    // the byte-ratio signal): 256 docs × 40 distinct tokens ≈ 10k
    // posting rows
    val base = (1L to 256L).map(i => (i, mkText(s"w${i}t", 40)))
      .toDF("doc_id", "text")
    val root = tmpRoot("bm25")
    RetrievalIndex.buildIndexFrom(base, root)                        // v0
    def recountOk(): Unit = {
      val live = RetrievalIndex.loadPostings(spark, root)
      val vocab = RetrievalIndex.loadVocab(spark, root).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val recount = live.groupBy("token").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(vocab == recount, s"vocab must equal a live recount")
      val st = RetrievalIndex.loadStats(spark, root).head()
      val docs = live.select("doc_id", "dl").distinct().collect()
      assert(st.getLong(0) == docs.length.toLong)
      assert(st.getLong(1) == docs.map(_.getLong(1)).sum)
    }
    recountOk()
    // the serve plan: bucket partition filter + term pushdown at the scan
    // (walk through AQE shells — plain collect() does not traverse them)
    val served = RetrievalIndex.serveBm25TopK(spark, root)
    served.collect()
    val scans = aqeScans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/postings")))
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "the bucket set must reach the postings read as a partition filter")
    assert(scans.exists(_.metadata("PushedFilters").contains("token")),
      s"query terms must push into the scan: ${scans.map(_.metadata("PushedFilters"))}")
    // metadata-only forget on the clean base: tombstones + NEGATIVE
    // vocab/stats segments (a forget on a delta-bearing chain compacts
    // instead — the single-tombstones chain invariant); the forget
    // takes (doc_id, text) from the primary store — the O(forgotten)
    // re-tokenization derivation
    RetrievalIndex.forgetDocs(spark, root,
      base.filter(col("doc_id") === 2L), 2L, "f")                    // v1
    val v1f = new java.io.File(root, "v1")
    assert(new java.io.File(v1f, "tombstones").exists() &&
      new java.io.File(v1f, "vocab-delta").exists() &&
      !new java.io.File(v1f, "postings").exists(),
      "forget must be metadata-only on a clean base")
    assert(RetrievalIndex.loadPostings(spark, root)
      .filter(col("doc_id") === 2L).count() == 0)
    recountOk()
    // O(batch) append on the DV chain: delta dirs only, signed stats
    def dirBytes(p: java.io.File): Long =
      if (p.isFile) p.length
      else Option(p.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    val baseBytes = dirBytes(new java.io.File(root, "v0/postings"))
    RetrievalIndex.appendDocs(Seq((100L, mkText("z", 25)))
      .toDF("doc_id", "text"), root, 1L, "a")                        // v2
    val v2 = new java.io.File(root, "v2")
    assert(new java.io.File(v2, "postings-delta").exists() &&
      new java.io.File(v2, "vocab-delta").exists() &&
      !new java.io.File(v2, "postings").exists())
    assert(dirBytes(new java.io.File(v2, "postings-delta")) * 3 < baseBytes,
      "append postings bytes must be batch-sized")
    recountOk()
    // served ranking is invariant under compaction (one self-contained
    // version, identical scores — the chain ≡ folded-state witness)
    val beforeFold = RetrievalIndex.serveBm25TopK(spark, root).collect()
      .map(_.toSeq).toSeq
    assert(RetrievalIndex.compactIndex(spark, root).contains(3L))
    recountOk()
    val afterFold = RetrievalIndex.serveBm25TopK(spark, root).collect()
      .map(_.toSeq).toSeq
    assert(beforeFold == afterFold,
      "compaction must not change the served ranking")
    // a redelivered append no-ops on its stamp
    assert(RetrievalIndex.appendDocs(Seq((101L, mkText("y", 25)))
      .toDF("doc_id", "text"), root, 9L, "r") == 4L)
    assert(RetrievalIndex.appendDocs(Seq((101L, mkText("y", 25)))
      .toDF("doc_id", "text"), root, 9L, "r") == 4L)
  }

  test("a redelivered append batch no-ops on its own stamp") {
    val root = tmpRoot("retry")
    VectorIndex.buildIndexFrom(fullVecs.filter(col("vec_id") < 100), root)
    val fresh = fullVecs.filter(col("vec_id") >= 100 && col("vec_id") < 200)
    val v1 = VectorIndex.appendBatch(fresh, root, 5L, "inc-A")
    assert(v1 == 1L)
    // same (batchId, incarnation) = crash-after-flip redelivery: no-op
    assert(VectorIndex.appendBatch(fresh, root, 5L, "inc-A") == 1L)
    assert(VectorIndex.latestVersion(spark, root).contains(1L))
    // same batch id from a NEW incarnation must apply (checkpoint reset
    // restarts ids at 0 — the CDC sink's documented trap)
    val v2 = VectorIndex.appendBatch(
      fullVecs.filter(col("vec_id") >= 200 && col("vec_id") < 210), root,
      5L, "inc-B")
    assert(v2 == 2L)
  }

  test("bm25 forget reads ZERO postings bytes (O(forgotten) commit)") {
    import graft.ext.RetrievalIndex
    import spark.implicits._
    def mkText(stem: String, n: Int) =
      (1 to n).map(i => s"$stem$i").mkString(" ")
    val base = (1L to 64L).map(i => (i, mkText(s"f${i}t", 20)))
      .toDF("doc_id", "text")
    val root = tmpRoot("bm25-forget")
    RetrievalIndex.buildIndexFrom(base, root)                       // v0
    // corrupt every postings data file: any attempt to read postings
    // bytes now throws — the forget commit must succeed anyway. This is
    // the airtight no-postings-IO proof (a plan-listener audit can miss
    // an eager read; a poisoned file cannot).
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) Seq(f)
      else Option(f.listFiles).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    val pfiles = walk(new java.io.File(root, "v0/postings"))
      .filter(_.getName.endsWith(".parquet"))
    assert(pfiles.nonEmpty)
    pfiles.foreach { f =>
      val w = new java.io.FileOutputStream(f)
      w.write("not a parquet file".getBytes("UTF-8")); w.close()
    }
    val gone = base.filter(col("doc_id") % 7 === 1) // 10 docs
    val v1 = RetrievalIndex.forgetDocs(spark, root, gone, 3L, "of")  // v1
    assert(v1 == 1L, "the metadata-only forget must commit")
    val v1f = new java.io.File(root, "v1")
    assert(new java.io.File(v1f, "tombstones").exists() &&
      !new java.io.File(v1f, "postings").exists() &&
      !new java.io.File(v1f, "postings-delta").exists(),
      "forget on a clean base must be metadata-only")
    // the negative segments carry exactly the forgotten docs' counts —
    // every token is unique to its doc in this fixture, so −df = −1 per
    // forgotten doc-token and −stats = (−10, −200)
    val neg = spark.read.parquet(s"$root/v1/vocab-delta")
      .select("token", "df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(neg.size == 10 * 20 && neg.values.forall(_ == -1L))
    val st = spark.read.parquet(s"$root/v1/stats-delta").head()
    assert(st.getLong(0) == -10L && st.getLong(1) == -200L)
    // the summed statistics views (which read only vocab/stats dirs)
    // reflect the live corpus
    val live = RetrievalIndex.loadVocab(spark, root).count()
    assert(live == (64 - 10) * 20)
    val lst = RetrievalIndex.loadStats(spark, root).head()
    assert(lst.getLong(0) == 54L && lst.getLong(1) == 54L * 20)
  }

  test("bm25 daat serve: keyed term resolution is bucket-pruned + term-pushed across signed segments") {
    import graft.ext.RetrievalIndex
    import spark.implicits._
    // shared vocabulary so multi-term scoring overlaps docs: doc i
    // holds tokens w<i>..w<i+9> — "w5" appears in docs max(1,5-9)..5
    val docs = (1L to 40L)
      .map(i => (i, (i to i + 9).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val root = tmpRoot("bm25-daat")
    RetrievalIndex.buildIndexFrom(docs, root)                       // v0
    val terms = Seq("w5", "w17", "w23")
    // keyed resolution ≡ the O(vocab) view restricted to the terms
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaKey = asMap(RetrievalIndex.resolveTerms(spark, root, terms))
    val viaFull = asMap(RetrievalIndex.loadVocab(spark, root)
      .filter(col("token").isin(terms: _*)))
    assert(viaKey == viaFull && viaKey.nonEmpty)
    // ... and still ≡ after a forget + append (summing SIGNED segments
    // through the keyed, pruned read)
    RetrievalIndex.forgetDocs(spark, root,
      docs.filter(col("doc_id") === 5L), 1L, "f")                   // v1
    RetrievalIndex.appendDocs(
      Seq((100L, "w5 w17 zz1")).toDF("doc_id", "text"), root, 2L, "a") // v2
    val viaKey2 = asMap(RetrievalIndex.resolveTerms(spark, root, terms))
    val viaFull2 = asMap(RetrievalIndex.loadVocab(spark, root)
      .filter(col("token").isin(terms: _*)))
    assert(viaKey2 == viaFull2)
    assert(viaKey2("w5") == viaKey("w5")) // one copy forgotten, one appended
    // the serve plan: BOTH the vocab-segment scans and the postings
    // scans are partition-filtered to the terms' buckets with the term
    // equality pushed into the parquet scan
    val served = RetrievalIndex.serveBm25Daat(spark, root, terms, k = 5)
    val rows = served.collect()
    assert(rows.nonEmpty && rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    val scans = aqeScans(served.queryExecution.executedPlan)
      .filter(sc => Seq("/postings", "/vocab").exists(n =>
        sc.relation.location.rootPaths.exists(_.toString.contains(n))))
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty),
      "every postings/vocab segment read must carry the bucket partition filter")
    assert(scans.forall(_.metadata("PushedFilters").contains("token")),
      s"the term set must push into every scan: ${scans.map(_.metadata("PushedFilters"))}")
    // doc-at-a-time semantics spot-check: w5 lives in docs 1..4 + 100
    // (5 was forgotten), so the top doc by summed score must contain at
    // least one query term and n_terms_hit is a positive int ≤ 3
    assert(rows.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 3))
  }

  test("bm25 phrase serve: positional postings give exact adjacency counts; scans stay pruned") {
    import graft.ext.RetrievalIndex
    import spark.implicits._
    // doc 1: "x y x y x"  -> phrase (x,y) occurs twice, (y,x) twice
    // doc 2: "x x y"      -> (x,y) once;  doc 3: "y x", no (x,y)
    val docs = Seq(
      (1L, "x y x y x"), (2L, "x x y"), (3L, "y x"), (4L, "z q z"))
      .toDF("doc_id", "text")
    val root = tmpRoot("bm25-phrase")
    RetrievalIndex.buildIndexFrom(docs, root)
    val served = RetrievalIndex.serveBm25Phrase(spark, root,
      Seq(("x", "y"), ("y", "x"), ("z", "z")), k = 5)
    val rows = served.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      ("x y", 1, 1L, 2L), ("x y", 2, 2L, 1L),
      ("y x", 1, 1L, 2L), ("y x", 2, 3L, 1L)),
      s"adjacency counts drifted: ${rows.toSeq}")
    // self-phrase (z,z): doc 4 has z at 0,2 — NOT adjacent, no match;
    // phrase hits must come from true adjacency, not co-occurrence
    assert(!rows.exists(_._1 == "z z"))
    // the phrase read is pruned like every other serve: bucket
    // partition filters + the term set pushed into the postings scans
    val scans = aqeScans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("/postings")))
    assert(scans.nonEmpty)
    assert(scans.forall(_.partitionFilters.nonEmpty))
    assert(scans.forall(_.metadata("PushedFilters").contains("token")))
    // positions survive the mutation chain: append a doc, phrase counts
    // include it through the delta segment
    RetrievalIndex.appendDocs(Seq((9L, "x y y x y")).toDF("doc_id", "text"),
      root, 1L, "a")
    val after = RetrievalIndex.serveBm25Phrase(spark, root, Seq(("x", "y")))
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    assert(after == Seq((1L, 2L), (9L, 2L), (2L, 1L)),
      s"delta-segment positions must serve: $after")
  }

  test("bm25 admission gate: overlapping batches never double-count; the novelty read is bucket-pruned") {
    import graft.ext.RetrievalIndex
    import graft.streaming.StreamOps
    import spark.implicits._
    def mkText(stem: String, n: Int) =
      (1 to n).map(i => s"$stem$i").mkString(" ")
    val base = (1L to 48L).map(i => (i, mkText(s"a${i}t", 15)))
      .toDF("doc_id", "text")
    val root = tmpRoot("bm25-admit")
    RetrievalIndex.buildIndexFrom(base, root)                        // v0
    def recount(): (Long, Long, Long) = {
      val st = RetrievalIndex.loadStats(spark, root).head()
      (RetrievalIndex.loadPostings(spark, root).count(),
        st.getLong(0), st.getLong(1))
    }
    val before = recount()
    // a batch that is HALF redelivered base docs, half novel
    val overlap = base.filter(col("doc_id") <= 8)
      .unionByName((100L to 107L).map(i => (i, mkText(s"n${i}t", 15)))
        .toDF("doc_id", "text"))
    RetrievalIndex.admitDocs(overlap, root, 1L, "adm")               // v1
    val after = recount()
    assert(after._1 == before._1 + 8 * 15,
      s"only the 8 novel docs' postings may land: $before -> $after")
    assert(after._2 == before._2 + 8 && after._3 == before._3 + 8 * 15,
      "stats must count the novel docs exactly once")
    // vocab stays a live recount through the gated commit
    val vocab = RetrievalIndex.loadVocab(spark, root).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rc = RetrievalIndex.loadPostings(spark, root)
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocab == rc)
    // a redelivered admission (same stamp) no-ops entirely
    assert(RetrievalIndex.admitDocs(overlap, root, 1L, "adm") == 1L)
    assert(recount() == after)
    // an ALL-duplicate batch commits marker-only (stamp survives)
    assert(RetrievalIndex.admitDocs(base.filter(col("doc_id") <= 4),
      root, 2L, "dup") == 2L)
    assert(!new java.io.File(root, "v2").exists())
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(StreamOps.cdcMarkerStamp(fs,
      new org.apache.hadoop.fs.Path(root), 2L) == ((2L, "dup")))
    assert(recount() == after)
    // the novelty read prunes the doc-id sidecar to the queried buckets
    val pruned = RetrievalIndex.liveDocIds(spark, root, Some(Seq(3L)))
    pruned.collect()
    val scans = aqeScans(pruned.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(p =>
        p.toString.contains("/docs")))
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "the sidecar read must carry the db partition filter")
    // forget-then-readmit: a forgotten doc is novel again (tombstones
    // shade the BASE sidecar; the re-admitted id returns via a delta)
    RetrievalIndex.forgetDocs(spark, root,
      base.filter(col("doc_id") === 7L), 3L, "f")                    // v3
    assert(RetrievalIndex.liveDocIds(spark, root)
      .filter(col("doc_id") === 7L).count() == 0)
    RetrievalIndex.admitDocs(base.filter(col("doc_id") === 7L),
      root, 4L, "re")                                                // v4
    assert(RetrievalIndex.liveDocIds(spark, root)
      .filter(col("doc_id") === 7L).count() == 1)
    assert(RetrievalIndex.loadPostings(spark, root)
      .filter(col("doc_id") === 7L).count() == 15)
  }

  test("bm25 empty batches flip marker-only versions (the stamp survives a no-op commit)") {
    import graft.ext.RetrievalIndex
    import graft.streaming.StreamOps
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, s"a$i b$i c$i")).toDF("doc_id", "text")
    val root = tmpRoot("bm25-empty")
    RetrievalIndex.buildIndexFrom(docs, root)                       // v0
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val rootP = new org.apache.hadoop.fs.Path(root)
    assert(RetrievalIndex.appendDocs(empty, root, 5L, "e") == 1L)
    assert(!new java.io.File(root, "v1").exists(),
      "an empty append writes no data dirs")
    assert(StreamOps.cdcMarkerStamp(fs, rootP, 1L) == ((5L, "e")))
    // the stamp is live: a redelivery no-ops instead of re-committing
    assert(RetrievalIndex.appendDocs(empty, root, 5L, "e") == 1L)
    assert(RetrievalIndex.latestVersion(spark, root).contains(1L))
    // an empty forget stamps the same way
    assert(RetrievalIndex.forgetDocs(spark, root, empty, 6L, "f") == 2L)
    assert(StreamOps.cdcMarkerStamp(fs, rootP, 2L) == ((6L, "f")))
    // readers resolve straight through marker-only versions
    assert(RetrievalIndex.loadPostings(spark, root).count() == 18L)
    assert(RetrievalIndex.serveBm25TopK(spark, root).count() > 0)
  }

  // ------------------------------------------------- the fold rule

  /** Every file under `root` with its size, relative paths. */
  private def listing(root: String): Map[String, Long] = {
    val base = java.nio.file.Paths.get(root)
    val files = java.nio.file.Files.walk(base)
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => base.relativize(f).toString -> java.nio.file.Files.size(f)).toMap
    finally files.close()
  }

  test("compacting a depth-0 chain is a no-op: live version back, no job, nothing written") {
    import graft.ext.{RetrievalIndex, TextIndex}
    import spark.implicits._
    val docs = (1L to 12L).map(i => (i, (1 to 20).map(j => s"w${i % 4}x$j").mkString(" ")))
      .toDF("doc_id", "text")
    val vRoot = tmpRoot("noop-vec")
    VectorIndex.buildIndexFrom(fullVecs, vRoot)
    val gRoot = tmpRoot("noop-graph")
    VectorIndex.ensureGraphIndex(spark, sf0001, gRoot)
    val tRoot = tmpRoot("noop-text")
    TextIndex.buildIndexFrom(docs, tRoot)
    val rRoot = tmpRoot("noop-bm25")
    RetrievalIndex.buildIndexFrom(docs, rRoot)
    // a compacting forget leaves a depth-0 chain stamped with ITS stamp
    RetrievalIndex.appendDocs(Seq((100L, "z1 z2 z3")).toDF("doc_id", "text"),
      rRoot, 1L, "a")                                                 // v1: delta
    RetrievalIndex.forgetDocs(spark, rRoot, docs.filter(col("doc_id") === 3L),
      2L, "f")                                                        // v2: folded
    assert(new java.io.File(rRoot, "v2/postings").exists())
    val folds = Seq[(String, String, () => Option[Long])](
      ("codes", vRoot, () => VectorIndex.compactIndex(spark, vRoot)),
      ("graph", gRoot, () => VectorIndex.compactGraphIndex(spark, gRoot)),
      ("text postings", tRoot, () => TextIndex.compactIndex(spark, tRoot)),
      ("bm25 postings", rRoot, () => RetrievalIndex.compactIndex(spark, rRoot)))
    folds.foreach { case (name, root, fold) =>
      val live = SegmentChain.latest(spark, root)
      val before = listing(root)
      val (v, jobs) = jobsDuring(fold())
      assert(v == live, s"$name: a depth-0 fold must return the live version")
      assert(jobs == 0, s"$name: a depth-0 fold launched $jobs Spark jobs")
      assert(listing(root) == before, s"$name: a depth-0 fold must write nothing")
    }
    // the forget's stamp stayed live, so its redelivery is still a retry
    assert(RetrievalIndex.forgetDocs(spark, rRoot,
      docs.filter(col("doc_id") === 3L), 2L, "f") == 2L)
    assert(RetrievalIndex.latestVersion(spark, rRoot).contains(2L))
  }

  test("loading the codebooks launches no job before an action") {
    val root = tmpRoot("cb-jobs")
    VectorIndex.buildIndexFrom(fullVecs, root)
    val ((cb, pq), jobs) = jobsDuring(
      (VectorIndex.loadCodebook(spark, root), VectorIndex.loadPqCodebook(spark, root)))
    assert(jobs == 0, s"loading the codebooks launched $jobs Spark jobs")
    assert(cb.count() == 16L && pq.select("cj").distinct().count() == 8L)
  }

  test("after append+compact cycles every bucket directory of the live base holds one file") {
    import graft.ext.{RetrievalIndex, TextIndex}
    import spark.implicits._
    def mkDocs(from: Long, n: Int) = (from until from + n).map(i =>
      (i, (1 to 20).map(j => s"t${i}w$j").mkString(" "))).toDF("doc_id", "text")
    val vRoot = tmpRoot("one-file-vec")
    VectorIndex.buildIndexFrom(fullVecs, vRoot)
    val tRoot = tmpRoot("one-file-text")
    val rRoot = tmpRoot("one-file-bm25")
    val base = mkDocs(1L, 40)
    TextIndex.buildIndexFrom(base, tRoot)
    RetrievalIndex.buildIndexFrom(base, rRoot)
    (1 to 3).foreach { i =>
      VectorIndex.appendBatch(
        fullVecs.limit(20).selectExpr(s"vec_id + ${8000000 * i} AS vec_id", "v"),
        vRoot, i.toLong, "cyc")
      VectorIndex.compactIndex(spark, vRoot)
      val batch = mkDocs(1000L * i, 10)
      TextIndex.admitBatch(batch, base, tRoot, i.toLong, "cyc").unpersist()
      TextIndex.compactIndex(spark, tRoot)
      RetrievalIndex.appendDocs(batch, rRoot, i.toLong, "cyc")
      RetrievalIndex.compactIndex(spark, rRoot)
    }
    def bucketFiles(root: String, segment: String): Map[String, Int] = {
      val live = SegmentChain.latest(spark, root).get
      val seg = new java.io.File(root, s"v$live/$segment")
      assert(seg.isDirectory, s"the live version of $root must be a base with $segment")
      seg.listFiles().filter(_.isDirectory).map(d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    Seq((vRoot, "codes"), (tRoot, "postings"), (rRoot, "postings"), (rRoot, "vocab"))
      .foreach { case (root, segment) =>
        val files = bucketFiles(root, segment)
        assert(files.nonEmpty && files.values.forall(_ == 1),
          s"$segment under $root: parquet files per bucket $files")
      }
  }
}
