package graft

import graft.operators.{Relational, Temporal}
import graft.ext.VectorOps
import org.apache.spark.sql.DataFrame

/** Physical-plan audits: the properties that make these queries scale are
  * asserted, not assumed — filter pushdown into the parquet scan, column
  * pruning, broadcast joins for baselines/dims, TakeOrderedAndProject for
  * top-k, whole-stage codegen coverage. If a refactor silently degrades a
  * plan (e.g. a broadcast becomes a shuffle), these fail.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q01: shipdate predicate is pushed into the parquet scan") {
    val p = plan(Relational.pricingSummary(spark, sf0001))
    assert(p.contains("PushedFilters:") && p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q02: column pruning — scan reads only referenced columns") {
    val p = plan(Relational.filterProject(spark, sf0001))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_partkey") && !p.contains("l_returnflag"), p)
  }

  test("q03: customer dim joins via BroadcastHashJoin") {
    val p = plan(Relational.topRevenueCustomers(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q04: snowflake dims broadcast — no shuffle on the supplier side") {
    val p = plan(Relational.regionSupplierRollup(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
    // the only exchanges allowed are broadcast + the final 5-row agg/sort
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q14: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Relational.topOrders(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t02: hour-of-day baseline joins via broadcast") {
    val p = plan(Temporal.hourBaselineZscore(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("t14: range join against the tier dim is a broadcast nested loop") {
    val p = plan(Temporal.valueTierRangeJoin(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("aggregation pipelines run under whole-stage codegen") {
    // AQE materializes codegen stages only at execution — run, then inspect
    // the final adaptive plan.
    val df = Relational.pricingSummary(spark, sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the final plan
    assert(p.contains("*("), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("e04: native cosine expression sits inside the generated join stage") {
    val p = plan(VectorOps.topSimilarPairs(spark, sf0001))
    assert(p.contains("cosine_similarity"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q18: explicit pivot values plan as ONE aggregation, no distinct pre-job") {
    val df = Relational.statusPivot(spark, sf0001)
    val p = plan(df)
    // pivot with an explicit value list lowers to conditional aggregation:
    // exactly one HashAggregate pair (partial+final), no extra collect job
    assert(p.contains("HashAggregate"), p)
    assert(!p.toLowerCase.contains("expand"), p) // not grouping-sets shaped
  }

  test("d05: posting-list dedup has no join — pair emission is generate+agg") {
    val p = plan(graft.ext.TextOps.jaccardDupPairs(spark, sf0001))
    assert(!p.contains("Join"), p) // index built once; no self-join anywhere
    assert(p.contains("Generate"), p) // explode of shingles and of pairs
  }

  test("e06: embedding near-dup likewise joins nothing") {
    val p = plan(graft.ext.VectorOps.cosineNearDup(spark, sf0001))
    assert(!p.contains("Join"), p)
    assert(p.contains("cosine_similarity"), p)
  }

  test("e07: IVF codebook and probe sides are broadcast, fact never reshuffles for them") {
    val p = plan(graft.ext.VectorOps.annIvfTop5(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q20: correlated scalar subquery decorrelates into an aggregate+join") {
    val p = plan(Relational.aboveAvgOrders(spark, sf0001))
    // Catalyst rewrites the per-row subquery into a grouped aggregate
    // joined back on the correlation key — no per-row subquery execution
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Join") || p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("Subquery subquery"), p)
  }

  test("no query plans a CartesianProduct") {
    // The hygiene sweep for accidental unhinted cross joins: a broadcast
    // nested-loop against a 1-row scalar/query frame is fine (and
    // intentional in the brute-force baselines); a CartesianProduct of two
    // shuffled sides at 100 TB is never fine. It reads the findings of
    // every execution the shared registry run captured, so the jobs a
    // query runs while building its frame (d13's label-propagation loop,
    // eager checkpoints) are audited with its final plan.
    val offenders = registryRun.toSeq.sortBy(_._1).flatMap { case (n, o) =>
      o.findings.filter(f => f.kind == "join" && f.operator == "CartesianProduct")
        .map(f => s"$n: ${f.detail}")
    }
    assert(offenders.isEmpty, s"queries planning a CartesianProduct:\n${offenders.mkString("\n")}")
  }

  test("no query plans a partition-less WindowExec over data-scaled input") {
    // The funnel sweep: a WindowExec with an empty partitionSpec moves
    // EVERY input row to one task — the q35/d42 class of bug that
    // exactNtile eliminated. Like the CartesianProduct sweep, this reads
    // the findings of every execution each registry query triggers; the
    // allowlist names the queries whose unpartitioned window runs over a
    // frame bounded BY CONSTRUCTION (a calendar/bucket/bin aggregate,
    // never raw rows), with the bound stated.
    val bounded: Map[String, String] = Map(
      // query -> why its unpartitioned window input is bounded
      "q27_open_order_backlog" -> "day spine: ≤ one row per calendar day",
      "q35_decile_lift" -> "cum_capture over the 10-row decile aggregate",
      "q45_lorenz_gini" -> "Lorenz cum-share + trapezoid lag over the 10-row decile aggregate",
      "t53_session_type_pmi" -> "vocabulary code assignment over the |types|-row distinct aggregate",
      "e39_pq_shortlist_sweep" -> "adc_rank over the TakeOrdered ≤50-row shortlist",
      "e57_trained_shortlist_sweep" -> "adc_rank over the TakeOrdered ≤50-row shortlist (e39's shape off the trained artifact)",
      "q37_percent_of_parent" -> "grand-total window over the 25-row nation aggregate",
      "q38_rank_metrics" -> "bucket-offset frame: ≤ nBuckets=1000 rows",
      "t01_hourly_value_ma" -> "centered MA over the hourly rollup: calendar-bounded",
      "t19_histogram_quantiles" -> "histogram bins: ≤ 64 rows",
      "t33_concurrent_sessions" -> "boundary minutes: calendar-bounded frame",
      "d25_sequence_packing" -> "bucket-offset frame: |docs|/100 buckets",
      "d28_length_histogram" -> "4 fixed length bands",
      "d85_bm25_daat_topk" -> "rank over the TakeOrdered ≤10-row doc shortlist",
      // both windows run in construction jobs; its final plan has none
      "e54_adaptive_nprobe" -> "routing rank + running coverage over the ≤ codebook-size (16) routing table")
    val offenders = registryRun.toSeq.sortBy(_._1).flatMap { case (n, o) =>
      val ws = o.findings.count(f =>
        f.kind == "window" && f.operator == "WindowExec (partition-less)")
      if (ws == 0) None else Some(n -> ws)
    }
    val unexplained = offenders.filterNot { case (n, _) => bounded.contains(n) }
    assert(unexplained.isEmpty,
      s"partition-less WindowExec outside the bounded allowlist: $unexplained")
    // the allowlist must not rot: every entry still has such a window
    val live = offenders.map(_._1).toSet
    val stale = bounded.keySet.diff(live)
    assert(stale.isEmpty, s"allowlist entries with no partition-less window (remove): $stale")
  }

  test("no query reads a heavy column its result does not depend on") {
    // The 100 TB scan-bandwidth sweep: `documents.text` and
    // `embeddings.embedding` are the two columns that dominate their
    // tables' byte size (multi-KB text, 64-float vectors vs a handful of
    // scalar metadata fields). Catalyst prunes them automatically — until
    // something blocks pruning (a typed Dataset op deserializing whole
    // rows, a persist/checkpoint of a wide frame, to_json(struct(*)), a
    // select("*") carried through a join). This sweep reads the parquet
    // scan findings of every registry query (PlanAudit walks AQE wrappers,
    // subqueries and persisted subtrees) and fails if a query OUTSIDE the
    // audited reader sets pulls a heavy column through its scan — i.e. if
    // a metadata-only query ever starts paying the full text/vector scan
    // cost. The two sets were seeded from the actual plans and
    // hand-audited: every member tokenizes/hashes text or does vector
    // math on embeddings. The audit covers every execution the query
    // function triggers, not only its final plan: the shared registry run
    // captures the jobs run while the frame is built (eager
    // localCheckpoint()s, driver collects), whose scans a checkpoint
    // truncates out of the final plan, so no query needs a hand exclusion.
    val textReaders = Set(
      "d81_curation_pipeline",
      "d01_exact_dedup", "d02_token_stats", "d03_quality_score",
      "d04_lang_id", "d05_jaccard_dup_pairs", "d06_minhash_lsh_pairs",
      "d07_simhash_pairs", "d08_winnow_fingerprint", "d09_token_frequencies",
      "d10_bpe_token_counts", "d11_heavy_hitter_tokens",
      "d12_edit_distance_dup_pairs", "d15_token_chunks",
      "d17_incremental_dedup", "d18_contamination", "d19_repetition_stats",
      "d21_tfidf_top_terms", "d22_vocab_prune", "d23_unigram_logprob",
      "d24_bloom_incremental_dedup", "d25_sequence_packing",
      "d26_cross_split_leakage", "d27_source_report", "d28_length_histogram",
      "d29_apply_near_dup_removal", "d30_prefix_dup", "d31_rule_filter",
      "d32_quality_weighted_sample", "d33_bigram_logprob",
      "d35_containment_dup_pairs", "d36_hapax_stats", "d37_best_of_cluster",
      "d38_langid_confusion", "d39_capped_jaccard_pairs",
      "d40_boilerplate_ngrams", "d41_pmi_phrases", "d44_cms_token_frequency",
      "d47_token_budget_fill", "d48_apply_substring_removal",
      "d53_apply_decontamination", "d54_heldout_perplexity",
      "d55_temperature_mixture", "d56_bpe_encode", "d63_dsir_weights",
      "d64_stupid_backoff", "d66_filter_funnel", "d67_dup_mass_report",
      "d68_intradoc_chunk_dedup", "d69_kn_bigram_score",
      "d71_source_overlap_matrix", "d72_sparse_cosine_dup_pairs",
      "d73_threshold_sensitivity", "d74_lsh_band_sensitivity",
      "d77_perplexity_buckets",
      // read text only in jobs run while the frame is built (eager
      // localCheckpoint()s of token, shingle, signature or cluster
      // frames); the checkpoint truncates the scan out of the final plan
      "d13_dup_clusters", "d34_cluster_weighted_sample",
      "d49_cluster_safe_split", "d50_bpe_merges", "d51_dup_graph_pagerank",
      "d52_quality_logreg", "d57_dup_graph_triangles", "d58_zipf_fit",
      "d59_source_divergence", "d60_shingle_heaps",
      "d61_minhash_estimate_audit", "d65_fuzzy_decontamination",
      "d76_minhash_width_sweep", "d78_apply_minhash_dedup",
      // the 4-row opening-bigram read of the phrase / proximity serves is
      // collected to the driver during construction
      "d86_bm25_phrase_topk", "d87_bm25_proximity_topk",
      // m04 decodes media features from payload-header bytes derived
      // from text (m02's derived-payload arrangement on the index arc)
      "m01_binary_hash_dedup", "m02_perceptual_media_dedup",
      "m04_media_admission",
      "e23_crossmodal_dup_confirm", "e41_hybrid_rrf_retrieval",
      // tokenizes text inside the unigram-LM subtree (the d42 pattern)
      "d70_isotonic_calibration",
      // visible only THROUGH their internally-persisted build frames
      // (PlanAudit's InMemoryTableScan recursion): all five tokenize text
      // inside the gram/persist subtree they are built on
      "d20_crossdoc_ngram_dup", "d42_quality_calibration",
      "d45_ngram_novelty", "d46_dup_substring_spans", "d62_bm25_retrieval",
      // signature-index admission shingles the incoming split's text
      // (and the base split's, on a cold index root / for the verify)
      "d79_index_near_dedup", "d80_index_forget",
      // the hybrid serve reads the 10 QUERY docs' token sets from the
      // primary store (a doc_id<10-pushed 10-row read — the forward-
      // index stand-in; the corpus-side reads are all index reads)
      "e65_hybrid_index_served")
    val embReaders = Set(
      "e01_knn_brute_force", "e02_label_centroids", "e03_lsh_buckets",
      "e04_top_similar_pairs", "e05_ann_lsh_top5", "e06_cosine_near_dup",
      "e07_ann_ivf_top5", "e08_batch_knn", "e09_quantized_knn",
      "e10_centroid_representatives", "e11_filtered_knn",
      "e12_embedding_audit", "e13_lsh_recall", "e14_ivf_balance_audit",
      "e16_cluster_separation", "e17_feature_simhash",
      "e18_ann_ivf_multiprobe", "e19_pq_knn", "e20_pq_rerank_top5",
      "e21_bq_knn", "e22_semantic_dedup", "e23_crossmodal_dup_confirm",
      "e24_ivfpq_knn", "e25_kmeans_codebook", "e26_ivf_recall",
      "e27_knn_graph", "e30_hard_negatives", "e31_triplet_mining",
      "e32_cluster_balanced_resample", "e33_pq_codebook_train",
      "e34_silhouette", "e35_knn_label_eval", "e36_embedding_drift",
      "e37_sq_bits_sweep", "e38_ivf_cells_sweep", "e39_pq_shortlist_sweep",
      "e57_trained_shortlist_sweep",
      // read embeddings only in jobs run while the frame is built (the
      // checkpointed candidate / projection / power-iteration frames)
      "e15_mmr_top5", "e28_pca_power_iteration", "e29_jl_projection_audit",
      "e40_graph_walk_recall", "e41_hybrid_rrf_retrieval",
      "e42_graph_walk_depth_sweep", "e43_graph_walk_beam_sweep",
      "e44_knn_outlier_audit", "e45_matryoshka_recall_sweep",
      // persisted-index serving still reads the QUERY vector (and, on a
      // cold index root, the build pass) from the embeddings table
      "e46_ivfpq_index_served", "e47_ivfpq_index_rerank",
      "e48_ivfpq_batch_served", "e49_graph_walk_served",
      "e50_index_delete_served",
      // the recon audit joins the primary store's raw vectors by design
      "e51_pq_recon_audit",
      // admission reads the incoming split's vectors (and the base
      // split's for the exact verify / cold-root build)
      "e52_vector_admission",
      // filtered serve reads the query vector + the re-rank shortlist
      "e53_filtered_knn_served",
      // adaptive routing reads the query vector (and builds cold roots)
      "e54_adaptive_nprobe",
      // graph insert re-scores live edges against raw vectors
      "e55_graph_insert",
      "e58_graph_delete_repair", "e62_index_lifecycle_served",
      "e63_ivfpq_residual_knn",
      "e59_knn_label_eval_sampled", "e60_top_pairs_sampled",
      "e61_graph_batch_served",
      // the maintained-recall walk + exact witness score raw vectors
      "e56_graph_maintained_recall",
      // the lifecycle walk scores beam candidates against raw vectors
      // (and builds/mutates the graph on a cold root)
      "e64_graph_lifecycle_served",
      // the hybrid dense arm reads the 10 query vectors + the 20-row
      // re-rank shortlist from the primary store (two-stage serve)
      "e65_hybrid_index_served")
    val readCols = """reads \d+/\d+ cols \[([^\]]*)\]""".r
    val heavyByQuery = registryRun.map { case (n, o) =>
      n -> o.findings.filter(_.kind == "scan").flatMap { f =>
        val cols = readCols.findFirstMatchIn(f.detail)
          .map(_.group(1).split(", ").toSet).getOrElse(Set.empty[String])
        Seq(("parquet documents.parquet", "text"), ("parquet embeddings.parquet", "embedding"))
          .collect { case (t, c) if f.operator == t && cols.contains(c) => c }
      }.toSet
    }
    val offenders = heavyByQuery.collect {
      case (n, r) if r.contains("text") && !textReaders.contains(n) => n -> "text"
      case (n, r) if r.contains("embedding") && !embReaders.contains(n) => n -> "embedding"
    }
    assert(offenders.isEmpty,
      s"queries reading a heavy column outside the audited sets: $offenders")
    // and the audited sets must not rot into a superset nobody prunes:
    val staleText = textReaders.filterNot(n => heavyByQuery.get(n).exists(_.contains("text")))
    val staleEmb = embReaders.filterNot(n => heavyByQuery.get(n).exists(_.contains("embedding")))
    assert(staleText.isEmpty && staleEmb.isEmpty,
      s"audited readers whose executions no longer read the column (remove): text=$staleText emb=$staleEmb")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // At 100 TB a selective dim-side predicate should reach the fact scan
    // as a bloom-filter semi-join reduction BEFORE the shuffle — Catalyst's
    // InjectRuntimeFilter does this when the join must shuffle (dim too big
    // to broadcast). Thresholds are scaled down to this fixture's sizes;
    // the conf names and rule are what production would tune, not a custom
    // rule of ours.
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val li = Tables.lineitem(spark, sf0001)
      val ord = Tables.orders(spark, sf0001).filter("o_orderpriority = '1-URGENT'")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"), p)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // The engine's answer to join skew when keys can't be salted upfront
    // (t15 is the manual variant): AQE detects the oversized partition in
    // the shuffle stats and splits it. Thresholds scaled to fixture size.
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // payload must not compress away: skew detection reads COMPRESSED
      // map-output sizes, and a constant-key/sequential-value column lz4s
      // below any sane threshold (found out the hard way)
      val big = spark.range(0, 2000000)
        .selectExpr("CASE WHEN id % 4 != 3 THEN 0L ELSE id END AS k",
          "CAST(rand(7) * 1e9 AS LONG) AS v")
      val dim = spark.range(0, 500000).selectExpr("id AS k", "id * 2 AS w")
      val j = big.join(dim, "k").agg(org.apache.spark.sql.functions.sum("w"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true") && p.contains("AQEShuffleRead skewed"), p)
    }
  }

  test("q24: one fact-fact shuffle; fixed dims broadcast even with AQE off") {
    // With broadcast estimation disabled, only the EXPLICIT broadcast()
    // hints survive: nation/region must still broadcast, while the
    // lineitem⋈orders and ⋈customer joins shuffle on their keys — the
    // shape the plan must hold at 100 TB where customer scales with fact.
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(Relational.regionYearRevenue(spark, sf0001))
      assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
      assert("SortMergeJoin".r.findAllIn(p).size == 2, p)
    }
  }

  test("t23: both window layers and the agg ride ONE exchange on user_id") {
    val p = plan(Temporal.stateIntervals(spark, sf0001))
    // island flag, running island id, interval agg, and the valid_to lead
    // all require clustering by user_id (or a superset) — EnsureRequirements
    // must plan a single hashpartitioning exchange, reused throughout.
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("d23: the token-count side joins by shuffle, never collected or broadcast") {
    // Vocabulary is unbounded at corpus scale — the plan must stay valid
    // with broadcast estimation off (only the 1-row total is hinted).
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(graft.ext.TextOps.unigramLogprob(spark, sf0001))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert("HashAggregate".r.findAllIn(p).size >= 4, p) // partial+final × 2 aggs
    }
  }

  test("q25: EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    val df = Relational.existsNotExists(spark, sf0001)
    val p = plan(df)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("Subquery subquery"), p) // nothing left per-row
  }

  test("e11: metadata predicate reaches the parquet scan before any distance math") {
    val p = plan(graft.ext.VectorOps.filteredKnn(spark, sf0001))
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(label,3"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t27: spine generates from the 1-row span agg, fact table scanned twice") {
    val df = Temporal.missingHours(spark, sf0001)
    val p = plan(df)
    assert(p.contains("Generate explode"), p) // hour spine via generator
    assert(!p.contains("CartesianProduct"), p)
    // the docstring's invariant, pinned: span+types ride ONE aggregate, so
    // the fact table appears exactly twice in the logical plan
    val scans = "Relation \\[".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(scans == 2, s"expected 2 fact scans, got $scans")
  }

  test("d25: only the tiny bucket-offset frame passes through a single partition") {
    // The doc-level windows must partition by bucket; the one allowed
    // SinglePartition exchange is the |docs|/100-row bucket-offset cumsum.
    val p = plan(graft.ext.TextOps.sequencePacking(spark, sf0001))
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
    assert(p.contains("Window [") && p.contains("[bucket"), p)
  }

  test("q23: TopKAgg aggregates partially map-side (ObjectHashAggregate pair)") {
    val p = plan(Relational.topOrdersPerCustomer(spark, sf0001))
    // partial + final ObjectHashAggregate — the bounded buffers combine
    // before the shuffle, which is the entire point of the operator
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("e08: query batch broadcasts and per-query top-k partially aggregates") {
    val p = plan(graft.ext.VectorOps.batchKnn(spark, sf0001))
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 10-row query side broadcast
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p) // partial+final heaps
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("a persisted scoped frame is served from InMemoryTableScan by downstream queries") {
    // SURVEY §4.1 caching row: the dashboard reuses one scoped scan across
    // ~8 panels; the engine equivalent is persist() on the scoped frame,
    // after which every downstream plan reads the cache, not the source.
    val scoped = Tables.events(spark, sf0001).filter("event_type = 'click'")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      scoped.count() // materialize
      val p1 = plan(scoped.groupBy("user_id").count())
      val p2 = plan(scoped.agg(org.apache.spark.sql.functions.avg("value")))
      // (the plan string still SHOWS a FileScan inside the InMemoryRelation
      // subtree — that's the cached build plan's provenance, not execution)
      assert(p1.contains("InMemoryTableScan"), p1)
      assert(p2.contains("InMemoryTableScan"), p2)
    } finally scoped.unpersist()
  }

  test("q28: hand-decorrelation survives scaled part cardinality (AQE off)") {
    // With broadcast estimation disabled, the per-part avg side must join
    // by shuffle ON PARTKEY (co-partitioned with its own agg exchange) —
    // the shape that holds when parts scale with the fact table. Only the
    // explicitly hinted `part` dim may broadcast.
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(Relational.smallQtyRevenue(spark, sf0001))
      assert("BroadcastHashJoin".r.findAllIn(p).size == 1, p) // part dim only
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(!p.contains("Subquery subquery"), p) // nothing runs per-row
    }
  }

  test("q29: anti side pre-reduces to distinct custkeys before the anti join") {
    val p = plan(Relational.inactiveHighBalance(spark, sf0001))
    assert(p.contains("LeftAnti"), p)
    // the orders filter must reach the scan, and the distinct must partial-
    // aggregate map-side (partial+final HashAggregate pair on o_custkey)
    assert(p.contains("PushedFilters:") && p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q30: second nation role adds no exchange — one fact-fact shuffle with AQE off") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(Relational.nationTradeVolume(spark, sf0001))
      // supplier + nation×2 are hinted broadcasts; lineitem⋈orders and
      // ⋈customer shuffle — exactly the q24 budget despite the extra role
      assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p)
      assert("SortMergeJoin".r.findAllIn(p).size == 2, p)
    }
  }

  test("q39: market share runs one fact-fact shuffle; both share sums in one aggregation") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(Relational.marketShare(spark, sf0001))
      // lineitem⋈orders is the only shuffle join; part, supplier⋈nation,
      // customer⋈nation⋈region ride explicit broadcast hints
      assert("SortMergeJoin".r.findAllIn(p).size == 1, p)
      assert("BroadcastHashJoin".r.findAllIn(p).size == 6, p)
      // numerator and denominator come from the SAME aggregation: exactly
      // one partial+final HashAggregate pair in the whole plan
      assert("HashAggregate".r.findAllIn(p).size == 2, p)
    }
  }

  test("q38: exactly two window passes, the global one over the bucket frame; top-k is TakeOrderedAndProject") {
    val p = plan(Relational.rankMetricsReport(spark, sf0001))
    // the two-level prefix machinery: ONE unpartitioned window (bucket
    // offsets, input ≤ nBuckets rows) + ONE bucket-partitioned window
    // (within-bucket cums); row volume never funnels through a global
    // sort — the top-k is per-partition heaps
    assert("Window".r.findAllIn(p).size == 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("t33: the sweep's single-partition cumsum sees only the minute frame") {
    val p = plan(Temporal.concurrentSessions(spark, sf0001))
    // sessionization + delta agg partition by key; the one SinglePartition
    // exchange is the calendar-bounded boundary-minute frame, and the
    // top-10 is a TakeOrderedAndProject, not a global sort
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q31: the persisted revenue view makes the fact single-scan (compute once, use twice)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Relational.topSupplierRevenue(spark, sf0001)
    df.collect() // materialize the cache so the executed plan is final
    // count LIVE lineitem scans by tree walk — the cached InMemoryRelation
    // reprints its defining scan in toString but it is not an operator of
    // this plan (the cache definition ran once, on materialization)
    def walk(p: SparkPlan): (Int, Int) = {
      val self = p match {
        case f: FileSourceScanExec =>
          (if (f.toString.contains("lineitem")) 1 else 0, 0)
        case q if q.nodeName.contains("InMemoryTableScan") => (0, 1)
        case _ => (0, 0)
      }
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      kids.map(walk).foldLeft(self) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    val (factScans, cacheReads) = walk(df.queryExecution.executedPlan)
    assert(cacheReads >= 2, s"both consumers must read the cache ($cacheReads)")
    assert(factScans == 0, s"no live lineitem scan may remain ($factScans)")
  }

  test("q40: returned-revenue joins one fact-fact shuffle, dims broadcast, top-20 heap") {
    val df = Relational.returnedRevenue(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p) // customer + nation sides
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters") && p.contains("l_returnflag"), p)
  }

  test("q42: HAVING probe pre-reduces the fact; customer broadcasts; top-100 heap") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = Relational.bigOrders(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p) // customer side
    assert(p.contains("TakeOrderedAndProject"), p)
    // the orders join must consume the REDUCED side: walking the final
    // adaptive plan, the non-broadcast join's subtree has to contain the
    // quantity HashAggregate — lineitem⋈orders raw would fail this
    def walk(n: SparkPlan): Seq[SparkPlan] = {
      val kids = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      n +: kids.flatMap(walk)
    }
    val all = walk(df.queryExecution.executedPlan)
    // every join whose subtree reads lineitem must carry the quantity
    // aggregate BELOW it — a raw lineitem⋈orders join would scan
    // lineitem with no aggregate in its subtree (at fixture scale AQE
    // may broadcast the reduced side, so the join TYPE is not pinned)
    val joins = all.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, p)
    val liJoins = joins.filter(j => walk(j).exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec] &&
        n.toString.contains("lineitem")))
    assert(liJoins.nonEmpty, s"no join consumes lineitem:\n$p")
    liJoins.foreach { j =>
      assert(walk(j).exists(_.isInstanceOf[BaseAggregateExec]),
        s"a join consumes raw lineitem without the quantity reduction:\n$p")
    }
  }

  test("d24: Bloom probe is the native might_contain expression, not a UDF") {
    // the probe filter must ride whole-stage codegen: BloomFilterMightContain
    // has doGenCode; the old Scala-UDF probe broke the generated stage
    val df = graft.ext.TextOps.bloomIncrementalDedup(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("might_contain"), p)
    assert(!p.contains("UDF"), p)
    assert(p.contains("*("), p)
  }

  test("xgb_score stage stays inside whole-stage codegen (no interpreted fallback)") {
    // the reason XgbScore exists: the unrolled CASE form overflowed
    // Janino's 64 KB method limit and silently dropped the stage to
    // interpreted evaluation. Guard the property on a tiny model.
    import graft.sources.XgbBundle.{Model, Tree}
    import spark.implicits._
    val t0 = Tree(Array(0, 0, 0), Array(0.5f, 1.0f, 2.0f),
      Array(1, -1, -1), Array(2, -1, -1), Array(true, false, false))
    val m = Model(Seq("a"), Array(0.0), Array(1.0), Nil, Nil, Seq(t0), 0.5, 1,
      "binary:logistic")
    val df = graft.telemetry.Scorer.scoreBundle(
      spark.range(100).selectExpr("CAST(id AS DOUBLE) / 100 AS a"), m)
    df.collect()
    val p = plan(df)
    assert(p.contains("*("), s"xgb_score stage fell out of codegen:\n$p")
    assert(p.contains("xgb_score"), p)
  }

  test("scoped persist variants match registry results and leave no cache behind") {
    spark.sharedState.cacheManager.clearCache()
    val q31 = Relational.topSupplierRevenue(spark, sf0001).collect().toSeq
    val q33 = Relational.soleReturner(spark, sf0001).collect().toSeq
    spark.sharedState.cacheManager.clearCache()
    val s31 = Relational.topSupplierRevenueScoped(spark, sf0001)(_.collect().toSeq)
    val s33 = Relational.soleReturnerScoped(spark, sf0001)(_.collect().toSeq)
    assert(s31 == q31 && s33 == q33)
    // the scoped forms released their views themselves — no runner sweep
    assert(spark.sharedState.cacheManager.isEmpty,
      "scoped variants must unpersist in finally")
    // exception path: the view is released even when f throws
    intercept[RuntimeException] {
      Relational.topSupplierRevenueScoped(spark, sf0001) { df =>
        df.count(); throw new RuntimeException("caller failure")
      }
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    // e15 self-cleans the same way (its consumers collect in-scope)
    SparkEntry.queries("e15_mmr_top5")(spark, sf0001).collect()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("vector shared frames serve bit-equal results and leave no cache behind") {
    // the VectorOps mirror of the text-side compute-once registry: the
    // serving family must return IDENTICAL rows whether each query is
    // self-contained or reads the persisted vector/bucket/PQ/BQ frames,
    // and clearSharedFrames must release every byte of storage.
    // e26 is absent here ON PURPOSE: it persists its scoring pass under
    // the runner-owned contract, which would trip the strict
    // cache-release assert below — it gets its own check next test
    val names = Seq("e03_lsh_buckets", "e05_ann_lsh_top5", "e07_ann_ivf_top5",
      "e13_lsh_recall", "e18_ann_ivf_multiprobe", "e19_pq_knn",
      "e20_pq_rerank_top5", "e21_bq_knn", "e22_semantic_dedup",
      "e23_crossmodal_dup_confirm", "e24_ivfpq_knn", "e25_kmeans_codebook",
      "e30_hard_negatives", "e31_triplet_mining")
    // self-contained rows: the registry pass ran each query with the
    // shared frames and the cache manager cleared first
    val iso = names.map(n => n -> registryRun(n).ansiOn.get._2).toMap
    spark.sharedState.cacheManager.clearCache()
    graft.ext.VectorOps.enableSharedFrames(spark, sf0001)
    val sh = names.map(n =>
      n -> SparkEntry.queries(n)(spark, sf0001).collect().toSeq).toMap
    graft.ext.VectorOps.clearSharedFrames()
    names.foreach(n => assert(iso(n) == sh(n), s"shared-frame drift in $n"))
    assert(spark.sharedState.cacheManager.isEmpty,
      "clearSharedFrames must unpersist every registered frame")
  }

  test("e26 shared-frame equality (internally-persisting, runner-owned cleanup)") {
    // e26 persists its broadcast-query scoring pass (three aggregation
    // consumers — the q31 ownership model), so the runner's clearCache
    // is part of its contract; equality across modes still must hold
    val iso = registryRun("e26_ivf_recall").ansiOn.get._2
    spark.sharedState.cacheManager.clearCache()
    graft.ext.VectorOps.enableSharedFrames(spark, sf0001)
    val sh = SparkEntry.queries("e26_ivf_recall")(spark, sf0001).collect().toSeq
    graft.ext.VectorOps.clearSharedFrames()
    spark.sharedState.cacheManager.clearCache()
    assert(iso == sh, "e26 drifts between shared and self-contained modes")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("q32: probe side of the argmin join-back never shuffles (min frame broadcasts)") {
    val df = Relational.cheapestSupplierPerPart(spark, sf0001)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    // exchanges: the min agg's partkey hash, the dedup hash, the output
    // range sort — none of them a probe-side pre-join shuffle
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("partition-pruned telemetry scan (hive layout) prunes at planning") {
    // covered in TelemetrySpec via PartitionFilters on the curated store;
    // here: the testdata single-file scans carry no partition filters but
    // must still show pushed predicates for value filters
    val p = plan(Tables.lineitem(spark, sf0001).filter("l_quantity >= 30"))
    assert(p.contains("GreaterThanOrEqual(l_quantity,30.0)"), p)
  }
}
