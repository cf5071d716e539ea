package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-shape regression guard across the ENTIRE query inventory:
  * plans every declared query (no execution) and rejects the shapes
  * that would melt at scale. The allowlists below are the one
  * reviewed list of these shapes — a new query that sneaks in a
  * cartesian product or an unreviewed nested-loop join fails here, not
  * on the cluster. */
class PlanGuardSpec extends SparkSpecBase {

  // reviewed: single-probe / tiny-build-side nested loops (linear) —
  // q_window_ntile / q_late_data broadcast a 1-row quantile-bounds
  // aggregate, q_ivf_build / q_sim_ivf the 1-row centroid-array scalar
  // (q_dedup_embed now plans the custom DotTopKJoinExec, not a BNLJ).
  // q_pack_chunks broadcasts its 1-row quantile-bounds aggregate,
  // q_unigram_ppl its 1-row unigram-model scalar, q_unigram_open the
  // 1-row model-total aggregate (the token model itself equi-joins),
  // q_knn_join the tiny probe batch (small BY DEFINITION — a query
  // set, not a corpus)
  // q_gapfill crosses the exploded 1-row min/max spine with the
  // broadcast ≤|types|-row distinct-type table — both metadata-scale;
  // q_hourly_delta composes the same densify spine before its lag;
  // q_heavy_hitters crosses the ≤k candidate counts with the
  // broadcast 1-row total-n aggregate
  private val allowedBnlj = Set(
    "q_sim_search", "q_sim_srp", "q_sim_ivf", "q_ivf_build", "q_tfidf",
    "q_window_ntile", "q_late_data", "q_pack_chunks", "q_unigram_ppl",
    "q_unigram_open", "q_knn_join", "q_pipeline_layout", "q_gapfill",
    "q_hourly_delta", "q_heavy_hitters",
    // q_triangle_count crosses three 1-row stat aggregates;
    // q_zipf_slope crosses the 1-row totals with the 1-row fit (and
    // the rank pass broadcasts 1-row quantile bounds);
    // q_forward_fill composes the q_gapfill densify spine;
    // q_collocations crosses the 1-row M/N token-total scalars;
    // q_dedup_sorted's rank pass broadcasts 1-row quantile bounds;
    // q_basket_rules crosses the 1-row basket-total scalar;
    // q_knn_classify shares q_knn_join's tiny-probe-batch cross;
    // q_equidepth crosses the 1-row octile-boundary aggregate
    "q_triangle_count", "q_zipf_slope", "q_forward_fill",
    "q_collocations", "q_dedup_sorted", "q_basket_rules",
    "q_knn_classify", "q_equidepth",
    // round 9: q_welch_ttest self-joins its |types|-row stats table
    // under the a<b inequality; q_kl_source crosses the broadcast
    // ≤|V|-row vocab and the 1-row |V| scalar; q_chisq crosses the
    // metadata-scale row/column totals and the 1-row N; q_gini
    // crosses the 1-row count (and its rank pass broadcasts 1-row
    // quantile bounds); q_rolling / q_autocorr compose the q_gapfill
    // densify spine cross
    "q_welch_ttest", "q_kl_source", "q_chisq", "q_gini",
    "q_rolling", "q_autocorr",
    // round 13: q_rolling_median composes the same q_gapfill densify
    // spine cross as q_rolling
    "q_rolling_median",
    // q_bm25 crosses the 1-row (N, Σlen, df...) stats aggregate
    "q_bm25",
    // round 11: q_kn_bigram crosses the broadcast 1-row bigram-type
    // total (the backoff denominator — the q_gini 1-row-scalar shape);
    // q_keyness crosses the broadcast 1-row grand token total (the
    // corpus-share denominator — same shape)
    "q_kn_bigram", "q_keyness",
    // q_dedup_funnel crosses its three 1-row stage aggregates
    "q_dedup_funnel",
    // round 10: q_boilerplate_grams crosses the vocab-scale gram-df
    // scan with the broadcast 1-row corpus-count aggregate;
    // q_vocab_coverage's rank pass broadcasts globalRankDesc's 1-row
    // quantile bounds (the q_gini/q_zipf_slope pattern)
    "q_boilerplate_grams", "q_vocab_coverage",
    // q_interleave's global pass broadcasts globalRankDesc's 1-row
    // quantile bounds — the same reviewed pattern; q_mixture_weights
    // crosses two 1-row totals (token sum, isqrt sum)
    "q_interleave", "q_mixture_weights",
    // round 13: q_dedup_semantic_inc crosses the broadcast 1-row
    // centroid-array scalar twice (ivfAssign on the batch and corpus
    // sides — the q_sim_ivf/q_ivf_build shape; the model itself is a
    // parquet-backed ≤16-row table)
    "q_dedup_semantic_inc",
    // round 17: q_dedup_semantic_ivf — with the pair-set temp-parquet
    // round trip removed, the same reviewed 1-row centroid-array
    // cross (ivfAssign on the corpus side) now sits inside the
    // declared plan instead of a one-off build job; the build side is
    // a single collect_list row over the ≤16-row parquet model
    "q_dedup_semantic_ivf",
    // round 14: q_hybrid_rrf composes BOTH reviewed crosses — the
    // q_bm25 1-row stats aggregate on the lexical side and the
    // q_sim_search broadcast 1-row probe vector on the dense side
    "q_hybrid_rrf",
    // round 14: q_ks_drift theta-self-joins the ≤|sources|-row
    // distinct-source spine under a < b (the q_welch_ttest shape) —
    // the corpus itself only ever flows through equi-joins;
    // q_token_budget crosses two broadcast 1-row aggregates (corpus
    // total, saturated-residual) against the ≤|sources|-row table —
    // the q_mixture_weights shape
    "q_ks_drift", "q_token_budget",
    // round 15: q_quality_calib crosses the broadcast 1-row totals
    // aggregate (n_test, n_pos, sq_all) against the ≤10-row bin
    // table — the q_mixture_weights shape
    "q_quality_calib",
    // round 16: q_psi_drift theta-self-joins the ≤|sources|-row
    // distinct-source spine under a < b (exactly the q_ks_drift
    // shape it shares its pair-spine construction with); the corpus
    // collapses to ≤ sources × 20 bucket counts map-side FIRST and
    // only ever flows through equi-joins
    "q_psi_drift")
  // (q_ppl_bucket needs no BNLJ exemption: its scored table is
  // temp-parquet-cached, so the declared plan ranks from a file scan
  // and the 1-row model cross lives only inside the one-time build)
  // reviewed: inherently global window semantics over tiny inputs
  // (q_window_ntile and q_late_data are two-pass distributed now and
  // no longer get the exemption)
  // q_hybrid_rrf ranks two ALREADY-CUT top-100 lists (global limit =
  // TakeOrderedAndProject bounded heaps; the windows sort 100 rows)
  // q_quality_auc midrank-prefix-sums the ≤1001-row score-group
  // table and totals the ≤|langs|-row AUC table — both inputs are
  // collapsed by map-side-combinable aggregates BEFORE the window;
  // q_token_budget's water-filling prefix test orders the
  // ≤|sources|-row per-group aggregate — inherently global semantics
  // over a metadata-scale input
  // q_quality_eval rides the same machinery over the ≤10⁶+1-row
  // micro-quantized score table
  // q_pr_curve prefix-sums the ≤10-row score-decile table (the
  // q_quality_auc collapse — the corpus shrinks in a map-side
  // aggregate BEFORE any window)
  private val allowedGlobalWindow = Set("q_topk_global",
    "q_hybrid_rrf", "q_quality_auc", "q_token_budget", "q_quality_eval",
    "q_pr_curve")

  test("no query plans a cartesian product") {
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sf).queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("nested-loop joins only where reviewed (tiny build sides)") {
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sf).queryExecution.sparkPlan.toString
      if (plan.contains("BroadcastNestedLoopJoin"))
        assert(allowedBnlj.contains(name), s"unreviewed nested-loop join in $name")
    }
  }

  // reviewed: joins whose RDD-backed side is the metadata-scale state
  // of an iterative loop (lineage truncation is localCheckpoint's ONE
  // sanctioned use — TempTables scaladoc). q_pagerank/q_kcore/
  // q_shortest_path join their per-round rank/degree/frontier state
  // (≤|nodes| rows) against the parquet-backed edge table;
  // q_pca_power's deflation joins the ≤dim-row component
  // state. Anything ELSE joining an RDD-backed scan is the stats-loss
  // class that cost the dedup family its broadcasts (rounds 7-8).
  // round 14: q_communities joins its per-round ≤|nodes|-row label
  // state against the checkpointed adjacency — the same class
  private val allowedRddJoin = Set(
    "q_pagerank", "q_kcore", "q_shortest_path", "q_communities",
    "q_pca_power")

  test("no join consumes an RDD-backed scan (stats-loss guard)") {
    // an RDD-backed side (LogicalRDD, e.g. from localCheckpoint)
    // carries at best the ORIGIN plan's estimated stats — never
    // file-size stats — so a downstream join can silently lose its
    // broadcast option (measured: q_jaccard_prefix 2.7-2.9x over its
    // median for two rounds). Shared subtrees consumed by joins must
    // round-trip through TempTables (parquet) instead.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    for ((name, fn) <- SparkEntry.queries) {
      val rddJoinSides = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case j: Join if j.children.exists(
          _.collectLeaves().exists(_.nodeName == "LogicalRDD")) => j
      }
      if (rddJoinSides.nonEmpty)
        assert(allowedRddJoin.contains(name),
          s"$name joins against an RDD-backed scan — materialize the " +
            "shared subtree via TempTables (parquet keeps stats) instead " +
            "of localCheckpoint/persist")
    }
  }

  // round-10 verdict #5: the planned SHUFFLE count of the suite's
  // most expensive queries is part of their performance contract —
  // a refactor that silently adds an exchange (a lost broadcast, an
  // extra aggregate pass, a stats regression) goes red HERE, not on
  // the cluster. Counts are over the PREPARED plan: executedPlan with
  // AQE disabled — NOT sparkPlan, which predates EnsureRequirements
  // and sees only explicit repartitions, missing every
  // planner-inserted exchange (re-pin with the same method or the
  // numbers are meaningless). Broadcast exchanges are excluded — they
  // are the cheap kind; the one-time TempTables builds behind the
  // parquet reads carry their own shuffles and are priced by the
  // bench, not this pin.
  // measured 2026-08-14 at the round-10 HEAD over the PREPARED plan
  // (executedPlan with AQE off — sparkPlan predates EnsureRequirements
  // and would miss every planner-inserted exchange): the declared
  // plans are lean because the heavy shared subtrees (pair graph, CC
  // labels, docGrams, edge table, rank state) are parquet tables
  // whose builds price their own shuffles once, in the bench
  // re-measured 2026-08-14 at the round-11 HEAD (same method) after
  // the one-gram-explode sharing: the original five pins are
  // UNCHANGED by the docGrams refactor — the shared table swaps
  // which leaf the explode reads, not the shuffle structure.
  // Re-measured 2026-10-17 (same method): every entry whose output
  // sort planned its own range exchange lost it — bounded-domain sorts
  // run in the final aggregate's single partition, window-keyed sorts
  // ride the window's range exchange (the two pins below)
  private val exchangeBudget = Map(
    "q_jaccard_prefix" -> 5,
    "q_dedup_ngram" -> 1,
    // re-pinned 5 → 4 in round 12: the shared gram-df table became
    // the skew guard's bucket-size source, deleting the hot-gram
    // count pass (and its exchange) from the containment candidate
    // join — the same cut the pair-graph build took. Back to 5 in
    // round 13 (audited): the handed-sizes path re-aggregates the
    // ABOVE-CAP hot keys to guarantee key uniqueness under int64
    // fingerprint collisions — a metadata-scale exchange over only
    // the >maxBucket rows, bought back many times over by the gram
    // join keys shrinking from ~25-byte strings to longs
    "q_dedup_contain" -> 5,
    "q_triangle_count" -> 8,
    "q_pagerank" -> 3,
    // round-10 verdict #5: pin the shared-artifact consumers too, so
    // the gram-df / pair-graph / tf-idf read paths can't silently
    // grow a shuffle while they're touched
    "q_dedup_ngram_capped" -> 5,
    "q_sim_sparse" -> 0,
    "q_ngram_novelty" -> 2,
    "q_split_leakage" -> 1,
    // round-11 additions: the histogram-first calibration (corpus →
    // per-(group, score) rollup → group repartition for the windows →
    // output sort) and the CC-labels broadcast argmax (label
    // aggregate + output sort; the labels table's own build shuffles
    // are priced once by the bench, not here)
    "q_quality_gate" -> 3,
    "q_dedup_rep_quality" -> 2,
    // round-11, second batch: dup-token accounting (CC labels
    // broadcast against the corpus scan → source aggregate), BPE pairs
    // (ONE alphabet²-bounded count exchange — the top-k is a
    // TakeOrdered, no sort shuffle), NFC accounting (source aggregate;
    // the normalize itself is row-local)
    "q_dup_tokens" -> 1,
    "q_bpe_pairs" -> 1,
    "q_unicode_norm" -> 1,
    // round-11, third batch: frame-decode video (map-stage decode +
    // output sort only), Kneser–Ney head (three vocab-scale model
    // aggregates over the materialized bigram-count parquet — the
    // four-corpus-explode shape this pin exists to keep dead; joins
    // broadcast off real file stats), vocab overlap (ONE corpus-scale
    // (source,token) distinct — its three other uses are
    // ReusedExchange, asserted below — + pair rollup + counts agg)
    // (1 → 2 in round 18, re-audited: round 17's scale-adaptive
    // fanOutForCompute adds ONE RoundRobin exchange of the projected
    // (doc_id, text) rows before the frame-decode map stage so the
    // single-split local scan doesn't serialize the codec pass onto
    // one core; it is the IDENTITY whenever the scan already carries
    // >= defaultParallelism splits — i.e. at any warehouse-scale
    // table — so the "payloads never shuffle at 100 TB" claim holds)
    "q_media_video" -> 2,
    "q_kn_bigram" -> 3,
    "q_vocab_overlap" -> 3,
    // round-11, fourth batch: shard-loss curve (4-row rollup over the
    // pair-graph parquet), int8 quantize profile (|labels|-row rollup
    // — the explode is row-local)
    "q_shard_dedup" -> 1,
    "q_embed_quantize" -> 1,
    // quality-band dup rate: CC labels broadcast against the
    // row-local quality scan → ≤ 11-row band rollup
    "q_dup_quality" -> 1,
    // conjunctive search (per-doc match aggregate + output sort; the
    // tiny match side broadcasts back to the corpus) and the gram-df
    // merge (base df agg + batch df agg + the vocab-scale full-outer
    // join's co-partition; the 1-row rollup rides the join exchange)
    "q_bool_search" -> 2,
    "q_gramdf_merge" -> 3,
    // keyness: all four exchanges are over the materialized
    // vocab×sources-scale count parquet (three totals rollups, the
    // per-source rank window's range partition, which the output sort
    // reuses) — the one corpus-scale explode lives in the priced
    // src_tok_counts build
    "q_keyness" -> 4,
    // round-12 additions: BPE encode (per-source rollup — learning is
    // one priced driver job, the encode chain is row-local) and
    // semantic dedup. Round 17 re-audit of the two
    // semantic twins: the pair-set temp-parquet round trip is GONE
    // (both orientations now come from one generator explode over a
    // single evaluation of the pair kernel), so the pair kernel's own
    // exchanges moved INSIDE the declared plan — 4 → 6 for the exact
    // twin (the all-pairs threshold kernel shuffles nothing — its
    // chunks are planner-built broadcasts — but the doc_id/nb verdict
    // joins and final aggregate now plan against the in-flight pair
    // stream: two join co-partitions, verdict aggregate partials, the
    // output sort). Per action the total exchange count is UNCHANGED
    // — the same shuffles previously ran inside the one-per-call
    // materialize job — and the pair-scale parquet write+read is
    // deleted.
    "q_bpe_encode" -> 1,
    // 6 → 2 in round 18 (re-audited): the (vec ⋈ quality) input of all
    // three semantic faces became the shared semvec_quality parquet
    // table, so the tf-idf⋈docQuality join's exchanges left the
    // declared plan — what remains is the verdict aggregate's
    // co-partition + the output sort. Same cut took the IVF twin
    // 10 → 6 (the cell-blocked join's guard exchanges stay).
    "q_dedup_semantic" -> 2,
    // round-13 additions (round-12 verdict #5): the IVF semantic twin
    // and the REWIRED incremental probe
    // (bipartite prefix join's two explicit-count repartitions, the
    // candidate distinct, one verify co-partition, the output sort;
    // both sorted-gram sides broadcast off the cached parquet stats).
    // Round 17, IVF twin re-audit (4 → 10, same reason as the exact
    // twin — the former semdup_ivf_pairs build job's exchanges now
    // show in the declared plan): the cell-blocked self-join
    // contributes its hot-cell count aggregate (2) and two
    // explicit-count block repartitions, then the verdict joins and
    // aggregate as in the exact twin; per action nothing shuffles
    // more than before and the pair-set write+read is deleted.
    "q_dedup_semantic_ivf" -> 6,
    "q_dedup_incremental" -> 5,
    // round-13 additions: the incremental semantic probe (two
    // explicit-count bipartite-guard repartitions + the per-batch-doc
    // verdict aggregate + the output sort; cell assignment is
    // row-local against the broadcast parquet-backed model) and the
    // perceptual media near-dup (signature set-collapse over the
    // cached sig parquet, the banded blocked self-join's two
    // explicit-count repartitions + candidate distinct, the
    // per-hamming rollups + twin join)
    "q_dedup_semantic_inc" -> 6,
    // (13 → 9 in the same round: the signature-group table became its
    // own cached artifact instead of a per-branch re-aggregation)
    "q_media_phash" -> 8,
    // round-14 additions: the perceptual AUDIO near-dup (identical
    // plan shape to q_media_phash — set-collapse over the cached sig
    // parquet, banded blocked self-join's two explicit-count
    // repartitions + candidate distinct, per-hamming rollups + twin
    // join), the span-level shard-loss curve (the (span, shard16)
    // distinct-doc aggregate, the dup-group rollup + its join
    // co-partitions, the per-K per-group max cascade, the 4-row
    // rollup — all over 128-bit hash keys, span
    // text never shuffles), and the sorted-neighborhood pairs (the
    // materialized snm_sorted parquet prices its own build; the
    // neighbor equi-join broadcasts off file stats, leaving the
    // output sort as the one visible exchange)
    "q_media_audio_fp" -> 8,
    "q_span_shard_loss" -> 6,
    "q_dedup_sorted" -> 1,
    // the IVF pair: the centroid-array aggregate's single-partition
    // exchange (reused by q_sim_ivf's probe side) and q_ivf_build's
    // per-cell count
    "q_ivf_build" -> 2,
    "q_sim_ivf" -> 1,
    // the RangeScan sites: the bounds aggregate, the per-bucket
    // aggregate, the prefix fold's single partition, the window's
    // bucket partitioning and the output or group-by exchange
    "q_window_ntile" -> 5,
    "q_late_data" -> 5,
    "q_pack_chunks" -> 5)

  /** The prepared plan (executedPlan with AQE off) of a declared query. */
  private def preparedPlan(name: String): SparkPlan = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    finally spark.conf.set(key, prev)
  }

  test("IVF plans rank cells in generated code: no interpreted expression") {
    // aggregate functions (the VecSum / TopK Aggregators) are exempt:
    // every ImperativeAggregate is a CodegenFallback
    for (name <- Seq("q_ivf_build", "q_sim_ivf", "q_dedup_semantic_ivf", "q_dedup_semantic_inc")) {
      val fallback = preparedPlan(name).flatMap(_.expressions.flatMap(_.collect {
        case e: CodegenFallback if !e.isInstanceOf[AggregateFunction] => e
      }))
      assert(fallback.isEmpty, s"$name evaluates ${fallback.map(_.prettyName).distinct} interpreted")
    }
  }

  test("q_vocab_overlap reads the corpus once — the distinct subtree is reused") {
    val scans = preparedPlan("q_vocab_overlap").collect { case s: FileSourceScanExec => s }.size
    assert(scans == 1, s"expected ONE documents scan (ReuseExchange), got $scans")
  }

  test("exchange-count budgets hold for the expensive queries") {
    val actual = exchangeBudget.keys.map { name =>
      name -> preparedPlan(name).collect { case e: ShuffleExchangeExec => e }.size
    }.toMap
    assert(actual == exchangeBudget,
      s"shuffle-count drift — re-audit the plan before re-pinning: $actual")
  }

  // Bounded sort: the final ORDER BY sits on an aggregate whose key has
  // a domain fixed by the data model, so `.coalesce(1).orderBy(...)`
  // sorts the ≤ |domain|-row result in one task and plans no range
  // exchange (no sampling job, no sort stage)
  private val boundedSort = Set(
    // TPC-H flags, statuses, priorities, brands, segments, regions,
    // nations, order years/quarters, price bins and octiles
    "q_case_band", "q_join_broadcast", "q_join_shuffle", "q_join_multiway",
    "q_join_theta", "q_skew_join", "q_agg_pricing", "q_distinct_count",
    "q_rollup", "q_cube", "q_grouping_sets", "q_listagg", "q_percentile",
    "q_bool_bit_agg", "q_stats_agg", "q_pivot", "q_unpivot", "q_histogram",
    "q_equidepth", "q_regex_funcs", "q_date_funcs", "q_math_funcs",
    // event types, hours × types, weeks, funnel stages
    "q_approx_distinct", "q_json_extract", "q_tumbling_window",
    "q_sliding_window", "q_late_data", "q_funnel", "q_retention", "q_anomaly",
    "q_outlier_mad", "q_welch_ttest", "q_ewma",
    // sources, languages, labels, media kinds, embedding dims, IVF cells
    "q_text_stats", "q_entropy", "q_char_entropy", "q_kl_source",
    "q_dedup_exact", "q_knn_centroid", "q_embed_stats", "q_embed_quantize",
    "q_ivf_build", "q_media_stats", "q_media_dedup", "q_html_extract",
    "q_html_links", "q_crawl_frontier", "q_url_canon", "q_dedup_url",
    "q_mixture_weights", "q_bigram_entropy", "q_compress_ratio",
    "q_readability", "q_code_detect", "q_lang_id", "q_pipeline_e2e",
    "q_sample_det", "q_pps_sample", "q_stratified_sample", "q_dedup_matrix",
    "q_mixture_sample", "q_dedup_drop", "q_pipeline_layout", "q_token_count",
    "q_dup_tokens", "q_bpe_encode", "q_tokenizer_fertility", "q_unicode_norm",
    "q_encoding_audit", "q_snapshot_diff", "q_snapshot_churn",
    "q_unigram_encode", "q_vocab_overlap", "q_phrase_search",
    "q_proximity_search",
    // splits, shard counts, length/df/quality/calibration buckets,
    // threshold bands, hamming distances, fixed k lists and slices
    "q_split_leakage", "q_split_leakage_semantic", "q_shard_dedup",
    "q_span_shard_loss", "q_length_buckets", "q_gram_df_hist",
    "q_dup_quality", "q_quality_calib", "q_dedup_sweep", "q_media_phash",
    "q_media_audio_fp", "q_vocab_coverage", "q_vocab_growth")

  // Window range-once: the final ORDER BY leads with the partition keys
  // of every window in the query, so a range exchange on those keys
  // placed before the window serves both the window's clustering and
  // the sort's ordering
  private val windowRangeOnce = Map(
    "q_window_rank" -> Seq("o_custkey"), "q_rank_dense" -> Seq("o_custkey"),
    "q_window_running" -> Seq("o_custkey"), "q_above_avg" -> Seq("o_custkey"),
    "q_window_lag" -> Seq("user_id"), "q_window_range" -> Seq("user_id"),
    "q_first_last" -> Seq("user_id"), "q_session_window" -> Seq("user_id"),
    "q_asof_join" -> Seq("user_id"), "q_scd2" -> Seq("user_id"),
    "q_keyness" -> Seq("source"), "q_anchor_text" -> Seq("target"),
    "q_domain_caps" -> Seq("domain"), "q_ks_drift" -> Seq("src_a", "src_b"),
    "q_psi_drift" -> Seq("src_a", "src_b"))

  test("a single-partition coalesce narrows a final merge, never a scan stage") {
    // CoalesceExec is narrow: everything between it and the nearest
    // shuffle below runs in its one task. Above a shuffle that is the
    // final merge of a bounded aggregate; above a file scan it would be
    // the whole scan stage (the round-17 GraphOps/TextOps lesson)
    def scanWithoutShuffle(p: SparkPlan): Boolean = p match {
      case _: ShuffleExchangeExec => false
      case ReusedExchangeExec(_, _: ShuffleExchangeExec) => false
      case _: FileSourceScanExec => true
      case other => other.children.exists(scanWithoutShuffle)
    }
    for (name <- SparkEntry.queries.keys) {
      val narrowed = preparedPlan(name).collect {
        case c: CoalesceExec if c.numPartitions == 1 && scanWithoutShuffle(c.child) => c
      }
      assert(narrowed.isEmpty, s"$name coalesces a scan stage into one task")
    }
  }

  test("bounded-domain output sorts plan no range exchange") {
    for (name <- boundedSort) {
      val ranges = preparedPlan(name).collect {
        case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e
      }
      assert(ranges.isEmpty, s"$name plans a range exchange for its output sort: $ranges")
    }
  }

  test("window-keyed output sorts reuse the window's range exchange") {
    // from the final sort down: no exchange until below the window, and
    // the first one is the range exchange on the window's partition keys
    def firstExchangeBelow(p: SparkPlan, sawWindow: Boolean): (Boolean, Option[ShuffleExchangeExec]) =
      p match {
        case e: ShuffleExchangeExec => (sawWindow, Some(e))
        case w: WindowExec => firstExchangeBelow(w.child, sawWindow = true)
        case u if u.children.size == 1 => firstExchangeBelow(u.children.head, sawWindow)
        case _ => (sawWindow, None)
      }
    for ((name, keys) <- windowRangeOnce) {
      val plan = preparedPlan(name)
      // the sort is planned away when its input is already in order
      // (q_anchor_text's sort aggregate over the range partitions)
      val sorted = plan.collectFirst { case s: SortExec if s.global => s.child }.getOrElse(plan)
      val (belowWindow, exchange) = firstExchangeBelow(sorted, sawWindow = false)
      assert(belowWindow, s"$name plans an exchange between its window and its sort")
      val ordering = exchange.map(_.outputPartitioning).collect {
        case r: RangePartitioning => r.ordering.map(_.child.references.head.name)
      }
      assert(ordering.contains(keys),
        s"$name: expected one range exchange on $keys below the window, got $exchange")
    }
  }

  test("unpartitioned windows only where semantics are inherently global") {
    // structural, not textual: a WindowExec with an empty partitionSpec
    // moves ALL rows to one task (the earlier string heuristic
    // misread order-less partitioned windows — `Window [exprs],
    // [partitionSpec]` — as global)
    for ((name, fn) <- SparkEntry.queries) {
      val hasGlobal = fn(spark, sf).queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.nonEmpty
      if (hasGlobal)
        assert(allowedGlobalWindow.contains(name), s"unreviewed global window in $name")
    }
  }
}
