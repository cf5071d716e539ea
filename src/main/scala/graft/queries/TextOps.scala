package graft.queries

import graft.{MinHash, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text / LLM-data-pipeline operators, SURVEY.md §2.9.
  *
  * All token work uses `split(text, ' ')` — the corpus is strictly
  * single-space separated (FIXTURES.md), which keeps Spark's regex
  * split and DuckDB's literal string_split equivalent (rule S).
  */
object TextOps {

  /** The canonical MapReduce program: per word, total occurrences and
    * number of containing docs. explode+groupBy = map+shuffle+reduce
    * with partial aggregation as the combiner. */
  def q_wordcount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("n_docs"))
      .orderBy(col("n").desc, col("word").asc)

  /** Per-language corpus statistics. */
  def q_text_stats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           round(avg("n_chars"), 2).as("avg_chars"),
           countDistinct("source").as("n_sources"),
           sum(size(split(col("text"), " "))).as("total_tokens"))
      .coalesce(1).orderBy("lang")

  /** TF-IDF: top-5 terms per language by summed tf·idf.
    * idf = ln(N/df) is constant per term, so the per-(lang,term) score
    * is exactly (Σ tf) · idf — an integer times one double — which
    * sidesteps float-summation order entirely (rule F). Ranking is on
    * the ROUNDED score with a term tiebreak so both engines rank
    * identically. */
  def q_tfidf(s: SparkSession, d: String): DataFrame =
    // The query IS graft.Graft.tfidfTopTerms applied to the documents
    // table, grouped by language: one tokenize feeds TF and DF
    // (partial agg shrinks it map-side), DF + doc count broadcast,
    // score = (Σ tf)·idf — an integer times one double, so float
    // summation order never matters; ranking on the ROUNDED score
    // with a term tiebreak keeps both engines' rankings identical.
    graft.Graft.tfidfTopTerms(Tables.documents(s, d),
        col("doc_id"), col("lang"), col("text"), k = 5)
      .withColumnRenamed("grp", "lang")
      .orderBy("lang", "rn")

  /** Exact dedup by content fingerprint (sorted-token-multiset join):
    * keeper = min(doc_id) per (lang, fingerprint); per-lang survivor
    * count + keeper-id checksum. Pure hash groupBy — scale-safe. */
  def q_dedup_exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
              array_join(array_sort(split(col("text"), " ")), " ").as("fp"))
      .groupBy("lang", "fp")
      .agg(min("doc_id").as("keeper"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_unique"), sum("keeper").as("sum_keeper_ids"))
      .coalesce(1).orderBy("lang")

  /** Near-duplicate candidate pairs via MinHash + LSH banding.
    * Pipeline: tokens → per-doc 64-perm MinHash signature (the
    * [[graft.MinHash]] Aggregator — partials merge element-wise, so
    * this is one shuffle) → 16 band keys per doc → self-join ON band
    * key only (never all-pairs) → distinct pairs → estimated Jaccard =
    * matching signature fraction, kept at ≥ 0.9.
    *
    * Scale posture: the only joins are band-bucket equi-joins; bucket
    * sizes stay small because a band key is 4 chained hashes. At 100 TB
    * you'd additionally salt giant buckets; the shape stays the same.
    * No oracle (not SQL-expressible) — property-tested vs exact
    * Jaccard in MinHashSpec. */
  def q_dedup_minhash(s: SparkSession, d: String): DataFrame =
    // The query IS graft.Graft.nearDupPairsMinhash applied to the
    // documents table at est ≥ 0.9 — set-collapse before anything
    // quadratic (keyed by the 128-bit hash pair of the canonical
    // sorted-token string, hashed row-locally so the text never
    // shuffles), one signature per distinct set via the native
    // codegen'd graft_minhash_sig row-local expression (bit-identical
    // to the streaming Aggregator — equivalence pinned in
    // MinHashSpec), hashed band-bucket candidate join (never
    // all-pairs), signatures re-attached to survivors only, set-level
    // pairs expanded back to doc level. Property-tested vs exact
    // Jaccard in MinHashSpec; generality tested in GraftSpec. The
    // set-collapse groups table is shared per input inside the facade.
    graft.Graft.nearDupPairsMinhash(Tables.documents(s, d),
        col("doc_id"), col("text"), estPermille = 900)
      .orderBy("doc_a", "doc_b")

  /** Vector similarity top-k: cosine of every embedding vs the probe
    * (vec_id=0). Embeddings are unit-normalized (FIXTURES.md) so cosine
    * ≡ dot product. The probe is a 1-row broadcast — the scan stays a
    * single linear pass, the scale-correct brute-force baseline.
    * Both operands are cast float→double BEFORE multiplying so the
    * arithmetic is widen-then-multiply on both engines (rule F); the
    * dot product itself is the native codegen'd
    * [[graft.functions.DotProduct]] expression (identical fold order
    * to the higher-order `aggregate(zip_with(...))` form it replaced). */
  def q_sim_search(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("probe"))
    val dot = graft.functions.GraftFunctions.dot(
      col("embedding").cast("array<double>"), col("probe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"), round(dot, 3).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Batch EXACT kNN join: for each of the 5 probe vectors (vec_id <
    * 5), its 5 nearest corpus vectors by dot product (embeddings are
    * unit-normalized, so dot ≡ cosine). This query IS
    * [[graft.Graft.knnJoinExact]] applied to the embeddings table, so
    * the oracle verifies the public API — and the brute-force ground
    * truth the approximate srpSearchAll/ivfSearchAll facades measure
    * recall against (GraftSpec). The per-probe cut is the bounded
    * [[graft.TopK]] partial aggregate: ≤ k rows per probe leave each
    * map task, never the |corpus|·|probes| score matrix. */
  def q_knn_join(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    graft.Graft.knnJoinExact(
        emb.filter(col("vec_id") >= 5), col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 5), col("vec_id"), col("embedding"),
        topk = 5)
      .select(col("probe_id"), col("id").as("vec_id"),
              round(col("score"), 3).as("score"), col("rk"))
      .orderBy("probe_id", "rk")
  }

  /** kNN majority-vote classification (added round 8): each probe
    * vector (vec_id < 20) labeled by the majority label of its 5
    * nearest corpus vectors (ties → smallest label) — the standard
    * label-propagation / weak-annotation pattern over an embedding
    * column. Built on the same bounded-[[graft.TopK]]
    * [[graft.Graft.knnJoinExact]] as q_knn_join; the vote argmax is a
    * map-side-combinable min(struct(-votes, label)) aggregate, not a
    * window — per probe only |labels| candidate rows exist, and ≤ 1
    * leaves each map task. All-integer output (rule F never fires). */
  def q_knn_classify(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 20)
    val corpus = emb.filter(col("vec_id") >= 20)
    val pred = graft.Graft.knnJoinExact(
        corpus, col("vec_id"), col("embedding"),
        probes, col("vec_id"), col("embedding"), topk = 5)
      .join(corpus.select(col("vec_id").as("id"), col("label")), "id")
      .groupBy("probe_id", "label").agg(count(lit(1)).as("votes"))
      .groupBy("probe_id")
      .agg(min(struct((-col("votes")).as("nv"), col("label").as("lb"))).as("m"))
      .select(col("probe_id"), col("m.lb").as("pred_label"),
              (-col("m.nv")).as("votes"))
    pred.join(probes.select(col("vec_id").as("probe_id"),
                            col("label").as("true_label")), "probe_id")
      .select(col("probe_id"), col("true_label"), col("pred_label"),
              col("votes").as("votes"),
              (col("pred_label") === col("true_label")).cast("int").as("correct"))
      .orderBy("probe_id")
  }

  /** Sparse-text cosine similarity (added round 8): top-20 document
    * pairs by tf-idf cosine — the SPARSE sibling of q_dedup_embed's
    * dense-embedding pairs, composing [[graft.Graft.tfidfVectors]]
    * (one df aggregate + O(vocab) driver state + row-local
    * featurization) into the same custom DotTopKJoinExec kernel
    * (bounded per-partition heaps, ≤ k rows out per partition). The
    * oracle recomputes tf-idf from scratch in SQL — featurization AND
    * ranking verify cross-engine. At an unbounded vocabulary the
    * selection featurizer swaps for a hashed dim; at an unbounded
    * corpus the all-pairs kernel swaps for the prefix-filtered
    * candidate path (q_jaccard_prefix's AllPairs machinery, weighted).
    * Rounded-3 ranking with id tie-breaks (the q_dedup_embed
    * contract) keeps the cut cross-engine stable. */
  def q_sim_sparse(s: SparkSession, d: String): DataFrame =
    graft.Graft.topkCosinePairs(tfidfTable(s, d),
      col("doc_id"), col("vec"), k = 20)

  /** The unit-normalized 64-dim tf-idf vector table (doc_id, vec),
    * computed ONCE per input corpus and shared by [[q_sim_sparse]]
    * (top-k cosine pairs) and [[PipelineOps.q_dedup_semantic]]
    * (threshold pairs + drop verdicts) — temp parquet
    * ([[graft.TempTables]]): DotTopKJoinExec evaluates its input once
    * per broadcast chunk AND once per probe side, so an unmaterialized
    * tf-idf subtree (tokenize → df-aggregate → featurize) re-ran
    * ~2·ceil(n/chunk) times; the parquet table reads back in
    * milliseconds and keeps stats for the kernel's size planning. The
    * warehouse shape at 100 TB: featurize once, write next to the
    * corpus, hand to every vector consumer. Keyed by the documents
    * read: tfidfVectors collects its vocabulary eagerly, so the build
    * runs only on a miss. */
  private[queries] def tfidfTable(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.TempTables.shared("tfidf_sparse64", docs)(
      graft.Graft.tfidfVectors(docs, col("doc_id"), col("text"), vocabLimit = 64)
        // ONE output file (round-13 verdict #5): the table is ~1.25 MB
        // at sf0.1 and the 32-file default write paid more in task
        // setup + commit protocol than in bytes (the #2 driver
        // first-touch row, 5.68 s). repartition, NOT coalesce (round
        // 17): coalesce(1) narrows the whole post-scan stage to one
        // task, so the interpreted per-doc featurize ran single-
        // threaded — measured 1.17 s vs 0.58 s with a parallel
        // featurize + one tiny (5k rows × 64 doubles) exchange before
        // the single-file write. At a scale where the vector table is
        // genuinely big, size the file count by output bytes instead
        // (this constant is the local-mode shim, same stance as
        // TempTables.PrefetchBoundBytes).
        .repartition(1))
  }

  /** Shannon token entropy per source (added round 8): the
    * corpus-diversity metric — a source whose entropy collapses
    * relative to its volume is templated/boilerplate text. This query
    * IS [[graft.Graft.groupEntropy]] over the exploded token stream,
    * so the oracle verifies the public API. Two cascaded hash
    * aggregates (per-(source, token) counts, then the per-source
    * ln-identity rollup) — no window, no collect; entropy rounded per
    * rule F (the Σ c·ln c float sum is summation-order-dependent only
    * below 1e-10 here). */
  def q_entropy(s: SparkSession, d: String): DataFrame =
    graft.Graft.groupEntropy(
        Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("tok")),
        Seq("source"), col("tok"))
      .select(col("source"), col("n_items").as("n_tokens"), col("n_distinct"),
              round(col("entropy"), 6).as("entropy"))
      .coalesce(1).orderBy("source")

  /** Character-level Shannon entropy per source (round 16) — the
    * CODEC-layer diversity signal next to [[q_entropy]]'s token-level
    * one: token entropy collapses when the VOCABULARY is templated,
    * character entropy collapses when the BYTE STREAM is (mojibake,
    * base64 blobs, single-char padding, wrong-encoding runs), so a
    * crawl dashboard monitors both — character-distribution shift is
    * the cheapest encoding-regression alarm there is. Same
    * [[graft.Graft.groupEntropy]] ln-identity form over the per-source
    * character histogram (spaces included — separator density IS part
    * of the stream's profile), rounded per rule F. Spark's regex
    * split('') emits one trailing empty string (Java split limit -1);
    * it is filtered explicitly so both engines see the same multiset.
    *
    * Scale shape: the char explode is linear and row-local; both
    * aggregates are map-side-combinable and the (source, char) grid
    * is ≤ sources × |alphabet| rows — metadata-scale at any corpus
    * size. */
  def q_char_entropy(s: SparkSession, d: String): DataFrame =
    graft.Graft.groupEntropy(
        Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), "")).as("ch"))
          .filter(col("ch") =!= ""),
        Seq("source"), col("ch"))
      .select(col("source"), col("n_items").as("n_chars_total"),
              col("n_distinct").as("n_distinct_chars"),
              round(col("entropy"), 6).as("entropy"))
      .coalesce(1).orderBy("source")

  /** Zipf's-law fit of the token frequency distribution (added
    * round 8): one row — type/token counts plus the slope and r² of
    * ln(count) vs ln(rank) — the corpus-health metric (natural text
    * fits slope ≈ −1; templated text does not). This query IS
    * [[graft.Graft.zipfFit]] over the token stream, so the oracle
    * verifies the public API: ranks via the two-pass distributed
    * [[graft.Graft.globalRankDesc]] (the vocabulary is NOT
    * driver-scale at 100 TB — no single-partition window), fit via
    * one regr_slope/regr_r2 aggregate (both engines' covar/var
    * closed form), rounded per rule F. */
  def q_zipf_slope(s: SparkSession, d: String): DataFrame =
    graft.Graft.zipfFit(
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok")),
        col("tok"))
      .select(col("n_types"), col("n_tokens"),
              round(col("slope"), 4).as("slope"), round(col("r2"), 4).as("r2"))
      .orderBy("n_types")

  /** PMI collocations (added round 8): the corpus's top-50 adjacent
    * token pairs by pointwise mutual information, pairs seen ≥ 5
    * times — the classic compound/keyphrase detector. This query IS
    * [[graft.Graft.collocations]] on the documents table, so the
    * oracle verifies the public API. The rank key is the exact
    * rational c12/(ca·cb) (one IEEE division — PMI is monotone in
    * it), not the rounded log, so the k-cut cannot flap at rounding
    * boundaries; the reported pmi is ln((c12·M²)/(N·ca·cb)) rounded
    * per rule F. One codegen'd bigram explode + two narrow counts;
    * M and N broadcast scalars; TakeOrderedAndProject cut. */
  def q_collocations(s: SparkSession, d: String): DataFrame =
    graft.Graft.collocations(Tables.documents(s, d), col("text"),
                             minCount = 5L, k = 50)

  /** Pairwise KL divergence between source token distributions
    * (added round 9): for every ordered source pair, KL(a‖b) over
    * add-one-smoothed unigram distributions — the slice-drift metric
    * (which sources' language differs, and asymmetrically from
    * whom). This query IS [[graft.Graft.klDivergences]] over the
    * exploded token stream, so the oracle verifies the public API:
    * one vocabulary-scale count shuffle, then everything lives on
    * the |V|·|sources| smoothed grid and its metadata-scale pair
    * join. kl rounded per rule F (the Σ p·ln(p/q) float sum is
    * order-dependent only at ~1e-15 relative). */
  def q_kl_source(s: SparkSession, d: String): DataFrame =
    graft.Graft.klDivergences(
        Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("tok")),
        group = col("source"), item = col("tok"))
      .select(col("group_a").as("src_a"), col("group_b").as("src_b"),
              round(col("kl"), 6).as("kl"))
      .coalesce(1).orderBy("src_a", "src_b")

  /** BM25 retrieval ranking (added round 9): top-20 documents for the
    * fixed query (hash, scan, dup) — two common terms and one rare
    * high-idf term, so the ranking genuinely mixes tf saturation and
    * idf weighting. This query IS [[graft.Graft.bm25]] at the
    * canonical (k1 = 1.2, b = 0.75), so the oracle verifies the
    * public API. Every score input is an exact integer and the score
    * is one fixed expression tree (terms added in declared order, no
    * float aggregate) — bit-identical across engines BEFORE the
    * display rounding; the cut orders by the rounded score with
    * doc_id tiebreak, and plans as TakeOrderedAndProject. */
  def q_bm25(s: SparkSession, d: String): DataFrame =
    graft.Graft.bm25(Tables.documents(s, d), col("doc_id"), col("text"),
        terms = Seq("hash", "scan", "dup"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)

  /** Per-source keyness table (round 11) — corpus-comparison term
    * distinctiveness, the "what characterizes each source" report a
    * mixture designer reads next to q_kl_source's divergence scalar
    * (KL says HOW different a source is; keyness says WHICH terms
    * make it different): per source the top-3 terms by the ratio of
    * in-source token share to whole-corpus token share, in exact
    * integer fixed point — share_micro = tf·10⁶ div total on each
    * side, keyness_permille = src_share_micro·1000 div
    * corp_share_micro (1000 = corpus-typical, higher =
    * overrepresented). Bounds, stated honestly (review catch): the
    * micro shares are ≤ 10⁶ so the final ×1000 step never overflows,
    * and the intermediate tf·10⁶ / ctf·10⁶ products hold until a
    * SINGLE token's count exceeds ~9.2×10¹² (tens of PB of one stop
    * word) — far beyond the 100 TB design point but not "any corpus
    * size"; past it Spark (ANSI off) wraps while DuckDB errors, so a
    * deployment at that scale must pre-scale the counts. A direct
    * tf·T·1000 product would hit the same wall at ~100 TB itself,
    * which is why the nested-div form is the contract (rule F/I;
    * the evaluation order is part of it). Corpus-share zero
    * floor is filtered identically in both engines. Ties break on
    * token text (rule O).
    *
    * Scale shape: one scan → (source, token) count — the only
    * corpus-scale shuffle; per-source totals, per-token corpus
    * totals and the 1-row grand total are rollups OF that vocab-scale
    * table; the rank-3 window partitions by source over vocab-scale
    * rows only. */
  def q_keyness(s: SparkSession, d: String): DataFrame = {
    // the (source, token) count table feeds FOUR branches (per-source
    // totals, per-token totals, the grand total, the scored join) —
    // shared per input so the corpus pays one
    // explode, not four (the q_kn_bigram bigram_counts lesson; the
    // table is vocab×sources-scale, i.e. tiny parquet with real stats)
    val st = graft.TempTables.shared("src_tok_counts",
      Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("tf")))()
    val srcTot = st.groupBy("source").agg(sum("tf").as("src_tot"))
    val corpTok = st.groupBy("token").agg(sum("tf").as("ctf"))
    val grand = st.agg(sum("tf").as("grand"))
    val scored = st.join(srcTot, "source").join(corpTok, "token")
      .crossJoin(broadcast(grand))
      .select(col("source"), col("token"), col("tf"),
              expr("tf * 1000000L div src_tot").as("src_share_micro"),
              expr("ctf * 1000000L div grand").as("corp_share_micro"))
      .filter(col("corp_share_micro") > 0)
      .select(col("source"), col("token"), col("tf"),
              expr("src_share_micro * 1000L div corp_share_micro")
                .as("keyness_permille"))
    import org.apache.spark.sql.expressions.Window
    scored
      .repartitionByRange(col("source"))
      .withColumn("rank", row_number().over(Window.partitionBy("source")
        .orderBy(col("keyness_permille").desc, col("token"))))
      .filter(col("rank") <= 3)
      .select(col("source"), col("rank").cast("long").as("rank"),
              col("token"), col("tf"), col("keyness_permille"))
      .orderBy("source", "rank")
  }

  /** Per-class centroid: posexplode to (label, dim, value), average per
    * cell, then fold dims back to the centroid's L2 norm. Two shuffles,
    * both on small keys — shuffle-bounded at any scale. */
  def q_knn_centroid(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"), col("col").cast("double").as("v"))
      .groupBy("label", "pos")
      .agg(avg("v").as("ctr"), count(lit(1)).as("n"))
      .groupBy("label")
      .agg(max("n").as("n_vecs"),
           round(sqrt(sum(col("ctr") * col("ctr"))), 3).as("centroid_norm"))
      .coalesce(1).orderBy("label")

  /** Hybrid retrieval by reciprocal-rank fusion (round 14) — the
    * standard way production search fuses a lexical ranker with a
    * dense one (RRF, Cormack et al.: score = Σ 1/(k + rank), k = 60):
    * the BM25 list for the fixed terms ([[q_bm25]]'s scorer) and the
    * cosine list against probe vec 0 ([[q_sim_search]]'s scorer,
    * doc_id ≡ vec_id in this corpus [DATA]) are each cut to their
    * top-100, ranked, and fused by integer reciprocal rank
    * (rrf_micro = Σ 10⁶ div (60 + rank)); docs outside a list get no
    * contribution from it (full outer join — the standard RRF-over-
    * retrieval-lists contract). Top 20 by (rrf_micro DESC, doc_id).
    *
    * Scale shape: each ranker ends in a global top-100 — Spark plans
    * TakeOrderedAndProject (bounded per-partition heaps + one
    * metadata-scale merge, never a full sort shuffle); ranks come from
    * windows over the two 100-row lists (metadata scale). Rank order
    * is (ROUNDED score DESC, doc_id) — 6dp lexical (q_bm25's proven
    * cross-engine stability), 3dp dense (q_sim_search's) — so the cut
    * and the ranks cannot flap between engines (rules F/O); the fused
    * score is pure integer arithmetic. */
  def q_hybrid_rrf(s: SparkSession, d: String): DataFrame = {
    val lexTop = graft.Graft.bm25(Tables.documents(s, d), col("doc_id"),
        col("text"), terms = Seq("hash", "scan", "dup"))
      .select(col("doc_id"), round(col("score"), 6).as("ls"))
      .orderBy(col("ls").desc, col("doc_id")).limit(100)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("ls").desc, col("doc_id"))))
      .select("doc_id", "lex_rank")
    val emb = Tables.embeddings(s, d)
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("probe"))
    val dot = graft.functions.GraftFunctions.dot(
      col("embedding").cast("array<double>"), col("probe"))
    val denseTop = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"), round(dot, 3).as("ds"))
      .orderBy(col("ds").desc, col("doc_id")).limit(100)
      .withColumn("dense_rank",
        row_number().over(Window.orderBy(col("ds").desc, col("doc_id"))))
      .select("doc_id", "dense_rank")
    lexTop.join(denseTop, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
              (coalesce(expr("1000000L div (60 + lex_rank)"), lit(0L)) +
               coalesce(expr("1000000L div (60 + dense_rank)"), lit(0L)))
                .as("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(20)
  }
}
