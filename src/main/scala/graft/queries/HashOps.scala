package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-fingerprint pipeline extensions (SURVEY.md §2.12): SimHash
  * near-dup, winnowing document fingerprints, brute-force + IVF + SRP
  * vector similarity. Hash functions are JVM-side (Murmur/xxhash64),
  * so these are not DuckDB-expressible: q_dedup_simhash /
  * q_doc_fingerprint / q_ivf_build / q_sim_ivf / q_sim_srp are
  * oracle=no (unit-tested); q_dedup_embed is pure double arithmetic
  * and keeps a full oracle.
  */
object HashOps {

  /** SimHash near-dup pairs at Hamming distance ≤ 3. Pipeline:
    * (doc, token, tf) → SimHash UDAF → 4×16-bit band buckets →
    * band-equality self-join (perfect recall at ≤3 by pigeonhole,
    * see [[graft.SimHash.NumBands]]) → exact Hamming filter. Narrow
    * rows (two longs) end-to-end; never all-pairs. */
  def q_dedup_simhash(s: SparkSession, d: String): DataFrame =
    // The query IS graft.Graft.nearDupPairsSimhash applied to the
    // documents table at Hamming ≤ 3 (pigeonhole-perfect recall for
    // the 4×16-bit banding); built-in band key / bit_count Hamming.
    graft.Graft.nearDupPairsSimhash(Tables.documents(s, d),
        col("doc_id"), col("text"), maxHamming = 3)
      .orderBy("doc_a", "doc_b")

  /** Winnowing document fingerprints (the MOSS scheme): 3-token
    * shingles → xxhash64 per shingle → keep the minimum hash of every
    * 4-shingle window → distinct fingerprint set per document. The
    * query IS [[graft.Graft.winnowingFingerprints]] applied to the
    * documents table — all higher-order functions over one row,
    * embarrassingly parallel. */
  def q_doc_fingerprint(s: SparkSession, d: String): DataFrame =
    graft.Graft.winnowingFingerprints(Tables.documents(s, d),
        col("doc_id"), col("text"), shingle = 3, window = 4)
      .orderBy("doc_id")

  /** Exact pairwise-cosine "near-dup review queue": the 20 most
    * similar embedding pairs. Brute force all-pairs — the exact
    * baseline (the corpus's vectors are i.i.d. random, so no fixed
    * threshold is non-trivial); [[q_sim_ivf]] is the sub-linear scale
    * path.
    *
    * Execution — the blocked broadcast loop, fully planner-managed (no
    * driver-side collect anywhere): the peer side is split into CHUNKS
    * disjoint blocks by id-hash; each block reaches the custom
    * [[graft.plans.DotTopKJoinExec]] operator as a planner-built
    * broadcast (`BroadcastDistribution` → BroadcastExchange under
    * Spark's managed memory accounting), and the exec's tight
    * primitive-array loop emits ≤ 20 rows per partition — the
    * quadratic pair set is never materialized as rows. The
    * `vec_b > vec_a` triangle check scores every unordered pair in
    * exactly ONE block, so the global top-20 is contained in the union
    * of per-block top-20s and a final TakeOrdered(20) finishes. The
    * block count is AUTO-SIZED from the corpus (row count × vector
    * width vs. the broadcast budget — see
    * [[graft.Graft.topkCosinePairs]]), so each broadcast stays bounded
    * at ANY corpus size with no hand-tuned constant; per-pass cost is
    * one linear scan of the stream side.
    * Dot products fold in index order — bit-compatible with the
    * oracle's unnest-ordered SUM; rounding replicates Spark's ROUND
    * (BigDecimal HALF_UP), with the exec's proven cheap-reject bound
    * skipping the exact rounding for non-candidates. */
  def q_dedup_embed(s: SparkSession, d: String): DataFrame =
    graft.Graft.topkCosinePairs(Tables.embeddings(s, d),
      col("vec_id"), col("embedding").cast("array<double>"), k = 20)

  /** Embedding-space QC profile — the sanity pass a pipeline runs on a
    * vector corpus BEFORE building ANN indexes over it: per dimension
    * (1-based, matching SQL array indexing) the population count, mean,
    * population stddev, min and max, all in DOUBLE (rule F: float
    * arrays widened before any arithmetic, ROUND(.,4) on everything
    * inexact). Catches the classic embedding-corpus defects — a dead
    * dimension (std ≈ 0), a mean far off 0 (unnormalized batch), a
    * clipped range — each visible in exactly one output column.
    *
    * Scale shape: the explode is row-local (×dim linear), and the
    * per-dim rollup is ONE map-side-combinable groupBy whose shuffle
    * carries ≤ dim rows per task regardless of corpus size — the same
    * metadata-scale-shuffle argument as q_knn_centroid. (The VecSum
    * one-pass form would avoid the explode entirely but loses min/max;
    * the explode keeps whole-stage codegen and costs one linear map.) */
  def q_embed_stats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select((col("pos") + 1).cast("int").as("dim"),
              col("v").cast("double").as("v"))
      .groupBy("dim")
      // + 0.0 after every round: a mean a hair below zero rounds to
      // IEEE −0.0, which DuckDB prints "-0" and Spark "0" — adding
      // +0.0 canonicalizes the sign in BOTH engines (rule F)
      .agg(count(lit(1)).as("n"),
           (round(avg("v"), 4) + 0.0).as("mean_v"),
           (round(stddev_pop("v"), 4) + 0.0).as("std_v"),
           (round(min("v"), 4) + 0.0).as("min_v"),
           (round(max("v"), 4) + 0.0).as("max_v"))
      .coalesce(1).orderBy("dim")

  /** Int8 quantization-planning profile (round 11) — the table read
    * before serving or shipping an embedding corpus quantized to int8
    * (the standard ANN-index and feature-store compression): per
    * label, with the FIXED symmetric scale 127 (full int8 range for
    * inputs in [−1, 1]), the element count, elements that would CLIP
    * (|x| > 1 — the scale is wrong), elements quantizing to ZERO
    * (dead weights — resolution lost), the signed sum (bias check)
    * and absolute mass, and the maximum |q| (range utilization: a
    * max far below 127 means the corpus should use a tighter
    * per-tensor scale — THE number a calibration pass reads).
    *
    * Cross-engine parity: q = sign(x) · floor(|x| · 127) — SYMMETRIC
    * magnitude quantization (review catch: a plain floor(x·127) maps
    * x ∈ (−1/127, 0) to −1, so n_zero counted only the positive half
    * of near-zero weights and sum_q carried a −0.5-per-element floor
    * bias that would read as data bias). The float→double widen is
    * exact, abs/multiply/floor/sign are each one IEEE double op
    * identical in both engines, and floor-on-magnitude (not round)
    * avoids the banker's-vs-half-up divergence (rule F: fixed
    * expression, deterministic per element; every aggregate is then
    * INTEGER, so no float summation order can differ). Scale shape:
    * row-local explode (×dim linear) → ONE map-side-combinable
    * groupBy whose shuffle carries ≤ |labels| rows per task at any
    * corpus size. */
  def q_embed_quantize(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), explode(col("embedding")).as("x"))
      .select(col("label"), col("x").cast("double").as("xd"),
              (signum(col("x").cast("double")) *
               floor(abs(col("x").cast("double")) * 127)).cast("long").as("q"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_elems"),
           // clipping is defined on the INPUT (|x| > 1), not on q:
           // sign(x)·floor(|x|·127) bounds q to [−127, 127], so BOTH
           // near-boundary regimes — (1, 128/127) and (−128/127, −1) —
           // floor to |q| = 127 (q = ±127) and are invisible to any
           // q-range test (review catch ×2: the first version tested
           // q's range, the second misstated the negative regime as
           // reaching −128, which symmetric quantization cannot emit)
           sum(when(abs(col("xd")) > 1.0d, 1L).otherwise(0L)).as("n_clip"),
           sum(when(col("q") === 0, 1L).otherwise(0L)).as("n_zero"),
           sum(col("q")).as("sum_q"),
           sum(abs(col("q"))).as("sum_abs_q"),
           max(abs(col("q"))).as("max_abs_q"))
      .coalesce(1).orderBy("label")

  /** Sign-random-projection LSH approximate NN — the LSH sibling of
    * [[q_sim_ivf]]. The query IS [[graft.Graft.srpSearch]] applied to
    * the embeddings table (probe = vec_id 0): 16 hyperplane sign bits
    * per vector (native [[graft.functions.DotProduct]] kernel),
    * candidates = signatures within Hamming distance 5 of the probe's,
    * exact cosine rerank of candidates only. At scale the signature is
    * the bucket key (group-by-signature + multi-probe of neighboring
    * buckets); the Hamming radius is the recall/cost knob — radius 5
    * of 16 bits reranks ~10% of a direction-uniform corpus. Oracle=no
    * (JVM-seeded planes); unit-tested: returned scores must equal the
    * brute-force scores exactly. */
  def q_sim_srp(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    graft.Graft.srpSearch(
        e.filter(col("vec_id") =!= 0).select(col("vec_id"), col("label"), col("v")),
        col("vec_id"), col("v"),
        e.filter(col("vec_id") === 0), col("v"),
        topk = 10, bits = 16, radius = 5)
      .select(col("vec_id"), col("label"), col("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
  }

  /** The trained k = 10 IVF centroid model of an embeddings table —
    * TRAIN ONCE, SEARCH MANY: [[q_sim_ivf]] re-runs must not pay the
    * Lloyd iterations again (in-query training dominated the
    * runtime when it ran per call). A [[graft.TempTables.shared]]
    * table keyed by the training input, so a hit never re-runs them;
    * at cluster scale this is "persist the model table once" —
    * identical shape. */
  private def ivfModel(e: DataFrame): DataFrame =
    graft.TempTables.shared("ivf_model", e)(
      graft.Graft.ivfTrain(e, col("vec_id"), col("v"), k = 10, iters = 3,
          sampleFraction = 0.5))

  /** IVF MODEL BUILD as its own benchable surface — the index-build
    * half of the IVF pair, separated from [[q_sim_ivf]] (search) the
    * way engines bench index construction separately from lookups:
    * trains the shared quantizer via [[ivfModel]]
    * (Forgy init + 3 Lloyd iterations on a deterministic 50% id-hash
    * sample) and emits the inverted file's occupancy — every vector's
    * row-local [[graft.Graft.ivfAssign]] cell, counted per cell. The
    * registry orders this query before q_sim_ivf, so the bench line
    * reports build and search costs separately (the ngram pair-graph
    * precedent: shared artifact, first toucher pays). Oracle=no
    * (JVM-hash cell ids); unit-tested: full occupancy, determinism. */
  def q_ivf_build(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    graft.Graft.ivfAssign(ivfModel(e), e, col("v"), "cell")
      .groupBy("cell").agg(count(lit(1)).as("n_members"))
      .coalesce(1).orderBy("cell")
  }

  /** IVF-style approximate nearest neighbor with a TRAINED coarse
    * quantizer — the query IS the two-step facade
    * [[graft.Graft.ivfTrain]] → [[graft.Graft.ivfSearch]]: training
    * (Forgy init on an opaque id hash + 3 Lloyd iterations, on a
    * DETERMINISTIC 50% id-hash sample — the at-scale posture) runs
    * ONCE per training input via [[ivfModel]]; the search assigns
    * vectors to cells in one map-side-combinable pass, ranks cells by
    * probe·centroid and scans the best nprobe=3 exhaustively — cost
    * ~nprobe/k of brute force. Oracle=no (recall on i.i.d. vectors is
    * data-dependent); the unit test asserts returned-score exactness
    * AND a recall floor vs the brute-force top-10 — with the sampled
    * training run. */
  def q_sim_ivf(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    graft.Graft.ivfSearch(ivfModel(e),
        e.filter(col("vec_id") =!= 0).select(col("vec_id"), col("label"), col("v")),
        col("vec_id"), col("v"),
        e.filter(col("vec_id") === 0), col("v"),
        nprobe = 3, topk = 10)
      .select(col("vec_id"), col("label"), col("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
  }

  /** Top principal component of the embedding corpus (added round 8):
    * 8 matrix-free power iterations — per dimension its unit-norm
    * loading, the Rayleigh eigenvalue, and variance-explained
    * permille. The query IS [[graft.Graft.topPrincipalComponent]], so
    * every iteration is the one-pass dot + VecSum partial aggregate
    * the facade documents (never a dim×dim covariance materialization,
    * never a per-row explode). Oracle=no (iterative float linear
    * algebra is not SQL-expressible cross-engine at hash precision);
    * GraftSpec pins the eigenpair residual ‖Cv − λv‖ against a
    * brute-force covariance on deterministic data, partitioning
    * invariance, and the unit-norm/sign contract. Loadings rounded
    * (rule F) for display; the rows-only driver check sees a fixed
    * 64-row frame. */
  def q_pca_power(s: SparkSession, d: String): DataFrame =
    graft.Graft.topPrincipalComponent(
        Tables.embeddings(s, d), col("embedding"), iters = 8)
      .select(col("pos"), round(col("loading"), 6).as("loading"),
              round(col("eigenvalue"), 6).as("eigenvalue"), col("var_permille"))
      .orderBy("pos")
}
