package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the part co-purchase graph, SURVEY.md §2.14.
  *
  * The graph: parts are nodes; two parts share an undirected edge when
  * they appear together in at least MIN_COPURCHASE (= 2) distinct
  * orders — the "significant co-purchase" market-basket graph. The
  * ≥ 2 threshold is the scale governor: single co-occurrences grow
  * linearly with the fact table, but REPEATED pairs are
  * birthday-bounded (measured: 2.3k edges at sf0.001, 3.4k at sf0.01,
  * 3.6k at sf0.1 — the graph stays metadata-scale while lineitem grows
  * 100×). Edge generation itself is bounded per order by the order's
  * item count (≤ 17 on this data; a pathological basket at 100 TB
  * would get a per-order item cap before the pair explode).
  */
object GraphOps {

  private val MIN_COPURCHASE = 2

  /** The canonical (a < b) significant-co-purchase edge list.
    * TWO shuffles, not three: per-order part SETS via one
    * map-side-combined collect_set (bounded by the order's item
    * count), pairs exploded map-side from each set, then the pair
    * count aggregate. The distinct + self-join form spends a third
    * exchange carrying the 4× pair fan-out through a join — measured
    * 2× slower at sf0.1 for the same 3,573 edges.
    *
    * Built ONCE per input and materialized AS A PARQUET TABLE via
    * [[graft.TempTables.shared]] — five §2.14 queries consume the same edge list
    * and the build subtree (~1.9 s at sf0.1) dominated each of them.
    * A table, not localCheckpoint/persist: the consumers' degree-join
    * broadcast decisions need relation STATS — see TempTables'
    * scaladoc for the measured evidence. At cluster scale this is
    * exactly "materialize the edge table once, read it five times". */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    graft.TempTables.shared("copurchase_edges",
      Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy("ok").agg(collect_set(col("pk")).as("ps"))
        .select(explode(col("ps")).as("a"), col("ps"))
        .select(col("a"), explode(col("ps")).as("b"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= MIN_COPURCHASE)
        .select("a", "b")
        // repartition, NOT coalesce (round 17): coalesce(1) narrowed
        // the final pair-count aggregate to ONE task over the ~2M
        // pre-filter pair rows; repartition keeps the aggregate
        // parallel and pays one 3.6k-row exchange for the single-file
        // write (measured 1.42 → 1.13 s at sf0.1/local[32])
        .repartition(1))()

  /** Exact triangle census of the co-purchase graph (added round 8):
    * ONE row — nodes, edges, wedges, triangles, global clustering
    * coefficient. This query IS [[graft.Graft.triangleStats]] applied
    * to the co-purchase edges, so the oracle verifies the public API:
    * degree-ordered orientation bounds wedge work at O(m√m) with the
    * hot-hub blockedSelfPairs guard, closure is one equi-join against
    * the canonical edge list. Clustering rounded per rule F (one
    * integer division — deterministic, rounding is just the
    * convention). */
  def q_triangle_count(s: SparkSession, d: String): DataFrame =
    graft.Graft.triangleStats(coPurchaseEdges(s, d))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
              round(col("clustering"), 6).as("clustering"))
      .orderBy("n_nodes")

  /** PageRank over the co-purchase graph (added round 8): 10 damped
    * power iterations from the uniform start, per-part rank — the
    * iterative join-agg workload class (the "is your engine just a
    * one-pass SQL runner?" test). This query IS
    * [[graft.Graft.pageRank]] applied to the co-purchase edges, so
    * the oracle verifies the public API against DuckDB's 10 unrolled
    * CTE iterations. Ranks rounded at 7dp: each iteration's
    * float-sum order differs across engines only below ~1e-13, and
    * rank gaps at this graph size sit at ~1e-4 — measured safe by the
    * sf0.01/sf0.1 hash gate. The SQL twin writes `(1 - 0.85)` rather
    * than `0.15` so both engines feed bit-identical teleport
    * constants into the iteration.
    *
    * Local bench cost is STAGE-LATENCY-bound, not data-bound: 10
    * iterations = 10 join+agg shuffle stages over a ~6k-node graph,
    * each stage paying fixed scheduling latency (the q_bigram_ppl
    * class of documented floors). At cluster scale the identical plan
    * amortizes those stages over real data; the per-iteration work
    * itself is one |E|-bounded equi-join + map-side-combined sum. */
  def q_pagerank(s: SparkSession, d: String): DataFrame =
    graft.Graft.pageRank(coPurchaseEdges(s, d), iters = 10, damping = 0.85)
      .select(col("node").as("part"), round(col("rank"), 7).as("rank"))
      .orderBy("part")

  /** Degree distribution of the co-purchase graph (added round 8):
    * per degree, how many nodes have it — the graph-health profile
    * (power-law tail check; the input a planner needs before picking
    * a triangle/join strategy). Both endpoints explode from ONE pass
    * over the edge list (an `array(a, b)` Generate — no self-union
    * that would build the edge DAG twice), then two cascaded
    * partial+final counts: the first keyed by node (vocabulary-scale
    * exchange), the second O(max-degree) rows that collapse
    * map-side. */
  def q_degree_dist(s: SparkSession, d: String): DataFrame =
    coPurchaseEdges(s, d)
      .select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")

  /** Association rules over the order baskets (added round 8):
    * support / confidence / lift for every part pair co-purchased in
    * ≥ 2 distinct orders — the Agrawal–Srikant market-basket canon on
    * the same birthday-bounded pair universe the graph queries mine.
    * This query IS [[graft.Graft.basketRules]] applied to lineitem,
    * so the oracle verifies the public API. All three measures are
    * EXACT integer permille (floor `div` ≡ DuckDB `//` on the
    * non-negative counts) — no float anywhere in the query. */
  def q_basket_rules(s: SparkSession, d: String): DataFrame =
    graft.Graft.basketRules(Tables.lineitem(s, d),
        basket = col("l_orderkey"), item = col("l_partkey"), minBoth = 2L)
      .orderBy("item_a", "item_b")

  /** 2-core of the co-purchase graph (added round 9): iteratively
    * peel degree-<2 nodes until fixpoint — pendant trees fall away
    * and only the cyclic backbone remains, per surviving part its
    * in-core degree. This query IS [[graft.Graft.kcore]] on the
    * co-purchase edges, so the oracle verifies the public API
    * against 10 unrolled peel rounds in SQL (the facade requires
    * convergence within the same 10 — loud failure, never a
    * silently-unconverged core; extra oracle rounds past the
    * fixpoint are no-ops, so equality is exact). Measured peeling
    * depth: 1 round at sf0.001 (dense, min degree 5), 4 at sf0.01,
    * 6 at sf0.1 (sparse — the core collapses to one triangle,
    * which k=2 provably keeps non-empty wherever a cycle exists). */
  def q_kcore(s: SparkSession, d: String): DataFrame =
    graft.Graft.kcore(coPurchaseEdges(s, d), k = 2, maxRounds = 10)
      .select(col("node").as("part"), col("core_deg"))
      .orderBy("part")

  /** Community detection by synchronous label propagation (round
    * 14): per community after EXACTLY 5 rounds, its label (the id
    * every member adopted) and member count — the market-basket
    * community table (which parts cluster into co-purchase groups),
    * completing §2.14's census/rank/distance/density family with the
    * partitioning face. This query IS
    * [[graft.Graft.labelPropagation]] on the shared edge table, so
    * the oracle verifies the public API against 5 UNROLLED CTE
    * layers, each the exact SQL twin of one Spark round (the
    * q_pagerank/q_kcore unrolling stance — argmax stated as
    * count DESC, label ASC in both engines). */
  def q_communities(s: SparkSession, d: String): DataFrame =
    graft.Graft.labelPropagation(coPurchaseEdges(s, d), rounds = 5)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("community")

  /** Single-source shortest paths (added round 9): hop distance from
    * the smallest part in the co-purchase graph to every part
    * reachable from it — the BFS/radius primitive (components answer
    * "same cluster?", this answers "how far?"). This query IS
    * [[graft.Graft.shortestPaths]] on the shared edge table, so the
    * oracle verifies the public API against a bounded MONOTONE
    * recursive CTE (BFS only ever ADDS (node, dist) facts, so —
    * unlike q_kcore's peeling — a recursive UNION expresses it
    * directly; the dist < 20 bound guarantees CTE termination on
    * cycles and the facade requires exhaustion within the same 20
    * loudly, so truncation can never silently diverge; MIN(dist) per
    * node collapses the walk to BFS distances). */
  def q_shortest_path(s: SparkSession, d: String): DataFrame = {
    val e = coPurchaseEdges(s, d)
    val srcRow = e.agg(min("a")).head
    require(!srcRow.isNullAt(0),
      "co-purchase graph is empty (no part pair co-occurs in >= 2 orders) — " +
        "q_shortest_path has no source to walk from")
    val src = srcRow.getLong(0)
    graft.Graft.shortestPaths(e, src, maxDepth = 20)
      .select(col("node").as("part"), col("dist"))
      .orderBy("part")
  }
}
