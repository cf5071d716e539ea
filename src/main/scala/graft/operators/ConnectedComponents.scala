package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the clustering
  * stage after pairwise near-dup detection (SURVEY.md §2.12).
  *
  * [[alternatingStar]]: the large-star/small-star algorithm (Kiveris
  * et al., "Connected Components in MapReduce and Beyond"), a pure
  * DataFrame loop whose driver reads only per-round convergence
  * METADATA (a count/checksum row), never data. Large-star hooks every
  * node's larger neighbors onto its minimum, small-star hooks the
  * smaller ones; alternating rounds converge to a forest of stars
  * centered at each component's minimum id in O(log n) rounds
  * REGARDLESS of diameter — the 100 TB-safe shape. The loop is preceded
  * by ONE min-label seed contraction (m(u) = min(N(u) ∪ {u}), iterate
  * on (m(a), m(b))): near-clique dedup components collapse entirely in
  * the seed pass, so the loop runs 1-2 rounds on the inter-clique
  * residue instead of O(log n) rounds of ~6 shuffle stages each on the
  * full graph.
  *
  * It fails loudly (require) instead of silently returning unconverged
  * labels when the round cap is hit. Per-round lineage is truncated
  * with localCheckpoint so plan depth stays O(1); at real cluster scale
  * swap for reliable `checkpoint` on a DFS — identical shape.
  *
  * Input: a DataFrame whose first two columns are the (long) endpoint
  * ids of an undirected edge. Output: (node, label) with label = the
  * minimum node id of the component. Nodes are those appearing in ≥1
  * edge INCLUDING self-loops — a node whose only edge is (n, n) is its
  * own single-node component; callers union isolated nodes if their
  * universe is larger.
  */
object ConnectedComponents {

  /** Edge-count gate for the driver union-find fast path of
    * [[alternatingStar]]: at or below this many edges the whole
    * labeling runs as ONE bounded `limit(gate+1).collect()` plus a
    * driver union-find, instead of the multi-job star loop. Rationale
    * (round 17, guide §1/§2): the star loop is the 100 TB-safe shape,
    * but each round is ~6 shuffle stages and AQE materializes every
    * exchange as its own driver job — measured 43 jobs / ~2.1 s warm
    * for the 33-edge stitch graph and 9 jobs / ~1.0 s for the 256-edge
    * ngram graph, pure scheduling latency on metadata-scale inputs.
    * The collect is bounded DRIVER STATE by construction (≤ gate+1
    * rows × 16 bytes ≈ 1 MB — the same bounded-collect contract as the
    * vocab/model sites in Graft.scala): `limit` short-circuits, so an
    * over-gate edge set costs one truncated pass and falls back to the
    * distributed loop. Labels are identical by definition (component
    * minimum, exact integer — no float anywhere), pinned against the
    * loop path in ConnectedComponentsSpec.
    *
    * OPT-IN since round 18 (round-17 ADVICE): the probe's
    * `limit(gate+1).collect()` still evaluates the upstream plan, so
    * on an expensive UNMATERIALIZED edge subtree (a pair-generation
    * plan behind shuffles) an over-gate input pays one extra
    * near-full evaluation before the loop runs. Callers that hand a
    * materialized/stats-bearing edge table (all cached label builds
    * do) pass this constant explicitly; the default is the
    * probe-free distributed loop. */
  val LocalMaxEdges: Int = 1 << 16

  /** (node, label) via alternating large-star/small-star; O(log n)
    * rounds on any graph shape. Edge sets at or below `localMaxEdges`
    * take the bounded driver union-find fast path (see
    * [[LocalMaxEdges]]); the probe is OPT-IN (default 0 = the
    * distributed loop) because it evaluates the edge plan once —
    * pass [[LocalMaxEdges]] when the edge table is materialized. */
  def alternatingStar(edges: DataFrame, maxRounds: Int = 50,
                      localMaxEdges: Int = 0): DataFrame =
    alternatingStarWithRounds(edges, maxRounds, localMaxEdges)._1

  private[graft] def alternatingStarWithRounds(
      edges: DataFrame, maxRounds: Int,
      localMaxEdges: Int = 0): (DataFrame, Int) = {
    val cast = castLong(edges)
    localLabels(cast, localMaxEdges) match {
      case Some(labels) => return (labels, 0)
      case None         => ()
    }
    val eRaw = dropSelfLoops(cast)
    // node universe from the PRE-filter edge set: self-loop-only nodes
    // are their own components (labeled via the final left join)
    val nodes = nodeUniverse(cast)

    // SEED CONTRACTION (round-14 verdict #5): one min-label pass
    // m(u) = min(N(u) ∪ {u}) BEFORE the star loop, then iterate on
    // the contracted edge set (m(a), m(b)). Near-dup pair graphs are
    // unions of near-cliques, and a clique contracts to a single
    // label in this one pass — the star loop then runs 1-2 rounds on
    // the tiny inter-clique residue instead of O(log n) rounds on
    // the full graph (each round is ~6 shuffle stages, and the
    // many-small-jobs loop is exactly what the driver's contention
    // band amplified 10× in BENCH_r14's ngram_cc first-touch).
    // Correctness: u—m(u) is an edge-path contraction, so components
    // are preserved; the original component minimum v has m(v) = v
    // (v is below all its neighbors), so the contracted component's
    // min — which the star loop labels by — IS the original min.
    // LAZY checkpoints throughout (round-15 verdict #1): an eager
    // localCheckpoint is its own driver job, and the per-round sig()
    // aggregate was ANOTHER — so every star round cost 2+ jobs, and
    // the many-small-jobs shape is exactly what the driver's
    // contention band amplified ~9× in BENCH_r15's ngram_cc
    // first-touch (10.51 s vs 1.13-1.15 s builder-side, same HEAD).
    // With eager = false the convergence signature both MATERIALIZES
    // the checkpoint and reads the round's metadata in ONE job.
    val nbrsSeed = eRaw.union(eRaw.select(col("b").as("a"), col("a").as("b")))
    val seed = nbrsSeed.groupBy("a")
      .agg(least(col("a"), min(col("b"))).as("m"))
      .select(col("a").as("u"), col("m"))
      .localCheckpoint(eager = false)
    val e0 = eRaw
      .join(seed.select(col("u").as("a"), col("m").as("ma")), "a")
      .join(seed.select(col("u").as("b"), col("m").as("mb")), "b")
      .select(col("ma").as("a"), col("mb").as("b"))
      .filter(col("a") =!= col("b")).distinct()

    // large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val m = nbrs.groupBy("a").agg(min("b").as("mn"))
        .select(col("a").as("u"), least(col("a"), col("mn")).as("m"))
      nbrs.join(m, nbrs("a") === m("u"))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }
    // small-star(u): over smaller neighbors N(u) (edges oriented
    // high→low): m = min(N(u)); emit (v, m) for v ∈ N(u) ∪ {u} \ {m}
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      val m = or.groupBy("u").agg(min("v").as("m"))
      or.join(m, "u").select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }
    // convergence metadata: one (count, xor-checksum) row per round
    // (XOR, not SUM: order-free, merge-safe and can never overflow).
    // A false convergence needs an xxhash64 multiset collision at
    // EQUAL edge counts in consecutive rounds (~2^-64); the
    // alternative — a full except() diff per round — costs two extra
    // shuffles per round for protection against a probability far
    // below hardware error rates.
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // One job materializes seed + e0 + the initial signature together.
    var e = e0.localCheckpoint(eager = false)
    var last = sig(e)
    var converged = false
    var rounds = 0
    // TWO star rounds per driver action (round-15 verdict #1): the
    // star fixpoint is stable (large/small-star are identity on a
    // star forest), so overshooting past convergence inside a batch
    // is a no-op on a residue-scale edge set — and it halves the
    // job count of the loop. Convergence is still signature-equality
    // across one batch; maxRounds still bounds STAR rounds, not
    // batches. Each round gets its OWN lazy checkpoint: the plan is
    // truncated to a LogicalRDD immediately (localCheckpoint cuts
    // lineage at plan-construction time even with eager = false),
    // while materialization still rides the batch's single sig()
    // job. Without the mid-batch cut the outer round's plan embeds
    // the inner round's subtree ~4× (each star references its input
    // twice) — measured as a 2.5× warm regression on the
    // metadata-scale q_stitch_repair graph, where planning cost
    // dominates.
    while (!converged && rounds < maxRounds) {
      rounds += 2
      e = smallStar(largeStar(e)).localCheckpoint(eager = false)
      e = smallStar(largeStar(e)).localCheckpoint(eager = false)
      val cur = sig(e)
      converged = cur == last
      last = cur
    }
    require(converged,
      s"connected components (large/small-star) did not converge in $maxRounds rounds")
    // stars over the CONTRACTED graph: every edge is (child,
    // root=component min). Compose node → seed m (self for nodes the
    // loop-free edge set never saw) → star label (self for contracted
    // roots and fully-collapsed components, where m already IS the
    // original component minimum).
    val labels = nodes
      .join(seed.select(col("u").as("node"), col("m")), Seq("node"), "left")
      .select(col("node"), coalesce(col("m"), col("node")).as("m"))
      .join(e.select(col("a").as("m"), col("b").as("label")), Seq("m"), "left")
      .select(col("node"), coalesce(col("label"), col("m")).as("label"))
    (labels, rounds)
  }

  /** The size-gated driver fast path: ONE `limit(gate+1).collect()`
    * over the cast edge set — if every edge fits under the gate (and
    * no endpoint is NULL, whose star-loop semantics we do not
    * replicate), label components with a min-root union-find and
    * return them as a sorted local relation. Semantics match the star
    * loop exactly: nodes = all endpoints INCLUDING self-loop-only
    * ones, label = component-minimum id. Returns None (after one
    * truncated pass) when the edge set exceeds the gate. */
  private def localLabels(cast: DataFrame, gate: Int): Option[DataFrame] = {
    if (gate <= 0) return None
    val rows = cast.limit(gate + 1).collect()
    if (rows.length > gate) return None
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val parent = new java.util.HashMap[Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n: Long = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      if (a != b) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
    }
    import scala.jdk.CollectionConverters._
    val labels = parent.keySet().asScala.toSeq.sorted.map(n => (n, find(n)))
    val s = cast.sparkSession
    import s.implicits._
    Some(labels.toDF("node", "label"))
  }

  /** First two columns → (a, b) longs. */
  private def castLong(edges: DataFrame): DataFrame = {
    val Seq(ca, cb) = edges.columns.take(2).toSeq
    edges.select(col(ca).cast("long").as("a"), col(cb).cast("long").as("b"))
  }

  /** Self-loops carry no connectivity — both algorithms iterate on the
    * loop-free edge set (but the NODE universe is computed before this
    * filter). */
  private def dropSelfLoops(e: DataFrame): DataFrame =
    e.filter(col("a") =!= col("b"))

  /** Distinct endpoints of the (unfiltered) edge set. */
  private def nodeUniverse(e: DataFrame): DataFrame =
    e.select(col("a").as("node")).union(e.select(col("b").as("node"))).distinct()
}
