package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the clustering
  * stage after pairwise near-dup detection (SURVEY.md §2.12).
  *
  * [[alternatingStar]]: the large-star/small-star algorithm (Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SoCC 2014)
  * as a pure DataFrame loop. Large-star hooks every node's larger
  * neighbors onto its minimum, small-star hooks the smaller ones;
  * alternating rounds reach a forest of stars centered at each
  * component's minimum id in O(log n) rounds regardless of diameter.
  * The loop runs on [[Fixpoint.converge]], so the driver reads only
  * per-round signatures, never data, and the round cap fails loudly.
  *
  * The loop is preceded by one min-label seed contraction
  * (m(u) = min(N(u) ∪ {u}), then iterate on (m(a), m(b))). It
  * preserves components (u—m(u) is an edge), and a component's
  * minimum v has m(v) = v, so the contracted component's minimum is
  * the original one. A near-clique contracts to one label in this
  * pass, so on near-dup pair graphs the star loop only sees the
  * inter-clique residue.
  *
  * Input: a DataFrame whose first two columns are the (long) endpoint
  * ids of an undirected edge. Output: (node, label) with label = the
  * minimum node id of the component. Nodes are those appearing in ≥1
  * edge INCLUDING self-loops — a node whose only edge is (n, n) is its
  * own single-node component; callers union isolated nodes if their
  * universe is larger.
  */
object ConnectedComponents {

  /** Edge-count gate for the driver union-find path of
    * [[alternatingStar]]: at or below this many edges the labeling is
    * ONE bounded `limit(gate+1).collect()` (≤ gate+1 rows × 16 bytes
    * ≈ 1 MB of driver state) plus a driver union-find, instead of the
    * multi-job star loop. Labels are identical by definition
    * (component minimum, exact integers), pinned against the loop in
    * ConnectedComponentsSpec. An over-gate edge set costs one
    * truncated pass and falls back to the loop.
    *
    * Opt-in: the probe evaluates the edge plan once, which on an
    * unmaterialized pair-generation plan is a near-full extra pass.
    * Callers that hand a materialized edge table pass this constant;
    * the default (0) is the probe-free loop. */
  val LocalMaxEdges: Int = 1 << 16

  /** (node, label) via alternating large-star/small-star; O(log n)
    * rounds on any graph shape, at most `maxRounds`. Edge sets at or
    * below `localMaxEdges` take the driver union-find path (see
    * [[LocalMaxEdges]]). */
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
    val (stars, rounds) = Fixpoint.converge(e0, maxRounds,
        s"connected components (large/small-star) did not converge in $maxRounds rounds")(
      (e, _) => smallStar(largeStar(e)))
    // stars over the CONTRACTED graph: every edge is (child,
    // root=component min). Compose node → seed m (self for nodes the
    // loop-free edge set never saw) → star label (self for contracted
    // roots and fully-collapsed components, where m already IS the
    // original component minimum).
    val labels = nodes
      .join(seed.select(col("u").as("node"), col("m")), Seq("node"), "left")
      .select(col("node"), coalesce(col("m"), col("node")).as("m"))
      .join(stars.select(col("a").as("m"), col("b").as("label")), Seq("m"), "left")
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
