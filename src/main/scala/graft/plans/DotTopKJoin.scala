package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Broadcast top-k dot-product join — the exact-similarity kernel of
  * the embedding near-dup baseline as a first-class physical operator.
  *
  * Semantics: for left rows (id_a, vec_a) and right rows (id_b, vec_b),
  * consider every pair with id_b > id_a; score = dot(vec_a, vec_b)
  * over the shorter vector's length (graft_dot's score), rounded
  * HALF_UP to 3 decimals. Two emission modes:
  *
  *  - TOP-K (`minScorePermille < 0`): emit a SUPERSET of the global
  *    top-k pairs under (score DESC, id_a ASC, id_b ASC) — each
  *    partition's local top-k, so a final TakeOrdered(k) completes
  *    the query.
  *  - THRESHOLD (`minScorePermille >= 0`, round-12): emit EXACTLY the
  *    pairs whose rounded score reaches minScorePermille/1000 — the
  *    semantic-dedup kernel ("every pair above τ", not "the k best").
  *    No heap: matches stream out per left row, so memory is bounded
  *    by one row's match list — pair-scale at the high thresholds the
  *    dedup semantics use, by contract never a low-τ pair dump.
  *
  * Why a custom operator instead of `join(broadcast(right), idb > ida)`
  * + TakeOrdered: the declarative plan materializes every surviving
  * pair as a row and evaluates the dot + HALF_UP rounding per pair
  * (2M BigDecimal roundings at 2k vectors). This exec declares
  * `BroadcastDistribution(IdentityBroadcastMode)` on the right child —
  * the PLANNER builds the broadcast (BroadcastExchange under Spark's
  * managed memory accounting and size limits; no driver-side collect in
  * user code) — and each partition unpacks the broadcast once into
  * primitive arrays, then runs a tight loop with a cheap-reject
  * bound: a raw dot more than 5.1e-4 below the heap floor (top-k) or
  * below τ (threshold) cannot round high enough to enter (rounding
  * moves a value by ≤ 0.0005), so the allocation-heavy exact rounding
  * runs only for genuine candidates. At 100 TB the right side is fed
  * in bounded id-hash chunks (see queries.HashOps.q_dedup_embed and
  * Graft.cosineThresholdPairs) and the union over chunks scores every
  * unordered pair exactly once.
  */
case class DotTopKJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftId: Attribute, leftVec: Attribute,
    rightId: Attribute, rightVec: Attribute,
    k: Int, minScorePermille: Int,
    outA: AttributeReference, outB: AttributeReference,
    outScore: AttributeReference) extends BinaryNode {
  override def output: Seq[Attribute] = Seq(outA, outB, outScore)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): DotTopKJoinNode =
    copy(left = newLeft, right = newRight)
}

object DotTopKJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DotTopKJoinNode(l, r, lid, lvec, rid, rvec, k, tau, oa, ob, os) =>
      DotTopKJoinExec(lid, lvec, rid, rvec, k, tau, oa, ob, os,
        planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class DotTopKJoinExec(
    leftId: Attribute, leftVec: Attribute,
    rightId: Attribute, rightVec: Attribute,
    k: Int, minScorePermille: Int,
    outA: Attribute, outB: Attribute, outScore: Attribute,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = Seq(outA, outB, outScore)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numPairsScored" -> SQLMetrics.createMetric(sparkContext, "number of pairs scored"))

  /** Left streams in place; right arrives as a planner-built broadcast
    * (BroadcastExchange — managed memory accounting, size-capped). */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    val lid = left.output.indexWhere(_.exprId == leftId.exprId)
    val lvec = left.output.indexWhere(_.exprId == leftVec.exprId)
    val rid = right.output.indexWhere(_.exprId == rightId.exprId)
    val rvec = right.output.indexWhere(_.exprId == rightVec.exprId)
    val kk = k
    val tauPermille = minScorePermille
    val numOutputRows = longMetric("numOutputRows")
    val numPairsScored = longMetric("numPairsScored")
    val bcast = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions { iter =>
      val peerRows = bcast.value
      val n = peerRows.length
      val ids = new Array[Long](n)
      val vecs = new Array[Array[Double]](n)
      var m = 0
      var j = 0
      while (j < n) {
        val r = peerRows(j)
        if (!r.isNullAt(rid) && !r.isNullAt(rvec)) {
          ids(m) = r.getLong(rid); vecs(m) = r.getArray(rvec).toDoubleArray(); m += 1
        }
        j += 1
      }
      val proj = UnsafeProjection.create(
        Array[DataType](LongType, LongType, DoubleType))
      val row = new GenericInternalRow(3)
      def emit(score: Double, ida: Long, idb: Long): InternalRow = {
        numOutputRows += 1
        row.update(0, ida); row.update(1, idb); row.update(2, score)
        // copy(): the projection reuses one UnsafeRow buffer, and the
        // consumer above may buffer rows
        proj(row).copy()
      }
      // The pair scan of both modes for one left row: the dot summed
      // in index order as graft_dot, the cheap reject against the
      // mode's `floor`, and the exact rounding; each mode supplies only
      // its accept step.
      def scanPeers(l: InternalRow, floor: => Double)(accept: (Double, Long, Long) => Unit): Unit =
        if (!l.isNullAt(lid) && !l.isNullAt(lvec)) {
          val ida = l.getLong(lid)
          val va = l.getArray(lvec).toDoubleArray()
          var p = 0
          while (p < m) {
            val idb = ids(p)
            if (idb > ida) {
              numPairsScored += 1
              val vb = vecs(p)
              val n = math.min(va.length, vb.length)
              var acc = 0.0; var i = 0
              while (i < n) { acc += va(i) * vb(i); i += 1 }
              if (acc >= floor - 5.1e-4)
                accept(BigDecimal(acc).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble, ida, idb)
            }
            p += 1
          }
        }
      if (tauPermille >= 0) {
        // THRESHOLD mode: stream matches per left row — exact pair
        // set, no heap, memory bounded by one row's matches
        val tau = tauPermille / 1000.0
        iter.flatMap { l =>
          val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          // integer-permille compare: `rounded >= tau` on doubles would
          // hinge on 0.9's binary representation
          scanPeers(l, tau) { (rounded, ida, idb) =>
            if (math.round(rounded * 1000) >= tauPermille) out += emit(rounded, ida, idb)
          }
          out.iterator
        }
      } else {
        // TOP-K mode: partition-local top-k heap ordered by the OUTPUT
        // contract key (rounded score DESC, id_a ASC, id_b ASC);
        // head = worst kept, the floor once the heap is full.
        val ord = Ordering.by[(Double, Long, Long), (Double, Long, Long)] {
          case (cos, ida, idb) => (-cos, ida, idb)
        }
        val best = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Long)](ord)
        iter.foreach { l =>
          scanPeers(l, if (best.size < kk) Double.NegativeInfinity else best.head._1) {
            (rounded, ida, idb) =>
              val cand = (rounded, ida, idb)
              if (best.size < kk) best.enqueue(cand)
              else if (ord.lt(cand, best.head)) { best.dequeue(); best.enqueue(cand) }
          }
        }
        best.dequeueAll.iterator.map { t: (Double, Long, Long) =>
          emit(t._1, t._2, t._3)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): DotTopKJoinExec =
    copy(left = newLeft, right = newRight)
}

object DotTopK {
  private def build(leftDf: DataFrame, rightDf: DataFrame,
                    leftIdCol: String, leftVecCol: String,
                    rightIdCol: String, rightVecCol: String,
                    k: Int, minScorePermille: Int): DataFrame = {
    val spark = leftDf.sparkSession
    Bridge.addStrategy(spark, DotTopKJoinStrategy)
    val lPlan = Bridge.analyzed(leftDf)
    val rPlan = Bridge.analyzed(rightDf)
    def attr(p: LogicalPlan, name: String, dt: DataType => Boolean, what: String): Attribute = {
      val a = p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column '$name' not found in ${p.output.map(_.name)}"))
      require(dt(a.dataType), s"column '$name' has unsupported type ${a.dataType} for $what")
      a
    }
    val isVec: DataType => Boolean =
      { case ArrayType(DoubleType, _) => true; case _ => false }
    val node = DotTopKJoinNode(lPlan, rPlan,
      attr(lPlan, leftIdCol, _ == LongType, "id"), attr(lPlan, leftVecCol, isVec, "vector"),
      attr(rPlan, rightIdCol, _ == LongType, "id"), attr(rPlan, rightVecCol, isVec, "vector"),
      k, minScorePermille,
      AttributeReference("vec_a", LongType, nullable = false)(),
      AttributeReference("vec_b", LongType, nullable = false)(),
      AttributeReference("cosine", DoubleType, nullable = false)())
    Bridge.ofRows(spark, node)
  }

  /** Top-k `(vec_a, vec_b, cosine)` pairs of `left` × `right` with
    * `rightId > leftId`, by (HALF_UP-3 rounded dot DESC, a, b). Emits
    * each partition's local top-k — callers finish with
    * `.orderBy(...).limit(k)`. Ids must be LongType, vectors
    * array<double>. */
  def topk(leftDf: DataFrame, rightDf: DataFrame,
           leftIdCol: String, leftVecCol: String,
           rightIdCol: String, rightVecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    build(leftDf, rightDf, leftIdCol, leftVecCol, rightIdCol, rightVecCol, k, -1)
  }

  /** EXACTLY the `(vec_a, vec_b, cosine)` pairs of `left` × `right`
    * with `rightId > leftId` whose HALF_UP-3 rounded dot reaches
    * minScorePermille/1000 — the threshold-emission mode (round-12
    * semantic dedup). Unordered; ids LongType, vectors array<double>. */
  def threshold(leftDf: DataFrame, rightDf: DataFrame,
                leftIdCol: String, leftVecCol: String,
                rightIdCol: String, rightVecCol: String,
                minScorePermille: Int): DataFrame = {
    require(minScorePermille >= 0 && minScorePermille <= 1000,
      s"minScorePermille must be in [0, 1000], got $minScorePermille")
    build(leftDf, rightDf, leftIdCol, leftVecCol, rightIdCol, rightVecCol,
      -1, minScorePermille)
  }
}
