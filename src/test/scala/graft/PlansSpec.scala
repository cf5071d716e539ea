package graft

import graft.plans.AsOfJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import scala.reflect.runtime.universe.TypeTag

/** Test-only leaf exec simulating a spill reader: every emitted row's
  * string column is a UTF8String VIEW over one shared byte buffer,
  * overwritten on each next() — any downstream operator that retains
  * such a value without copying reads corrupted data. Top-level (not
  * nested in the suite) so the task closure stays serializable. */
case class ReusedBufferScanExec(
    output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
    data: Seq[(String, Long)])
  extends org.apache.spark.sql.execution.LeafExecNode {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String
  override protected def doExecute(): org.apache.spark.rdd.RDD[InternalRow] = {
    val local = data
    sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      val buf = new Array[Byte](64)
      local.iterator.map { case (k, t) =>
        val bytes = k.getBytes("UTF-8")
        java.util.Arrays.fill(buf, 0.toByte)
        System.arraycopy(bytes, 0, buf, 0, bytes.length)
        new GenericInternalRow(
          Array[Any](UTF8String.fromBytes(buf, 0, bytes.length), t))
      }
    }
  }
}

/** Custom Catalyst operator tests (graft.plans.AsOfJoinExec): exact
  * semantics on crafted fixtures, plan shape (the exec is actually
  * planned, with one exchange per side), and full-output equality with
  * the independent window-based composition. */
class PlansSpec extends SparkSpecBase {
  import spark.implicits._

  private def leftDf(rows: (Long, Long)*) =
    rows.toDF("k", "t")
  private def rightDf(rows: (Long, Long)*) =
    rows.toDF("rk", "rt")

  test("asof: latest at-or-before match, equal-ts counts, no-match null") {
    val l = leftDf((1L, 100L), (1L, 200L), (2L, 50L), (3L, 10L))
    val r = rightDf((1L, 90L), (1L, 150L), (1L, 201L), (2L, 50L), (9L, 1L))
    val got = Graft.asofJoin(l, r, "k", "t", "rk", "rt").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (if (x.isNullAt(2)) -1L else x.getLong(2)))
      .toMap
    assert(got((1L, 100L)) == 90L)   // 150/201 are later
    assert(got((1L, 200L)) == 150L)  // latest <= 200
    assert(got((2L, 50L)) == 50L)    // equal timestamp matches
    assert(got((3L, 10L)) == -1L)    // key never present on the right
  }

  test("asof: per-partition merge state resets between keys") {
    // key 5's clicks must never leak into key 6 (same hash partition or not)
    val l = leftDf((5L, 10L), (6L, 10L))
    val r = rightDf((5L, 5L))
    val got = Graft.asofJoin(l, r, "k", "t", "rk", "rt").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(2)) -1L else x.getLong(2))).toMap
    assert(got(5L) == 5L && got(6L) == -1L)
  }

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectPlan(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      Seq(s) ++ collectPlan(s.plan)
    case other => Seq(other) ++ other.children.flatMap(collectPlan)
  }

  test("asof plan shape: AsOfJoinExec planned with one exchange per side") {
    val l = leftDf((1L to 100L).map(i => (i % 7, i)): _*)
    val r = rightDf((1L to 100L).map(i => (i % 7, i - 3)): _*)
    val df = Graft.asofJoin(l, r, "k", "t", "rk", "rt")
    df.collect() // materialize so AQE finalizes the plan
    val nodes = collectPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[AsOfJoinExec]), "AsOfJoinExec not planned")
    val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(exchanges == 2, s"expected 2 exchanges (one per side), got $exchanges")
  }

  test("asof: string keys via the interpreted ordering path") {
    val l = Seq(("alpha", 100L), ("alpha", 200L), ("beta", 50L), ("gamma", 10L))
      .toDF("k", "t")
    val r = Seq(("alpha", 90L), ("alpha", 150L), ("beta", 50L), ("delta", 1L))
      .toDF("rk", "rt")
    val got = Graft.asofJoin(l, r, "k", "t", "rk", "rt").collect()
      .map(x => (x.getString(0), x.getLong(1)) -> (if (x.isNullAt(2)) -1L else x.getLong(2)))
      .toMap
    assert(got(("alpha", 100L)) == 90L)
    assert(got(("alpha", 200L)) == 150L)
    assert(got(("beta", 50L)) == 50L)
    assert(got(("gamma", 10L)) == -1L)
  }

  test("asof: tolerance nulls too-distant matches instead of backing off") {
    val l = leftDf((1L, 100L), (1L, 200L), (1L, 300L))
    val r = rightDf((1L, 95L), (1L, 150L))
    val got = Graft.asofJoin(l, r, "k", "t", "rk", "rt", tolerance = Some(10L))
      .collect()
      .map(x => x.getLong(1) -> (if (x.isNullAt(2)) -1L else x.getLong(2))).toMap
    assert(got(100L) == 95L)  // within 10
    assert(got(200L) == -1L)  // nearest earlier (150) is 50 away: NULL, not 95
    assert(got(300L) == -1L)
  }

  test("asof: tolerance distance is exact at the ends of the long range") {
    def asof(l: (Long, Long), r: (Long, Long), direction: String) = {
      val x = Graft.asofJoin(leftDf(l), rightDf(r), "k", "t", "rk", "rt",
        direction = direction, tolerance = Some(10L)).collect().head
      if (x.isNullAt(2)) None else Some(x.getLong(2))
    }
    // the signed differences 0 - MinValue and MaxValue - (-1) wrap negative
    assert(asof((1L, 0L), (1L, Long.MinValue), "backward").isEmpty)
    assert(asof((1L, -1L), (1L, Long.MaxValue), "forward").isEmpty)
    assert(asof((1L, Long.MinValue + 10), (1L, Long.MinValue), "backward").contains(Long.MinValue))
    assert(asof((1L, Long.MaxValue - 10), (1L, Long.MaxValue), "forward").contains(Long.MaxValue))
  }

  test("asof: forward direction takes the earliest at-or-after match") {
    val l = leftDf((1L, 100L), (1L, 150L), (2L, 10L))
    val r = rightDf((1L, 100L), (1L, 120L), (1L, 140L))
    val got = Graft.asofJoin(l, r, "k", "t", "rk", "rt", direction = "forward")
      .collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (if (x.isNullAt(2)) -1L else x.getLong(2)))
      .toMap
    assert(got((1L, 100L)) == 100L) // equal time matches forward too
    assert(got((1L, 150L)) == -1L)  // nothing at-or-after
    assert(got((2L, 10L)) == -1L)
  }

  test("asof: RANGE tie semantics — any same-time right row matches") {
    // right rows (k=1, t=100) arrive 'after' the left row in any
    // arrival-order sense; the operator still matches at equal time
    val l = leftDf((1L, 100L))
    val r = rightDf((1L, 100L), (1L, 100L))
    val got = Graft.asofJoin(l, r, "k", "t", "rk", "rt").collect()
    assert(got.head.getLong(2) == 100L)
  }

  test("asof == brute-force reference on random data (both directions, tolerance)") {
    // in-Scala oracle: nearest same-key right time at-or-before /
    // at-or-after, nulled when beyond tolerance
    def reference(ls: Seq[(Long, Long)], rs: Seq[(Long, Long)],
                  fwd: Boolean, tol: Option[Long]): Map[(Long, Long), Long] =
      ls.map { case (k, t) =>
        val cand = rs.filter(r => r._1 == k && (if (fwd) r._2 >= t else r._2 <= t))
          .map(_._2)
        val nearest = if (cand.isEmpty) None
          else Some(if (fwd) cand.min else cand.max)
        val ok = nearest.filter(m => tol.forall(x => math.abs(m - t) <= x))
        (k, t) -> ok.getOrElse(-1L)
      }.toMap
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4; fwd <- Seq(false, true); tol <- Seq(None, Some(5L))) {
      // distinct left (k, t) pairs so the result is a well-defined map
      val ls = rnd.shuffle((0L until 40L).map(i => (i % 5, rnd.nextInt(30).toLong))
        .distinct.toSeq)
      val rs = Seq.fill(30)((rnd.nextInt(6).toLong, rnd.nextInt(30).toLong))
      val got = Graft.asofJoin(leftDf(ls: _*), rightDf(rs: _*), "k", "t", "rk", "rt",
          direction = if (fwd) "forward" else "backward", tolerance = tol)
        .collect()
        .map(x => (x.getLong(0), x.getLong(1)) ->
          (if (x.isNullAt(2)) -1L else x.getLong(2))).toMap
      assert(got == reference(ls, rs, fwd, tol),
        s"trial=$trial fwd=$fwd tol=$tol")
    }
  }

  test("asof generic path copies buffer-backed right-side values (spill-reader reuse)") {
    // Simulates the sorted right child's spill reader, which reuses
    // one read buffer across loadNext() calls: every row's UTF8String
    // key is a view over the SAME byte array, overwritten on each
    // next(). Retaining such a view across pullRight() (instead of
    // copying) silently corrupts the merge state — row ("aaa", 50)
    // must still match the consumed ("aaa", 10) after the buffer has
    // been rewritten to "bbb".
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{LongType, StringType}
    val lk = AttributeReference("k", StringType)()
    val lt = AttributeReference("t", LongType)()
    val rk = AttributeReference("rk", StringType)()
    val rt = AttributeReference("rt", LongType)()
    val out = AttributeReference("asof_time", LongType)()
    val leftLeaf = ReusedBufferScanExec(Seq(lk, lt), Seq(("aaa", 50L)))
    val rightLeaf = ReusedBufferScanExec(Seq(rk, rt), Seq(("aaa", 10L), ("bbb", 99L)))
    val exec = AsOfJoinExec(Seq(lk), lt, Seq(rk), rt,
      forward = false, tolerance = None, out, leftLeaf, rightLeaf)
    val got = exec.execute().collect()
    assert(got.length == 1)
    assert(!got.head.isNullAt(2) && got.head.getLong(2) == 10L,
      "retained right-side key view was clobbered by buffer reuse")
  }

  test("asof composite keys: (string, long) tuple keys vs brute force") {
    // two-column tuple keys on random data, both directions, against a
    // brute-force in-Scala oracle: (symbol, venue)-style keys mixing
    // types, and all-long keys
    def check[K: TypeTag](k1s: Seq[K], rnd: scala.util.Random,
                          nl: Int, nr: Int, times: Int, fwd: Boolean): Unit = {
      def draw() = (k1s(rnd.nextInt(k1s.size)), rnd.nextInt(2).toLong, rnd.nextInt(times).toLong)
      val ls = (1 to nl).map(_ => draw()).distinct
      val rs = (1 to nr).map(_ => draw())
      val want = ls.map { case (k1, k2, t) =>
        val cand = rs.filter(r => r._1 == k1 && r._2 == k2 &&
          (if (fwd) r._3 >= t else r._3 <= t)).map(_._3)
        ((k1: Any), k2, t) -> (if (cand.isEmpty) -1L else if (fwd) cand.min else cand.max)
      }.toMap
      val got = Graft.asofJoinMulti(ls.toDF("sym", "venue", "t"), rs.toDF("rsym", "rvenue", "rt"),
          Seq("sym", "venue"), "t", Seq("rsym", "rvenue"), "rt",
          direction = if (fwd) "forward" else "backward")
        .collect()
        .map(x => (x.get(0), x.getLong(1), x.getLong(2)) ->
          (if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
      assert(got == want, s"keys=${k1s.head.getClass.getSimpleName} fwd=$fwd")
    }
    val strings = new scala.util.Random(7)
    for (fwd <- Seq(false, true)) check(Seq("aa", "bb", "cc"), strings, 60, 50, 40, fwd)
    val longs = new scala.util.Random(11)
    for (fwd <- Seq(false, true)) check(Seq(0L, 1L, 2L), longs, 50, 40, 30, fwd)
  }

  test("asof composite keys: NULL in any key component never matches") {
    val l = Seq((Some("a"), Some(1L), 100L), (None, Some(1L), 100L),
                (Some("a"), None, 100L))
      .toDF("sym", "venue", "t")
    val r = Seq((Some("a"), Some(1L), 90L), (None, Some(1L), 80L))
      .toDF("rsym", "rvenue", "rt")
    val got = Graft.asofJoinMulti(l, r, Seq("sym", "venue"), "t",
        Seq("rsym", "rvenue"), "rt").collect()
      .map(x => (Option(x.getString(0)), if (x.isNullAt(1)) None else Some(x.getLong(1))) ->
        (if (x.isNullAt(3)) -1L else x.getLong(3))).toMap
    assert(got((Some("a"), Some(1L))) == 90L)  // full key matches
    assert(got((None, Some(1L))) == -1L)       // NULL left key: no match
    assert(got((Some("a"), None)) == -1L)      // NULL in second component: no match
  }

  test("asof composite keys: single-key result equals two-key result with constant key") {
    val l = leftDf((1L, 100L), (1L, 200L), (2L, 50L))
    val r = rightDf((1L, 90L), (2L, 60L))
    val single = Graft.asofJoin(l, r, "k", "t", "rk", "rt").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (if (x.isNullAt(2)) -1L else x.getLong(2)))
      .toMap
    assert(single == Map((1L, 100L) -> 90L, (1L, 200L) -> 90L, (2L, 50L) -> -1L))
    val two = Graft.asofJoinMulti(
        l.withColumn("c", lit("x")), r.withColumn("rc", lit("x")),
        Seq("c", "k"), "t", Seq("rc", "rk"), "rt").collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (if (x.isNullAt(3)) -1L else x.getLong(3)))
      .toMap
    assert(single == two)
  }

  test("asof native == window composition on the full sf0.001 events") {
    val native = queries.Events.q_asof_native(spark, sf).collect().map(_.toSeq)
    val window = queries.Events.q_asof_join(spark, sf).collect().map(_.toSeq)
    assert(native.nonEmpty)
    assert(native.toSeq == window.toSeq)
  }

  test("dot-topk: equals the declarative broadcast-join form, exact ties") {
    import graft.plans.DotTopK
    val dot = graft.functions.GraftFunctions.dot _
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val peers = e.select(col("vec_id").as("pid"), col("v").as("pv"))
    val viaExec = DotTopK.topk(e, peers, "vec_id", "v", "pid", "pv", 20)
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b")).limit(20)
    val declarative = e.join(broadcast(peers), col("pid") > col("vec_id"))
      .select(col("vec_id").as("vec_a"), col("pid").as("vec_b"),
              round(dot(col("v"), col("pv")), 3).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b")).limit(20)
    assert(rows(viaExec) == rows(declarative))
  }

  test("dot-topk plan shape: exec planned over a planner-built broadcast") {
    import graft.plans.{DotTopK, DotTopKJoinExec}
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val peers = e.select(col("vec_id").as("pid"), col("v").as("pv"))
    val df = DotTopK.topk(e, peers, "vec_id", "v", "pid", "pv", 5)
    df.collect()
    val nodes = collectPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[DotTopKJoinExec]), "DotTopKJoinExec not planned")
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "peer side must arrive via a planner-built BroadcastExchange")
  }

  test("custom execs report SQL metrics (pairs scored / matches)") {
    import graft.plans.{DotTopK, DotTopKJoinExec}
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val peers = e.select(col("vec_id").as("pid"), col("v").as("pv"))
    val df = DotTopK.topk(e, peers, "vec_id", "v", "pid", "pv", 5)
    df.collect()
    val topk = collectPlan(df.queryExecution.executedPlan)
      .collectFirst { case x: DotTopKJoinExec => x }.get
    val n = Tables.embeddings(spark, sf).count()
    assert(topk.metrics("numPairsScored").value == n * (n - 1) / 2)
    assert(topk.metrics("numOutputRows").value >= 5)

    val l = leftDf((1L, 100L), (2L, 50L))
    val r = rightDf((1L, 90L))
    val adf = Graft.asofJoin(l, r, "k", "t", "rk", "rt")
    adf.collect()
    val asof = collectPlan(adf.queryExecution.executedPlan)
      .collectFirst { case x: AsOfJoinExec => x }.get
    assert(asof.metrics("numOutputRows").value == 2)
    assert(asof.metrics("numMatched").value == 1)
  }

  test("TopK-backed queries plan as partial aggregation, never a window sort") {
    // the scale property: the per-probe / per-stratum cut is a
    // map-side-combinable ObjectHashAggregate (partial_ + final), so
    // <= k rows per group leave each map task; a Window node here
    // would mean the full score matrix / stratum is being sorted
    for (q <- Seq(queries.TextOps.q_knn_join(spark, sf),
                  queries.PipelineOps.q_stratified_sample(spark, sf))) {
      val plan = q.queryExecution.sparkPlan.toString
      assert(plan.contains("ObjectHashAggregate"), "expected TopK aggregate")
      assert("partial_".r.findAllIn(plan).nonEmpty, "expected a partial (map-side) phase")
      assert(!plan.contains("Window ["), s"unexpected window sort in plan:\n$plan")
    }
  }

  test("dot-topk: per-partition output is bounded by k") {
    import graft.plans.DotTopK
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .repartition(4)
    val peers = e.select(col("vec_id").as("pid"), col("v").as("pv"))
    val raw = DotTopK.topk(e, peers, "vec_id", "v", "pid", "pv", 3)
    assert(raw.count() <= 3L * raw.rdd.getNumPartitions)
  }
}
