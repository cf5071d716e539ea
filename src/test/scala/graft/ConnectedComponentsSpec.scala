package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import graft.operators.ConnectedComponents

/** Equivalence of both alternatingStar paths (the gated driver
  * union-find and the distributed star loop) with a plain union-find
  * ground truth, plus the round-bound property that justifies
  * large-star/small-star at scale: logarithmic rounds on a
  * high-diameter chain. */
class ConnectedComponentsSpec extends SparkSpecBase {
  import spark.implicits._

  /** Union-find with min-id roots (always hang the larger root under
    * the smaller), so root(x) = component minimum. */
  private def groundTruth(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("both alternating-star paths == union-find on random graphs") {
    val edgeGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.chooseNum(2, 14)
      m <- Gen.chooseNum(1, 20)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1); b <- Gen.chooseNum(0, n - 1)
      } yield (a.toLong, b.toLong))
    } yield es
    // self-loops are filtered INSIDE the property (not only in the
    // generator): ScalaCheck shrinking bypasses generator filters
    val prop = Prop.forAll(edgeGen) { es =>
      val clean = es.filter(e => e._1 != e._2)
      clean.nonEmpty ==> {
        val df = clean.toDF("u", "v")
        val truth = groundTruth(clean)
        // both alternatingStar paths: the gated driver union-find
        // (opt-in since round 18 — these graphs are far under
        // LocalMaxEdges) AND the distributed star loop (the default)
        labelsOf(ConnectedComponents.alternatingStar(df,
          localMaxEdges = ConnectedComponents.LocalMaxEdges)) == truth &&
          labelsOf(ConnectedComponents.alternatingStar(df)) == truth
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(8).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("self-loop-only nodes are their own single-node components") {
    // node 7 appears ONLY in the self-loop (7,7); node 3 has a
    // self-loop AND a real edge — both must appear in the output,
    // 7 labeled by itself, 3 by its component min
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 3L), (7L, 7L)).toDF("u", "v")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L)
    assert(labelsOf(ConnectedComponents.alternatingStar(edges,
      localMaxEdges = ConnectedComponents.LocalMaxEdges)) == expected)
    assert(labelsOf(ConnectedComponents.alternatingStar(edges)) == expected)
    // degenerate graph: nothing BUT self-loops still yields the full
    // node universe
    val only = Seq((5L, 5L), (9L, 9L)).toDF("u", "v")
    val exp2 = Map(5L -> 5L, 9L -> 9L)
    assert(labelsOf(ConnectedComponents.alternatingStar(only,
      localMaxEdges = ConnectedComponents.LocalMaxEdges)) == exp2)
    assert(labelsOf(ConnectedComponents.alternatingStar(only)) == exp2)
  }

  test("union-find gate: at the gate takes the fast path, above it falls back") {
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("u", "v")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L)
    // gate below the edge count → one truncated collect, then the loop
    assert(labelsOf(ConnectedComponents.alternatingStar(edges, localMaxEdges = 2)) == expected)
    // gate exactly the edge count → fast path (0 rounds), same labels
    val (fast, rounds) =
      ConnectedComponents.alternatingStarWithRounds(edges, 50, localMaxEdges = 3)
    assert(labelsOf(fast) == expected)
    assert(rounds == 0)
  }

  test("star needs only O(log n) rounds on a 64-node chain (diameter 63)") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("u", "v")
    // localMaxEdges = 0 forces the distributed loop — the round bound
    // is a property OF the loop (the gated fast path reports 0 rounds)
    val (labels, rounds) =
      ConnectedComponents.alternatingStarWithRounds(chain, 50, localMaxEdges = 0)
    assert(labelsOf(labels) == (0L to 63L).map(_ -> 0L).toMap)
    assert(rounds <= 15, s"expected logarithmic rounds on the chain, got $rounds")
    // warm job budget of the whole loop: construction plus a noop
    // write, the fewest of three calls (AQE's re-planning order can
    // add a job on a loaded machine)
    val jobs = (1 to 3).map(_ => jobsDuring(spark) {
      ConnectedComponents.alternatingStarWithRounds(chain, 50, localMaxEdges = 0)._1
        .write.format("noop").mode("overwrite").save()
    }).min
    assert(jobs <= 73, s"the chain's star loop ran $jobs jobs")
  }
}
