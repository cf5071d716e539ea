package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.annotation.tailrec

/** The iterate-to-fixpoint loop of the graph operators (connected
  * components' star loop, k-core peeling, BFS) and the canonical
  * undirected edge set every graph operator starts from. */
private[graft] object Fixpoint {

  /** Rounds per driver action. A round past the fixpoint changes
    * nothing, so running both rounds of a batch never changes a result;
    * it halves the signature jobs. */
  private val RoundsPerJob = 2

  /** First two columns → distinct long (a, b) with a < b: NULL
    * endpoints and self-loops dropped, reversed duplicates merged. */
  def undirectedEdges(edges: DataFrame): DataFrame =
    edges
      .select(col(edges.columns(0)).cast("long").as("a"),
              col(edges.columns(1)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()

  /** Iterates `step` from `init` (round r maps state r-1 to state r)
    * and returns the first round whose state signs the same as the
    * round before it, with that state. Throws
    * IllegalArgumentException(failureMsg) unless that round is
    * ≤ `maxRounds`: an unconverged state is never returned.
    *
    * The driver reads metadata only. A state's signature is
    * (row count, XOR of its rows' xxhash64), (0, 0) when empty: order
    * free, and a false fixpoint needs a 64-bit multiset hash collision
    * at equal counts. Each round's state is cut with a lazy
    * localCheckpoint, so plan depth stays O(1) and no round costs a job
    * of its own; one grouped aggregate over the round-tagged states of
    * a batch (plus `init` in the first) materializes them and reads
    * every signature. `step` must be deterministic in its state, so
    * that a state equal to its predecessor is a fixpoint of every later
    * round; the round index is for steps that tag their output. */
  def converge(init: DataFrame, maxRounds: Int, failureMsg: String)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    @tailrec def from(state: DataFrame, signed: Option[(Long, Long)], round: Int): (DataFrame, Int) = {
      if (round >= maxRounds) throw new IllegalArgumentException(failureMsg)
      val batch = (1 to RoundsPerJob).scanLeft(state) { (s, i) =>
        step(s, round + i).localCheckpoint(eager = false)
      }
      // sigs(i) signs round + i
      val sigs = signed.toSeq ++ signatures(batch.drop(signed.size))
      (1 to RoundsPerJob).find(i => sigs(i) == sigs(i - 1)) match {
        case Some(i) if round + i <= maxRounds => (batch(i), round + i)
        case Some(_)                            => throw new IllegalArgumentException(failureMsg)
        case None                               => from(batch.last, Some(sigs.last), round + RoundsPerJob)
      }
    }
    from(init.localCheckpoint(eager = false), None, 0)
  }

  private def signatures(states: Seq[DataFrame]): Seq[(Long, Long)] = {
    val got = states.zipWithIndex
      .map { case (s, i) => s.select(lit(i).as("i"), xxhash64(s.columns.map(col).toSeq: _*).as("h")) }
      .reduce(_ union _)
      .groupBy("i").agg(count(lit(1)), bit_xor(col("h")))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    states.indices.map(got.getOrElse(_, (0L, 0L)))
  }
}
