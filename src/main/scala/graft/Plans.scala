package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-archive main: regenerates PLANS.md with the physical plan of
  * every declared query at the given sfDir (defaults to sf0.1 — the
  * bench scale). Usage:
  *   sbt "runMain graft.Plans [sfDir] [outFile]"
  * The archive is the plan-review artifact: `*(n)` prefixes mark
  * whole-stage-codegen stages; PushedFilters/ReadSchema on the scans
  * show pushdown + pruning; Exchange nodes are the shuffles.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Harness.session()
    val sb = new StringBuilder
    sb.append(s"# PLANS — physical plans of all ${SparkEntry.queries.size} queries at $sfDir\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"` (executedPlan, AQE initial). ")
    sb.append("`*(n)` prefixes = whole-stage-codegen stages.\n\n")
    sb.append(
      """Scale audit of the known non-obvious shapes (deliberate, reviewed —
        |the BroadcastNestedLoopJoin list is the PlanGuardSpec allowlist):
        |- BroadcastNestedLoopJoin/Cross appears ONLY under the ANN probes
        |  (q_sim_search / q_sim_srp / q_sim_ivf), the 1-row centroid-array
        |  scalar of q_ivf_build / q_sim_ivf (row-local argmax assignment —
        |  zero shuffle), the 1-row scalars of q_tfidf / q_unigram_ppl /
        |  q_unigram_open (model total) / q_pack_chunks / q_pipeline_layout,
        |  q_dedup_funnel's three 1-row stage aggregates,
        |  q_boilerplate_grams' broadcast 1-row corpus-count cross,
        |  the 1-row quantile-bounds broadcasts of q_window_ntile /
        |  q_late_data, q_knn_join's declared-small probe batch, and
        |  the dense-spine cross of q_gapfill / q_hourly_delta (exploded
        |  1-row min/max bounds × the broadcast <=|types|-row
        |  distinct-type table, both
        |  metadata-scale) — each build side is a single row, a <=10-row
        |  centroid set, or a by-definition-small probe set, so the
        |  "nested loop" is a linear map-side scan, not a quadratic join.
        |- q_window_ntile and q_late_data run the DISTRIBUTED two-pass global
        |  rank / prefix-max (range buckets from approx quantiles, partitioned
        |  per-bucket windows, array-HOF prefix fold over the <=B-row bucket
        |  table) — no unpartitioned WindowExec. The only remaining global
        |  Windows are over tiny inputs (q_topk_global's final 10-row rank,
        |  q_sim_ivf's <=10-row cell ranking).
        |- q_dedup_embed plans the custom DotTopKJoinExec over a planner-built
        |  BroadcastExchange (per-partition top-k, <=k rows out per partition);
        |  q_asof_native plans AsOfJoinExec (one exchange + sort per side).
        |- q_dedup_minhash / q_dedup_ngram / q_dedup_ngram_capped carry
        |  multi-stage self-join DAGs by design; their candidate generation is
        |  band-/index-bucketed, never all-pairs, with hot buckets
        |  block-decomposed behind an explicit-count repartition (exempt from
        |  AQE coalescing — see BASELINE.md round-7 skew bench). q_dedup_cluster
        |  runs large-star/small-star connected components over the shared
        |  temp-parquet-cached pair graph (O(log n) rounds, loud failure on
        |  non-convergence; parquet, not localCheckpoint, so consumer joins
        |  keep relation stats — the PlanGuardSpec stats-loss guard).
        |- Round 10: the span family (q_span_dedup / q_span_drop /
        |  q_span_contamination) groups and joins on the 128-bit spanHash
        |  pair — span TEXT never appears in an Exchange; q_media_decode's
        |  encode+ImageIO-decode is one MapPartitions stage with the output
        |  sort as its only exchange; PlanGuardSpec additionally PINS the
        |  prepared-plan shuffle counts of the five most expensive queries.
        |""".stripMargin)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try fn(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Exception => s"ERROR: ${e.getMessage}" }
      sb.append(s"\n## $name\n\n```\n").append(plan.trim).append("\n```\n")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote ${SparkEntry.queries.size} plans to $out")
    spark.stop()
  }
}
