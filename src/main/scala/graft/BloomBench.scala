package graft

import org.apache.spark.sql.functions._

/** Bloom-prefilter evidence harness: measures WHAT the sketch saves.
  *
  * q_bloom_join's declared plan broadcasts its small build side, so at
  * test scale the sketch's win is only earlier row elimination. The
  * regime the operator exists for is the one where BOTH sides are too
  * big to broadcast and the semi join must shuffle: there every
  * non-matching big-side row shipped to the exchange is pure waste,
  * and the bloom probe at the scan cuts the big side's shuffle write
  * to ~(selectivity + fpp)× the bytes. This harness models that
  * regime on the sf0.1 tables — broadcast disabled, lineitem
  * sort-merge-semi-joined against a ~25% subset of orders — and
  * reports median-of-3 wall seconds plus TOTAL SHUFFLE WRITE BYTES
  * for the plain semi join vs [[Graft.bloomSemiJoin]]. Both variants
  * must agree on the row count (the sketch is result-preserving by
  * construction). Recorded numbers live in BASELINE.md ("Bloom
  * bench").
  */
object BloomBench {
  def main(args: Array[String]): Unit = {
    val cpus = Harness.cpus
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(cpus, Map("spark.sql.autoBroadcastJoinThreshold" -> "-1"))

    val lineitem = Tables.lineitem(spark, sfDir)
    // ~25% of orders — selective enough that the prefilter matters,
    // big enough that broadcasting it would be dishonest at scale
    val urgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")

    // action = total surviving rows (strong result-equality evidence,
    // unlike a group count which would match even on wrong row sets),
    // through the realistic downstream per-supplier aggregate
    def plain(): Long =
      lineitem.join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
        .agg(sum("n")).head().getLong(0)
    def bloomed(): Long =
      Graft.bloomSemiJoin(lineitem, col("l_orderkey"), urgent, col("o_orderkey"))
        .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
        .agg(sum("n")).head().getLong(0)

    plain() // warm codegen/page cache so run 1 isn't biased
    val med = Harness.median3(spark, Seq("plain_semi" -> plain _, "bloom_prefiltered" -> bloomed _))
    require(med.map(_._2.rows).distinct.size == 1,
      s"variants disagree on result rows: $med — the sketch must be result-preserving")
    val js = med.map { case (k, r) =>
      s""""$k":{"sec":${math.round(r.sec * 1000) / 1000.0},"shuffle_bytes":${r.shuffleBytes},"rows":${r.rows}}"""
    }.mkString("{", ",", "}")
    println(s"""{"bench":"bloom","cpus":$cpus,"sf":"$sfDir","results":$js}""")
    spark.stop()
  }
}
