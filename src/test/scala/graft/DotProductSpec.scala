package graft

import graft.functions.{DotProduct, GraftFunctions}
import org.apache.spark.sql.functions._

/** Native DotProduct expression: correctness vs the higher-order-fn
  * form, null handling, codegen (no interpreted fallback), and runtime
  * SQL registration (§2.11/§4.3). */
class DotProductSpec extends SparkSpecBase {
  import spark.implicits._

  test("matches aggregate(zip_with(...)) bit-for-bit on real embeddings") {
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val hof = aggregate(zip_with($"v", $"v", (x, y) => x * y), lit(0.0), (a, v) => a + v)
    val both = e.select($"vec_id", hof.as("h"), GraftFunctions.dot($"v", $"v").as("n"))
    assert(both.filter($"h" =!= $"n").count() == 0) // exact double equality
  }

  test("known values, mismatched lengths, null propagation") {
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),   // 32
      (2L, Seq(1.0, 2.0), Seq(10.0, 10.0, 99.0))       // min-length: 30
    ).toDF("id", "a", "b")
    val got = df.select($"id", GraftFunctions.dot($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 32.0, 2L -> 30.0))
    val withNull = df.select(GraftFunctions.dot($"a", lit(null).cast("array<double>")).as("d"))
    assert(withNull.collect().forall(_.isNullAt(0)))
  }

  test("SQL registration: graft_dot callable from spark.sql") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(r == 11.0)
  }

  test("expression participates in whole-stage codegen (no fallback)") {
    val e = Tables.embeddings(spark, sf)
      .select(GraftFunctions.dot($"embedding".cast("array<double>"),
                                 $"embedding".cast("array<double>")).as("d"))
    val plan = e.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert("""\*\(\d+\) Project \[graft_dot""".r.findFirstIn(plan).isDefined,
           s"graft_dot not inside a codegen stage:\n$plan")
    // force execution through the generated code path
    assert(e.agg(min("d"), max("d")).collect().head.getDouble(0) > 0.99)
  }

  test("q_sim_search results unchanged after switching to the native expression") {
    // unit vectors: probe e1; known cosines
    val mk = (id: Long, v: Array[Float]) => (id, v)
    val e1 = Array(1f, 0f, 0f); val e2 = Array(0f, 1f, 0f)
    val mix = Array(math.sqrt(0.5).toFloat, math.sqrt(0.5).toFloat, 0f)
    import java.nio.file.Files
    val dir = Files.createTempDirectory("dps").toString
    Seq(mk(0L, e1), mk(1L, e2), mk(2L, mix), mk(3L, e1)).toDF("vec_id", "embedding")
      .withColumn("label", lit(1)).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = queries.TextOps.q_sim_search(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 0.707, 3L -> 1.0))
  }
}
