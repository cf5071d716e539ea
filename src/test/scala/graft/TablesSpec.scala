package graft

import graft.queries.PipelineOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The input reader's infer-once schema cache and the input-file
  * fingerprint it shares with the driver-side model caches: a repeat
  * read runs no Spark job, a rewritten file is inferred again, every
  * read is a fresh relation, and each session infers for itself. */
class TablesSpec extends SparkSpecBase {

  /** A private copy of one sf table, so its reads and rewrites touch
    * no other spec's cache entry. */
  private def copyOf(name: String): String = {
    val dir = Files.createTempDirectory("tables_spec").toString
    Files.copy(Paths.get(s"$sf/$name.parquet"), Paths.get(s"$dir/$name.parquet"))
    dir
  }

  test("a second read of the same file runs no Spark job and declares the same schema") {
    val dir = copyOf("orders")
    var first, second: DataFrame = null
    assert(jobsDuring(spark) { first = Tables.table(spark, dir, "orders") } == 1,
      "the first read in a session infers its schema with one job")
    assert(jobsDuring(spark) { second = Tables.table(spark, dir, "orders") } == 0,
      "a repeat read must declare the cached schema, not infer again")
    assert(second.schema == first.schema)
    assert(second.schema == spark.read.parquet(s"$dir/orders.parquet").schema)
    assert(rows(second.orderBy("o_orderkey")) == rows(first.orderBy("o_orderkey")))
  }

  test("a file rewritten in place is inferred again and shows an added column") {
    val dir = Files.createTempDirectory("tables_spec_rewrite").toString
    val path = s"$dir/t.parquet"
    spark.range(5).toDF("id").write.mode("overwrite").parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id"))
    assert(jobsDuring(spark)(Tables.table(spark, dir, "t")) == 0)
    spark.range(7).toDF("id").withColumn("added", col("id") * 10)
      .write.mode("overwrite").parquet(path)
    var reread: DataFrame = null
    assert(jobsDuring(spark) { reread = Tables.table(spark, dir, "t") } == 1,
      "a changed fingerprint must infer again")
    assert(reread.columns.toSeq == Seq("id", "added"))
    assert(rows(reread.orderBy("id")) == (0L until 7L).map(i => Seq(i, i * 10)))
    // the new schema replaced the old entry: the next read is a hit
    assert(jobsDuring(spark)(Tables.table(spark, dir, "t")) == 0)
  }

  test("two reads of one table are separate relations: a self-join resolves and is unchanged") {
    val a = Tables.orders(spark, sf)
    val b = Tables.orders(spark, sf)
    def ids(df: DataFrame) = df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty, "a cached read must carry fresh exprIds")
    def selfJoin(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, l("o_custkey") === r("o_custkey") && l("o_orderkey") < r("o_orderkey"))
        .select(l("o_orderkey").as("a"), r("o_orderkey").as("b"))
        .orderBy("a", "b")
    val joined = rows(selfJoin(a, b))
    assert(joined.nonEmpty)
    // the inferring read path, as every read was before the cache
    val plainA = spark.read.parquet(s"$sf/orders.parquet")
    val plainB = spark.read.parquet(s"$sf/orders.parquet")
    assert(joined == rows(selfJoin(plainA, plainB)))
  }

  test("a new session infers again; each session keeps its own entry") {
    val dir = copyOf("nation")
    Tables.table(spark, dir, "nation")
    val other = spark.newSession()
    assert(jobsDuring(other)(Tables.table(other, dir, "nation")) == 1,
      "another session must not reuse this session's schema")
    assert(jobsDuring(other)(Tables.table(other, dir, "nation")) == 0)
    assert(jobsDuring(spark)(Tables.table(spark, dir, "nation")) == 0)
  }

  test("driver-side model caches key on the corpus files: a rewritten corpus retrains") {
    val dir = copyOf("documents")
    val first = PipelineOps.lrModel(spark, dir)
    assert(PipelineOps.lrModel(spark, dir) eq first, "an unchanged corpus must reuse its model")
    // rewrite in place: same path, different files
    val docs = spark.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") % 2 === 0)
      .localCheckpoint()
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val retrained = PipelineOps.lrModel(spark, dir)
    assert(retrained ne first, "a model trained on the older corpus was served after a rewrite")
    assert(PipelineOps.lrModel(spark, dir) eq retrained)
  }
}
