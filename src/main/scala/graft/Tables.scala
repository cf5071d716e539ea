package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.concurrent.TrieMap

/** Readers for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every engine query reads exclusively through here so per-table read
  * quirks live in exactly one place. Timestamp note: all time columns
  * (including `events.ts`, regenerated 2026-08-13 from its earlier
  * TIMESTAMP(NANOS) encoding) are physical parquet `timestamp[us]`
  * without UTC adjustment, which Spark 4 reads as `TimestampNTZType`.
  * Event-time arithmetic runs on epoch-microsecond longs via [[tsUs]]
  * so every bucket/lag/frame computation is exact integer math shared
  * with DuckDB's `epoch_us(ts)` (SURVEY.md §7.4 rule T).
  *
  * Infer-once rule: [[table]] infers a table's parquet schema (one
  * Spark job over the footers) once per (session, path, input-file
  * fingerprint) and declares it on every later read, so a query pays
  * no inference job for a table its session already read. The
  * fingerprint is [[inputFiles]] of the read — (path, size, mtime) of
  * every file — taken from the listing Spark's file index already made
  * for that read, so checking it costs no filesystem call of its own.
  * A file rewritten in place changes the fingerprint and is inferred
  * again, so a renamed, retyped or added column is never read against
  * an older schema. Only schemas are cached, never DataFrames: every
  * call returns a fresh relation with fresh exprIds, so two reads of
  * one table can be self-joined. Entries of stopped sessions are
  * evicted on access (the [[TempTables]] discipline).
  *
  * Scale note: each table is a single parquet file at test scale, but
  * nothing here assumes that — `spark.read.parquet(dir)` works the same
  * on a 10k-file 100 TB dataset; partitioning/pushdown decisions are
  * taken per-query, not here.
  */
object Tables {

  private final case class Read(files: Seq[(String, Long, Long)], schema: StructType)

  private val schemas = TrieMap.empty[(SparkSession, String), Read]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    schemas.keys.filter(_._1.sparkContext.isStopped).foreach(schemas.remove)
    val path = s"$sfDir/$name.parquet"
    val hit = schemas.get((spark, path)).flatMap { r =>
      val df = spark.read.schema(r.schema).parquet(path)
      if (inputFiles(df) == r.files) Some(df) else None
    }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      schemas.put((spark, path), Read(inputFiles(df), df.schema))
      df
    }
  }

  /** The input-contents fingerprint of `df`: (path, size, mtime) of
    * every file each file-based relation in its analyzed plan lists,
    * sorted. Plan equality compares a file index by its ROOT paths
    * only, so this is what tells a directory rewritten in place from
    * its older self. It reads the indexes' existing listings and makes
    * no filesystem call. Shared by [[table]]'s schema cache,
    * [[TempTables.shared]]'s key and the driver-side model caches. */
  private[graft] def inputFiles(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRelation => r.relation }
      .flatMap {
        case fs: HadoopFsRelation => fs.location match {
          case idx: PartitioningAwareFileIndex =>
            idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          case idx => idx.inputFiles.toSeq.map(p => (p, -1L, -1L))
        }
        case _ => Nil
      }
      .sorted

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** events.ts arrives as TIMESTAMP_NTZ at microsecond precision
    * (see scaladoc above). */
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")

  /** SQL fragment turning the TIMESTAMP_NTZ `ts` into exact
    * epoch-microseconds. The NTZ→TIMESTAMP cast interprets the wall
    * time in the session timezone, which the harness pins to UTC
    * (build.sbt `-Dspark.sql.session.timeZone=UTC`, Verify/Bench/spec
    * session builders) — so this equals DuckDB's `epoch_us(ts)`
    * exactly, with no float step anywhere (SURVEY.md §7.4 rule T). */
  val tsUsSql: String = "unix_micros(cast(ts as timestamp))"

  /** Epoch-microseconds column from `ts` — see [[tsUsSql]]. */
  val tsUs: Column = expr(tsUsSql)
}
