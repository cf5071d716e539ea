package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/preflight.py). Prints
  * the queries that threw and exits non-zero when there are any. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    val failed = dump(spark, sfDir, outDir)
    println(s"[verify] ${SparkEntry.queries.size - failed.size}/${SparkEntry.queries.size} " +
      s"written; failed: ${failed.mkString("[", ", ", "]")}")
    spark.stop()
    sys.exit(Harness.exitCode(failed))
  }

  /** The dump body, callable from tests without stopping the session.
    * Returns the names of the queries that threw (their output dirs
    * are missing). */
  def dump(spark: SparkSession, sfDir: String, outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val run = new Harness.Runner(spark, "verify")
    SparkEntry.queries.foreach { case (name, fn) =>
      run.time(name)(fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    run.failed.toSeq
  }
}
