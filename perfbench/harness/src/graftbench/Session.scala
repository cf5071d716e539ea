package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

object Session {
  /** The Tier-1 session shape: local[N] with N shuffle partitions, UTC,
    * no UI, and the bounded status-store retention graft's own harnesses
    * use. Spark's scratch space and warehouse stay under `out`. */
  def build(cpus: Int, out: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
