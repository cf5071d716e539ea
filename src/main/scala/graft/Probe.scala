package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Round-18 measurement harness (guide §1: measure first): times the
  * named queries `reps` times each with the Bench methodology
  * (`.count()` on the declared DataFrame) plus one noop-sink reading
  * (guide §1.4) so sink cost is separable, and optionally dumps
  * `.explain("formatted")` to a plans dir. Usage:
  *   sbt "runMain graft.Probe q_a q_b ... [--reps=N] [--plans=DIR/SUFFIX]"
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench. Prints one
  * line per (query, rep) and a per-query median summary. Job groups
  * are labelled per query (guide §1.5).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = args.collectFirst { case s if s.startsWith("--reps=") =>
      s.stripPrefix("--reps=").toInt }.getOrElse(3)
    val plansTo = args.collectFirst { case s if s.startsWith("--plans=") =>
      s.stripPrefix("--plans=") }
    val names = args.filterNot(_.startsWith("--")).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // bounded status-store retention — see Bench.scala
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // a throwing rep is still timed but named here and fails the
    // process, so a fast failure never reads as a fast query
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val summaries = names.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name (${SparkEntry.queries.size} known)"))
      plansTo.foreach { dest =>
        // DIR/SUFFIX, e.g. plans/r18/before → plans/r18/<q>_before.txt
        val (dir, suffix) = {
          val p = Paths.get(dest)
          (p.getParent, p.getFileName.toString)
        }
        Files.createDirectories(dir)
        val txt =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          catch { case e: Exception => s"ERROR: ${e.getMessage}" }
        Files.write(dir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
      }
      val times = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$name rep $i")
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case e: Throwable =>
          failed += name
          System.err.println(s"[probe] $name rep $i failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $name%-28s rep $i%2d  $dt%8.3f s")
        dt
      }
      spark.sparkContext.setJobDescription(s"$name noop")
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[probe] $name noop failed: ${e.getMessage}")
      }
      val noop = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name%-28s noop    $noop%8.3f s")
      val sorted = times.sorted
      (name, sorted(sorted.size / 2), times.head, noop)
    }
    println("[probe] ---- summary (median / first / noop) ----")
    summaries.foreach { case (n, med, first, noop) =>
      println(f"[probe] $n%-28s med $med%8.3f  first $first%8.3f  noop $noop%8.3f")
    }
    println(s"[probe] failed: ${failed.mkString("[", ", ", "]")}")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
