package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

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
    val reps = args.collectFirst { case s if s.startsWith("--reps=") =>
      s.stripPrefix("--reps=").toInt }.getOrElse(3)
    val plansTo = args.collectFirst { case s if s.startsWith("--plans=") =>
      s.stripPrefix("--plans=") }
    val names = args.filterNot(_.startsWith("--")).toSeq
    val spark = Harness.session()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val run = new Harness.Runner(spark, "probe")
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
        val dt = run.time(name, s"rep $i")(fn(spark, sfDir).count())
        println(f"[probe] $name%-28s rep $i%2d  $dt%8.3f s")
        dt
      }
      val noop = run.time(name, "noop")(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
      println(f"[probe] $name%-28s noop    $noop%8.3f s")
      val sorted = times.sorted
      (name, sorted(sorted.size / 2), times.head, noop)
    }
    println("[probe] ---- summary (median / first / noop) ----")
    summaries.foreach { case (n, med, first, noop) =>
      println(f"[probe] $n%-28s med $med%8.3f  first $first%8.3f  noop $noop%8.3f")
    }
    println(s"[probe] failed: ${run.failed.mkString("[", ", ", "]")}")
    spark.stop()
    sys.exit(Harness.exitCode(run.failed))
  }
}
