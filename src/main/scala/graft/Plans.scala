package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-archive main: regenerates PLANS.md with the physical plan of
  * every declared query at the given sfDir (defaults to sf0.1 — the
  * bench scale). Usage:
  *   sbt "runMain graft.Plans [sfDir] [outFile]"
  * The archive is the plan-review artifact: `*(n)` prefixes mark
  * whole-stage-codegen stages; PushedFilters/ReadSchema on the scans
  * show pushdown + pruning; Exchange nodes are the shuffles. The
  * reviewed exceptions to the scale rules (nested-loop joins, global
  * windows) are PlanGuardSpec's allowlists.
  */
object Plans {
  /** A TempTables directory as a scan prints it: its name is random, so
    * the archive masks it to keep two regenerations of one commit equal. */
  private val tempTablePath = """file:\S*?graft_tt_\d+""".r

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("PLANS.md")
    // four cores, as the test session: the shuffle partition count in
    // every Exchange follows the core count, and the archive must not
    // follow the machine that regenerates it
    val spark = Harness.session(cpus = 4)
    val sb = new StringBuilder
    sb.append(s"# PLANS — physical plans of all ${SparkEntry.queries.size} queries at $sfDir\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"` (executedPlan, AQE initial). ")
    sb.append("`*(n)` prefixes = whole-stage-codegen stages.\n\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try tempTablePath.replaceAllIn(
          fn(spark, sfDir).queryExecution.executedPlan.toString, "<graft_tt>")
        catch { case e: Exception => s"ERROR: ${e.getMessage}" }
      sb.append(s"\n## $name\n\n```\n").append(plan.trim).append("\n```\n")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plans] wrote ${SparkEntry.queries.size} plans to $out")
    spark.stop()
  }
}
