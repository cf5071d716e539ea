package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** The one session config and the two timing loops behind graft's
  * mains (Bench, Probe, Verify, Plans, BloomBench, SkewBench) and the
  * test session. */
object Harness {

  /** Cores of the local master: `SPARK_GRAFT_CPUS`, else the JVM's
    * available processors. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI, and
    * a bounded status store: the AppStatusListener runs even with the
    * UI off and by default keeps 1000 jobs/stages/executions and 100k
    * tasks, which after 213 sequential queries is hundreds of MB of
    * driver heap and GC drag on the tail of a run (Bench total about
    * 199 → 189 s on an A/B at local[32]). `overrides` replace single
    * keys where an experiment needs another value. */
  def settings(cpus: Int, overrides: Map[String, String] = Map.empty): Map[String, String] =
    Map("spark.master" -> s"local[$cpus]",
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false",
        "spark.ui.retainedJobs" -> "100",
        "spark.ui.retainedStages" -> "200",
        "spark.ui.retainedTasks" -> "5000",
        "spark.sql.ui.retainedExecutions" -> "20") ++ overrides

  /** The session of [[settings]], logging at WARN. */
  def session(cpus: Int = Harness.cpus, overrides: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder().config(settings(cpus, overrides)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Times named calls, each under a job description of its label. A
    * call that throws is still timed (its wall is part of the run), but
    * its name joins `failed`, once and in run order, and its message
    * goes to stderr: a fast failure must never pass for a fast query. */
  final class Runner(spark: SparkSession, tag: String) {
    val failed = mutable.LinkedHashSet.empty[String]

    def time(name: String, step: String = "")(call: => Any): Double = {
      val label = if (step.isEmpty) name else s"$name $step"
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      try call catch { case e: Throwable =>
        failed += name
        System.err.println(s"[$tag] $label failed: ${e.getMessage}")
      } finally spark.sparkContext.setJobDescription(null)
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** A timing main's exit code: non-zero when any query threw. */
  def exitCode(failed: Iterable[String]): Int = if (failed.nonEmpty) 1 else 0

  /** One variant's median-of-3 reading: wall seconds, longest-task
    * seconds, shuffle-write bytes, and the rows its first run returned. */
  final case class Reading(sec: Double, maxTaskSec: Double, shuffleBytes: Long, rows: Long)

  /** Runs each labelled variant three times, interleaved round-robin (a
    * full round of all variants, three times over), so JVM, page-cache
    * and GC drift lands on every variant alike instead of on whichever
    * ran last. The longest task is the straggler metric: local wall
    * time hides a serialized hot task, while on a cluster the stage
    * clock IS its slowest task. */
  def median3(spark: SparkSession, variants: Seq[(String, () => Long)]): Seq[(String, Reading)] = {
    val listener = new TaskListener
    spark.sparkContext.addSparkListener(listener)
    val runs =
      try (1 to 3).flatMap(_ => variants.map { case (label, f) =>
        listener.maxMillis = 0L
        listener.shuffleBytes = 0L
        val t0 = System.nanoTime()
        val rows = f()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // let straggler TaskEnd events drain into the listener
        label -> Reading(sec, listener.maxMillis / 1e3, listener.shuffleBytes, rows)
      })
      finally spark.sparkContext.removeSparkListener(listener)
    def median[A: Ordering](xs: Seq[A]): A = xs.sorted.apply(1)
    variants.map { case (label, _) =>
      val mine = runs.collect { case (`label`, r) => r }
      label -> Reading(median(mine.map(_.sec)), median(mine.map(_.maxTaskSec)),
                       median(mine.map(_.shuffleBytes)), mine.head.rows)
    }
  }

  /** Longest task and summed shuffle-write bytes since the last reset
    * (the listener bus delivers events on one thread). */
  private final class TaskListener extends SparkListener {
    @volatile var maxMillis = 0L
    @volatile var shuffleBytes = 0L
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      if (te.taskInfo != null) maxMillis = math.max(maxMillis, te.taskInfo.duration)
      if (te.taskMetrics != null) shuffleBytes += te.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
  }
}
