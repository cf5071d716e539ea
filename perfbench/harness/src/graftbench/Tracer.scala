package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.TempTables
import org.apache.spark.GraftbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, V2CommandExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

object Tracer {
  val QueryKey = "graftbench.query"
  val PassKey = "graftbench.pass"
  val PhaseKey = "graftbench.phase"

  /** The layer a job belongs to, from its stage call site, whether it
    * runs inside a SQL execution, and the query phase that started it. */
  def layerOf(site: String, inExecution: Boolean, phase: String): String =
    if (site.contains("TempTables.scala")) { if (inExecution) "TempTables.build" else "TempTables.reader" }
    else if (site.contains("Tables.scala")) "Tables"
    else if (phase == "construct") "queries"
    else if (phase == "sink") "sink"
    else "other"

  /** Children of an executed-plan node, looking through adaptive
    * wrappers and query stages; a reused exchange is not entered. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p.children ++ p.innerChildren.collect { case c: SparkPlan => c } ++ p.subqueries
  }

  def nodes(p: SparkPlan): Iterator[SparkPlan] = Iterator.single(p) ++ kids(p).iterator.flatMap(nodes)

  /** Operators that run outside whole-stage generated code, not
    * counting exchanges, adaptive wrappers and commands. */
  def interpreted(p: SparkPlan, inCodegen: Boolean = false): Int = {
    val wrapper = p match {
      case _: WholeStageCodegenExec | _: InputAdapter | _: Exchange | _: ReusedExchangeExec |
           _: QueryStageExec | _: AdaptiveSparkPlanExec | _: CommandResultExec |
           _: DataWritingCommandExec | _: ExecutedCommandExec | _: V2CommandExec => true
      case _ => false
    }
    val kidsInCodegen = p match {
      case _: WholeStageCodegenExec => true
      case _: InputAdapter => false
      case _ => inCodegen
    }
    (if (wrapper || inCodegen) 0 else 1) + kids(p).map(interpreted(_, kidsInCodegen)).sum
  }
}

/** Per (query, pass) counters; the traced run's ledger line. */
final class Counters {
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) = c(k) + v
}

/** A `SparkListener` plus a `QueryExecutionListener` that split each
  * query's cost by layer. Jobs, stages and tasks are attributed through
  * the local properties the runner sets; query executions through the
  * span open when the listener bus delivers them (the span drains the
  * bus at each phase boundary, so nothing spills into the next one). */
final class Tracer(cpus: Int) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val lock = new Object
  private val records = mutable.LinkedHashMap.empty[(String, Int), Counters]
  private val jobKey = mutable.HashMap.empty[Int, ((String, Int), String, Long)]
  private val stageKey = mutable.HashMap.empty[Int, ((String, Int), String)]
  private val stageMaxTaskMs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  @volatile private var current: ((String, Int), String) = null
  private var callbackNs = 0L
  private var drainNs = 0L

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def drain(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    GraftbenchBus.drain(spark.sparkContext)
    drainNs += System.nanoTime() - t0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Starts the measured window: tracing overhead counts from here. */
  def startWindow(): Unit = { drainNs = 0L; callbackNs = 0L }

  private def timed[A](body: => A): A = lock.synchronized {
    val t0 = System.nanoTime()
    try body finally callbackNs += System.nanoTime() - t0
  }

  private def rec(key: (String, Int)): Counters = records.getOrElseUpdate(key, new Counters)

  private def keyOf(props: java.util.Properties): Option[(String, Int)] =
    Option(props).flatMap(p => Option(p.getProperty(QueryKey)).map(q => q -> p.getProperty(PassKey, "-1").toInt))

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    keyOf(e.properties).foreach { key =>
      val phase = Option(e.properties.getProperty(PhaseKey)).getOrElse("")
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
      val layer = layerOf(site, e.properties.getProperty("spark.sql.execution.id") != null, phase)
      jobKey(e.jobId) = (key, layer, e.time)
      e.stageIds.foreach(s => stageKey(s) = key -> phase)
      val r = rec(key)
      r.add("jobs", 1)
      r.add(s"jobs.$layer", 1)
      if (phase == "construct") r.add("jobs.construct", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobKey.remove(e.jobId).foreach { case (key, layer, start) =>
      rec(key).add(s"job_s.$layer", (e.time - start) / 1000.0)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    stageKey.get(e.stageId).foreach { case (key, phase) =>
      val r = rec(key)
      r.add("tasks", 1)
      if (e.reason != org.apache.spark.Success) r.add("failed_tasks", 1)
      stageMaxTaskMs(e.stageId) = math.max(stageMaxTaskMs(e.stageId), e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        r.add("run_s", m.executorRunTime / 1000.0)
        r.add("cpu_s", m.executorCpuTime / 1e9)
        r.add("gc_s", m.jvmGCTime / 1000.0)
        r.add("input_b", m.inputMetrics.bytesRead.toDouble)
        r.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        r.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        r.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
        r.add("spill_b", m.diskBytesSpilled.toDouble)
        if (phase == "sink") r.add("output_b", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    stageKey.remove(info.stageId).foreach { case (key, _) =>
      val r = rec(key)
      r.add("stages", 1)
      val maxTask = stageMaxTaskMs.remove(info.stageId).getOrElse(0L)
      for (s <- info.submissionTime; c <- info.completionTime)
        r.add("stage_gap_s", math.max(0L, c - s - maxTask) / 1000.0)
    }
  }

  private def onExecution(qe: QueryExecution): Unit = timed {
    val cur = current
    if (cur != null) {
      val (key, phase) = cur
      val r = rec(key)
      r.add("executions", 1)
      val phases = qe.tracker.phases
      val opt = phases.get("optimization").map(_.durationMs).getOrElse(0L) / 1000.0
      val plan = phases.get("planning").map(_.durationMs).getOrElse(0L) / 1000.0
      r.add("optimize_s", opt)
      r.add("plan_s", plan)
      if (phase == "sink") r.add("sink_plan_s", opt + plan)
      val executed = qe.executedPlan
      nodes(executed).foreach {
        case _: Exchange => r.add("exchanges", 1)
        case _: ReusedExchangeExec => r.add("reused_exchanges", 1)
        case _: FileSourceScanExec | _: BatchScanExec => r.add("scans", 1)
        case _: BroadcastNestedLoopJoinExec => r.add("bnlj", 1)
        case _ =>
      }
      r.add("codegen_fallback", interpreted(executed))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onExecution(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onExecution(qe)

  /** The runner's handle on one query execution. */
  final class Span(spark: SparkSession, q: String, pass: Int) {
    private val key = q -> pass
    private val builds0 = TempTables.buildCosts
    private val reads0 = TempTables.firstReadCosts
    private val gc0 = gcMs()
    current = key -> "construct"

    def constructed(ns: Long): Unit = {
      drain(spark)
      lock.synchronized(rec(key).add("construct_s", ns / 1e9))
      current = key -> "sink"
    }
    def sunk(ns: Long): Unit = lock.synchronized(rec(key).add("sink_s", ns / 1e9))
    def failed(): Unit = lock.synchronized(rec(key).add("failed", 1))
    def close(): Unit = {
      drain(spark)
      current = null
      val b1 = TempTables.buildCosts
      val r1 = TempTables.firstReadCosts
      lock.synchronized {
        val r = rec(key)
        b1.foreach { case (k, (s, bytes, n)) =>
          val (s0, bytes0, n0) = builds0.getOrElse(k, (0.0, 0L, 0L))
          r.add("tt_builds", (n - n0).toDouble)
          r.add("tt_build_s", s - s0)
          r.add("tt_build_b", (bytes - bytes0).toDouble)
        }
        r1.foreach { case (k, (s, _)) =>
          val s0 = reads0.get(k).map(_._1).getOrElse(0.0)
          if (s >= 0 && s0 >= 0) r.add("tt_first_read_s", s - s0)
        }
        r.add("driver_gc_s", (gcMs() - gc0) / 1000.0)
      }
    }
  }

  /** Per-pass layer metrics over the timed passes (pass >= 0). */
  def layerMetrics(passes: Int, wallS: Double): Seq[(String, Double)] = lock.synchronized {
    val t = new Counters
    records.foreach { case ((_, pass), r) => if (pass >= 0) r.c.foreach { case (k, v) => t.add(k, v) } }
    val n = math.max(passes, 1).toDouble
    def per(k: String) = t.c(k) / n
    val mb = 1024.0 * 1024.0
    Seq(
      "queries.construct_s" -> (t.c("construct_s") - t.c("tt_build_s") - t.c("tt_first_read_s")) / n,
      "queries.construct_jobs" -> per("jobs.construct"),
      "Tables.schema_jobs" -> per("jobs.Tables"),
      "Tables.schema_s" -> per("job_s.Tables"),
      "TempTables.builds" -> per("tt_builds"),
      "TempTables.build_s" -> per("tt_build_s"),
      "TempTables.build_mb" -> per("tt_build_b") / mb,
      "TempTables.reader_jobs" -> per("jobs.TempTables.reader"),
      "TempTables.first_read_s" -> per("tt_first_read_s"),
      "planner.executions" -> per("executions"),
      "planner.optimize_s" -> per("optimize_s"),
      "planner.plan_s" -> per("plan_s"),
      "planner.exchanges" -> per("exchanges"),
      "planner.reused_exchanges" -> per("reused_exchanges"),
      "planner.scans" -> per("scans"),
      "planner.bnlj" -> per("bnlj"),
      "planner.codegen_fallback" -> per("codegen_fallback"),
      "scheduler.jobs" -> per("jobs"),
      "scheduler.stages" -> per("stages"),
      "scheduler.tasks" -> per("tasks"),
      "scheduler.tasks_per_stage" -> t.c("tasks") / math.max(t.c("stages"), 1.0),
      "scheduler.stage_gap_s" -> per("stage_gap_s"),
      "scheduler.failed_tasks" -> per("failed_tasks"),
      "executor.run_s" -> per("run_s"),
      "executor.cpu_s" -> per("cpu_s"),
      "executor.gc_s" -> per("gc_s"),
      "executor.core_busy" -> t.c("run_s") / math.max(wallS * cpus, 1e-9),
      "scan.input_mb" -> per("input_b") / mb,
      "shuffle.write_mb" -> per("shuffle_write_b") / mb,
      "shuffle.read_mb" -> per("shuffle_read_b") / mb,
      "shuffle.fetch_wait_s" -> per("fetch_wait_s"),
      "shuffle.spill_mb" -> per("spill_b") / mb,
      "sink.write_s" -> (t.c("sink_s") - t.c("sink_plan_s")) / n,
      "sink.output_mb" -> per("output_b") / mb,
      "driver.gc_s" -> per("driver_gc_s"),
      "trace.overhead_s" -> drainNs / 1e9 / n,
      "trace.listener_s" -> callbackNs / 1e9 / n,
    )
  }

  /** One JSON line per query execution of the timed passes. */
  def writeLedger(path: Path): Unit = lock.synchronized {
    val lines = records.collect { case ((q, pass), r) if pass >= 0 =>
      Json.obj(Seq("query" -> Json.str(q), "pass" -> pass.toString) ++
        r.c.toSeq.map { case (k, v) => k -> Json.num(v) })
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
