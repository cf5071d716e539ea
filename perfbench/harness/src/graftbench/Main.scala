package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.SparkEntry
import graft.queries.{HashOps, MediaOps, PipelineOps, TextOps}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM. run.py builds this, launches it, and
  * checks the outputs it leaves in `--out/check`.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --out DIR --cpus N
  *
  * Writes `--out/result.json` with the raw timings (and, traced, the
  * per-layer totals) and, traced, `--out/ledger.jsonl` with one line
  * per query execution.
  */
object Main {

  /** A workload: which queries, and whether the run is warm (one
    * long-lived session, an untimed check pass and warm-up passes, then
    * timed noop-sink passes in seeded order) or cold (one pass in
    * declaration order in a fresh JVM, every result written as parquet).
    * Both are small samples of their families, so a run, set-up
    * included, fits in about a minute. */
  final case class Workload(queries: Seq[String], warm: Boolean)

  private def module(obj: AnyRef): Set[String] =
    obj.getClass.getMethods.iterator.map(_.getName).filter(_.startsWith("q_")).toSet

  def workload(name: String): Workload = name match {
    // The first query of the scan, join, aggregation, sort, window and
    // event-window sections. Their generated classes fit Spark's codegen
    // cache, so a warm pass compiles none (see perfbench/README.md).
    case "analytics" => Workload(Seq("q_scan_project", "q_join_broadcast", "q_agg_pricing",
      "q_topk_global", "q_window_rank", "q_tumbling_window"), warm = true)
    // Every 18th text, pipeline, hash and media query in declaration order.
    case "pipeline-cold" =>
      val family = module(TextOps) ++ module(PipelineOps) ++ module(HashOps) ++ module(MediaOps)
      val declared = SparkEntry.queries.keys.toSeq.filter(family)
      Workload(declared.indices.by(18).map(declared), warm = false)
    case other => sys.error(s"unknown workload: $other")
  }

  /** Warm-up runs at least [[MinWarmupPasses]] noop passes and stops
    * once a pass is no more than 5 % faster, in wall and in process CPU,
    * than the one before it, or after [[MaxWarmupPasses]]. */
  val SteadyRatio = 0.95
  val MinWarmupPasses = 5
  val MaxWarmupPasses = 6

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val data = opts("data")
    val out = Paths.get(opts("out"))
    val cpus = opts("cpus").toInt
    Files.createDirectories(out)

    // Set-up: JVM start to a session that has run the entry query.
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val spark = Session.build(cpus, out)
    SparkEntry.queries("q_agg_pricing")(spark, data).write.format("noop").mode("overwrite").save()
    val setupS = (System.nanoTime() - jvmStartNs) / 1e9

    val tracer = if (traced) Some(new Tracer(cpus)) else None
    tracer.foreach(_.register(spark))

    val mx = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val runner = new Runner(spark, data, out.resolve("check"), tracer)
    val warmupWalls = mutable.ArrayBuffer.empty[Double]
    val timed = mutable.ArrayBuffer.empty[PassResult]

    if (wl.warm) {
      // The check pass writes every output and doubles as the first
      // warm-up pass; it is never timed.
      warmupWalls += runner.pass(wl.queries, "check", -1).wall
      var (wall0, cpu0) = (Double.MaxValue, Double.MaxValue)
      var steady = false
      var w = 0
      while (w < MinWarmupPasses || (!steady && w < MaxWarmupPasses)) {
        val order = new Random(seed * 1000 + w).shuffle(wl.queries)
        val c = mx.getProcessCpuTime
        val wall = runner.pass(order, "noop", -1).wall
        val cpu = (mx.getProcessCpuTime - c) / 1e9
        steady = wall >= SteadyRatio * wall0 && cpu >= SteadyRatio * cpu0
        wall0 = wall; cpu0 = cpu
        warmupWalls += wall
        w += 1
      }
      tracer.foreach(_.startWindow())
      val windowStart = System.nanoTime()
      var p = 0
      while (p == 0 || (System.nanoTime() - windowStart) / 1e9 < seconds) {
        val order = new Random(seed * 1000 + 100 + p).shuffle(wl.queries)
        val c = mx.getProcessCpuTime
        val r = runner.pass(order, "noop", p)
        timed += r.copy(cpuS = (mx.getProcessCpuTime - c) / 1e9)
        p += 1
      }
    } else {
      tracer.foreach(_.startWindow())
      val c = mx.getProcessCpuTime
      val r = runner.pass(wl.queries, "check", 0)
      timed += r.copy(cpuS = (mx.getProcessCpuTime - c) / 1e9)
    }
    tracer.foreach(_.drain(spark))
    val peakRssMb = Proc.peakRssMb()

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""workload":${Json.str(opts("workload"))},"cpus":$cpus,"warm":${wl.warm},"""
    json ++= s""""queries":${Json.arr(wl.queries.map(Json.str))},"""
    json ++= s""""setup_s":${Json.num(setupS)},"""
    json ++= s""""warmup_pass_s":${Json.arr(warmupWalls.map(Json.num))},"""
    json ++= s""""pass_s":${Json.arr(timed.map(r => Json.num(r.wall)))},"""
    json ++= s""""pass_cpu_s":${Json.arr(timed.map(r => Json.num(r.cpuS)))},"""
    json ++= s""""query_s":${Json.obj(timed.zipWithIndex.flatMap { case (r, p) => r.walls.map { case (q, s) => s"$q#$p" -> Json.num(s) } })},"""
    json ++= s""""attempted":${runner.attempted},"failed_executions":${runner.failedExecutions},"""
    json ++= s""""failed":${Json.obj(runner.failures.toSeq.map { case (k, v) => k -> Json.str(v) })},"""
    json ++= s""""peak_rss_mb":${Json.num(peakRssMb)}"""
    tracer.foreach { t =>
      json ++= s""","layers":${Json.obj(t.layerMetrics(timed.size, timed.map(_.wall).sum).map { case (k, v) => k -> Json.num(v) })}"""
      t.writeLedger(out.resolve("ledger.jsonl"))
    }
    json ++= "}"
    Files.write(out.resolve("result.json"), json.toString.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

final case class PassResult(wall: Double, walls: Map[String, Double], cpuS: Double = 0.0)

/** Runs queries through the public entry points into a sink. */
final class Runner(spark: SparkSession, data: String, checkDir: Path, tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  val failures = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failedExecutions = 0

  /** One pass over `order`. Sink "check" writes each result as one
    * parquet file under `checkDir/<query>` (the layout the oracle
    * compare reads); "noop" computes every column of every row and
    * keeps nothing. `pass` < 0 marks an untimed pass. */
  def pass(order: Seq[String], sink: String, pass: Int): PassResult = {
    val walls = mutable.LinkedHashMap.empty[String, Double]
    val jit0 = Proc.jitMs()
    val cg0 = Proc.codegenCompiles()
    val t0 = System.nanoTime()
    order.foreach { q =>
      sc.setJobDescription(q)
      sc.setLocalProperty(Tracer.QueryKey, q)
      sc.setLocalProperty(Tracer.PassKey, pass.toString)
      val span = tracer.map(t => new t.Span(spark, q, pass))
      val q0 = System.nanoTime()
      try {
        sc.setLocalProperty(Tracer.PhaseKey, "construct")
        val df = SparkEntry.queries(q)(spark, data)
        val q1 = System.nanoTime()
        span.foreach(_.constructed(q1 - q0))
        sc.setLocalProperty(Tracer.PhaseKey, "sink")
        sink match {
          case "noop"  => df.write.format("noop").mode("overwrite").save()
          case "check" => df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(q).toString)
        }
        val q2 = System.nanoTime()
        span.foreach(_.sunk(q2 - q1))
        walls(q) = (q2 - q0) / 1e9
      } catch {
        case e: Throwable =>
          span.foreach(_.failed())
          failedExecutions += 1
          failures.getOrElseUpdate(q, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally {
        sc.setLocalProperty(Tracer.PhaseKey, null)
        span.foreach(_.close())
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    sc.setJobDescription(null)
    attempted += order.size
    println(f"[graftbench] $sink pass $pass: ${order.size} queries in $wall%.3f s, " +
      s"JIT ${Proc.jitMs() - jit0} ms, ${Proc.codegenCompiles() - cg0} classes generated")
    PassResult(wall, walls.toMap)
  }
}

object Proc {
  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes Spark's code generator has compiled so far (its cache misses). */
  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status"))(
      _.getLines().find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Json {
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
