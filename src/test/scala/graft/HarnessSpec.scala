package graft

import scala.collection.mutable

/** The shared session settings and the two timing loops behind graft's
  * mains: the per-query runner's failure contract and the interleaved
  * median-of-3 A/B runner's task metrics. */
class HarnessSpec extends SparkSpecBase {

  test("session settings: UTC, one shuffle partition per core, bounded status store, no UI") {
    val base = Harness.settings(4)
    assert(base == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "200",
      "spark.ui.retainedTasks" -> "5000",
      "spark.sql.ui.retainedExecutions" -> "20"))
    // an experiment override replaces its one key and keeps the rest
    assert(Harness.settings(4, Map("spark.sql.shuffle.partitions" -> "256")) ==
      base.updated("spark.sql.shuffle.partitions", "256"))
    // the test session is built from exactly these settings
    val conf = spark.sparkContext.getConf
    base.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("runner: a throwing query is still timed, named once in run order, and fails the exit code") {
    val run = new Harness.Runner(spark, "harness-spec")
    val descriptions = mutable.Buffer.empty[String]
    def query(fail: Boolean): Long = {
      descriptions += spark.sparkContext.getLocalProperty("spark.job.description")
      Thread.sleep(100)
      if (fail) throw new IllegalStateException("injected failure")
      spark.range(10).count()
    }
    assert(run.time("q_ok")(query(fail = false)) >= 0.1)
    assert(Harness.exitCode(run.failed) == 0)
    val secs = Seq(run.time("q_late")(query(fail = true)),
                   run.time("q_early")(query(fail = true)),
                   run.time("q_late", "rep 2")(query(fail = true)),
                   run.time("q_ok")(query(fail = false)))
    assert(secs.forall(_ >= 0.1), s"every call is timed, throwing ones too: $secs")
    assert(run.failed.toSeq == Seq("q_late", "q_early"))
    assert(Harness.exitCode(run.failed) == 1)
    assert(descriptions == Seq("q_ok", "q_late", "q_early", "q_late rep 2", "q_ok"))
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
  }

  test("median3: per-variant rows, shuffle-write bytes and longest task, in variant order") {
    val sc = spark.sparkContext
    val readings = Harness.median3(spark, Seq(
      "narrow" -> (() => sc.parallelize(1 to 1000, 4).count()),
      "shuffled" -> (() => sc.parallelize(1 to 1000, 4).map(i => (i % 10, 1))
        .reduceByKey(_ + _).count())))
    assert(readings.map(_._1) == Seq("narrow", "shuffled"))
    val Seq(narrow, shuffled) = readings.map(_._2)
    assert(narrow.rows == 1000 && shuffled.rows == 10)
    assert(narrow.shuffleBytes == 0 && shuffled.shuffleBytes > 0)
    assert(Seq(narrow, shuffled).forall(r => r.sec > 0 && r.maxTaskSec >= 0))
  }
}
