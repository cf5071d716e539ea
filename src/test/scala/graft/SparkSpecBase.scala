package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession for all suites (one forked test JVM, so
  * one session serves every spec): the harness session pinned to
  * local[4], whatever SPARK_GRAFT_CPUS says. */
object SparkTestSession {
  lazy val spark: SparkSession = Harness.session(cpus = 4)
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf: String = SparkTestSession.sf0001

  def planString(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Spark jobs the calling thread starts in `body`. The listener
    * counts jobs of this thread's job group; a marker job in a second
    * group, run after `body`, shows that the listener bus has
    * delivered every earlier event. */
  def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val delivered = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group`  => jobs.incrementAndGet()
          case `marker` => delivered.countDown()
          case _        =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      body
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(delivered.await(60, TimeUnit.SECONDS), "listener bus did not deliver the marker job")
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Collect to a seq of comparable row-seqs (null-safe). */
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}
