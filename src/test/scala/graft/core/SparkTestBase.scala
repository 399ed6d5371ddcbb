package graft.core

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.BusFlush
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.WorkMetricsListener

/** Shared local session for specs, and cost probes over it: the jobs,
  * tasks and compiled classes one action costs.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // keep session for sibling suites

  /** Tasks `action` runs. */
  def tasksOf(action: => Unit): Long = {
    val wm = WorkMetricsListener.install(spark)
    try {
      val before = wm.snapshotAfterDrain(spark)
      action
      (wm.snapshotAfterDrain(spark) - before).tasks
    } finally spark.sparkContext.removeSparkListener(wm)
  }

  /** Jobs `action` starts. */
  def jobsOf(action: => Unit): Long = {
    val sc = spark.sparkContext
    val jobs = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    BusFlush.drain(sc)
    sc.addSparkListener(l)
    try { action; BusFlush.drain(sc); jobs.get } finally sc.removeSparkListener(l)
  }

  /** Classes the JVM-wide codegen cache compiles while `action` runs. */
  def compilesOf(action: => Unit): Long = {
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiles
    action
    compiles - before
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = graft.GraftSession.builder("local[4]", "4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
