package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one per JVM — Test/fork). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val Sf = "/root/testdata/sf0.001"

  /** Run `f` under its own job group and count the Spark jobs it
    * starts. The listener bus delivers in order: once a sentinel
    * job's start arrives, every job of `f` has been counted.
    */
  def jobsStarted[T](f: => T): (T, Int) = {
    val group = s"counted-${System.nanoTime}"
    val sentinel = s"$group-sentinel"
    val jobs = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == sentinel) sentinelSeen.countDown()
          else if (g == group) jobs.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val r = try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "job-count sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job not seen")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.engine.Core.session("graft-test", cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
