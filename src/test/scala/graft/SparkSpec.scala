package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites run
  * sequentially inside sbt's forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it submitted, counted
    * by a listener. The listener bus is drained before the listener is
    * added, so earlier work's queued events do not count, and again
    * before the count is read, so none of `body`'s own are missed.
    */
  def countJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.ListenerBusBridge.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      org.apache.spark.graftbridge.ListenerBusBridge.drain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
