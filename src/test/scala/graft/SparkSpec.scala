package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run sequentially inside the forked test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs started while `body` runs, counted by a listener over a
    * drained bus — on small driver-bound paths, jobs are the cost. */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graftnative.TaskMetricsProbe.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftnative.TaskMetricsProbe.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  /** The engine's own session ([[Sessions.local]]) at a fixed 4 cores,
    * with a temp warehouse for the catalog-table specs and ERROR logging
    * to keep spec output readable. */
  lazy val session: SparkSession = {
    val s = Sessions.local("graft-tests", cores = 4, extra = Seq(
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
