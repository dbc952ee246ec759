package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run sequentially inside the forked test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

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
