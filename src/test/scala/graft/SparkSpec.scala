package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM-wide session; Spark startup
  * dominates test wall-clock otherwise). */
object SparkSpec {
  val cpus = 4
  lazy val spark: SparkSession = {
    val s = GraftSession.get("graft-test", cpus)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
