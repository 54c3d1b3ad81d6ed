package graft

import graft.core.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * local mode is expensive to boot, and the specs only read), built by the
  * engine's own factory so tests run the same conf and functions as
  * Bench and Verify.
  */
object SparkSpec {
  lazy val spark: SparkSession = Sessions.build(
    Sessions.Conf(master = "local[4]", appName = "graft-test", numTasks = 4))

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sf0001: String = SparkSpec.sf0001
  def sf001: String = SparkSpec.sf001
}
