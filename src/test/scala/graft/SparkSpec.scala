package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate dedups across suites in
  * one JVM; sbt forks a single test JVM). The mains' conf, pinned to 4
  * cores so test plans don't depend on the machine.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  val Cpus = 4
  lazy val session: SparkSession =
    GraftSession.build(Cpus, "spark.app.name" -> "graft-test")
}
