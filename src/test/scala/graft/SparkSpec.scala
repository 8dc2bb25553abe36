package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session), built
  * by the production [[LocalSession]] builder so the suites run under the
  * engine's own confs, static ones included. */
object TestSpark {
  lazy val spark: SparkSession = LocalSession.build("4", Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.app.name" -> "graft-test"))
  val sf0001 = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sf0001
}
