package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM-wide session; suites run in
  * the forked test JVM sequentially by default). */
object TestSpark {
  lazy val spark: SparkSession = Session("graft-test",
    Map("spark.master" -> "local[8]", "spark.sql.shuffle.partitions" -> "8"))
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf
}
