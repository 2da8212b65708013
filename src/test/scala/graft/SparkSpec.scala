package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * suite fast; tests only ever read fixtures / temp dirs). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-tests")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  // Strict, so the first suite built starts the session before any test
  // can run codegen: Spark sizes its JVM-wide codegen cache when the
  // CodeGenerator class initializes, from the session GraftExtensions
  // configured.
  val spark: SparkSession = TestSpark.spark
  val sfDir: String = TestSpark.sfDir
}
