package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import graft.functions.GraftExtensions
import graft.operators.Pinned

/** The codegen cache GraftExtensions sizes: a repeated query finds every
  * generated class it needs, and an explicit size is never overridden. */
class CodegenCacheSpec extends SparkSpec {
  import GraftExtensions.{CodegenCacheEntries, CodegenCacheKey}

  test("the session's codegen cache size is the declared constant") {
    assert(spark.conf.get(CodegenCacheKey) === CodegenCacheEntries.toString)
  }

  test("a second build-and-collect of q174 then q294 compiles no new classes") {
    // The iterative-loops pair with q294's rounds as Spark jobs (bound 0):
    // its classes and q174's overflow Spark's default 100-entry cache, so
    // every pass would recompile. q294 on the driver (the default bound)
    // generates too few classes to overflow it.
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val c0 = compiles
      Seq[(SparkSession, String) => DataFrame](SparkEntry.queries("q174_cluster_survivorship"),
        graft.queries.Graph.labelPropagation(_, _, 0)).foreach { q =>
        q(spark, sfDir).collect()
        Pinned.releaseAll(spark)
      }
      compiles - c0
    }
    pass()
    assert(pass() === 0L)
  }

  test("GraftExtensions sets the cache size only when the JVM names none") {
    val before = sys.props.get(CodegenCacheKey)
    try {
      sys.props -= CodegenCacheKey
      new GraftExtensions()(new SparkSessionExtensions)
      assert(sys.props.get(CodegenCacheKey) === Some(CodegenCacheEntries.toString))
      sys.props(CodegenCacheKey) = "123"
      new GraftExtensions()(new SparkSessionExtensions)
      assert(sys.props.get(CodegenCacheKey) === Some("123"))
    } finally before match {
      case Some(v) => sys.props(CodegenCacheKey) = v
      case None => sys.props -= CodegenCacheKey
    }
  }
}
