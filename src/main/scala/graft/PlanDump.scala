package graft
import java.nio.file.{Files, Paths}
import graft.operators.Pinned

/** Optimization-round plan artifacts: write `.explain("formatted")` for the
  * named declared queries (all by default) to <outDir>/<name>_<tag>.txt so
  * plan claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.PlanDump plans/r19 before q291_reach_sketch_census ..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r19")
    val tag = args.drop(1).headOption.getOrElse("before")
    val names = if (args.length > 2) args.drop(2).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.maxToStringFields", 200)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"), txt)
      // pins/persists from plan construction must not leak across queries
      Pinned.releaseAll(spark)
      println(s"[plandump] wrote $outDir/${n}_$tag.txt")
    }
    spark.stop()
  }
}
