package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Pinned
import graft.queries.Graph

/** Optimization-round plan artifacts: write `.explain("formatted")` for the
  * named declared queries (all by default) to <outDir>/<name>_<tag>.txt so
  * plan claims in OPTIMIZATION_r*.md are checkable without running Spark.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.PlanDump plans/r19 before q291_reach_sketch_census ..."
  *
  * A name may also be one of `subplans`: a part of a query that a plan
  * guard in PlanAssertionsSpec checks on its own.
  */
object PlanDump {
  private val subplans: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q294/q380's distributed layers (bound 0): vote rounds 1-2 pinned,
    // round 3 still lazy
    "lp_vote_round" -> ((s, d) => Graph.lpLayersUnion(s, d, Graph.tradeAdjacency(s, d), 0)))

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
      val df = (SparkEntry.queries ++ subplans)(n)(spark, sfDir)
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
