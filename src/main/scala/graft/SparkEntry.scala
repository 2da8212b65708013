package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see SURVEY.md §7. A query is added as one [[Query]]
  * (name, Spark build, DuckDB oracle SQL) in its module's `declared`. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** Every declared query; a name declared twice fails registration. */
  lazy val declared: Seq[Query] = register(
    Relational.declared ++ Aggregates.declared ++ Windows.declared ++
      Scalars.declared ++ Sources.declared ++ LlmOps.declared ++
      SqlApi.declared ++ TimeSeries.declared ++ Graph.declared ++ Media.declared)

  private[graft] def register(qs: Seq[Query]): Seq[Query] = {
    val twice = qs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(twice.isEmpty, s"query declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** For each query, equivalent ANSI SQL runnable by DuckDB on the same
    * parquet tables at the driver's correctness scale. */
  def oracleSql: Map[String, String] = oracleSqlFor(Oracle.sfDir)

  /** Oracle SQL rewritten against an arbitrary scale-factor dir (Verify
    * passes its runtime sfDir so results and oracles stay coupled). */
  def oracleSqlFor(dir: String): Map[String, String] =
    declared.map(q => q.name -> Oracle.rewrite(q.oracle, dir)).toMap
}
