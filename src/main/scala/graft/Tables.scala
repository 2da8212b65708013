package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.GroupType
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (TESTDATA.md / FIXTURES.md §B).
  *
  * Each fixture is a single parquet file under the scale-factor dir,
  * and its schema is declared here ([[schemas]]). A load hands the declared
  * schema to the reader, so building a DataFrame over a fixture reads no
  * footer and launches no Spark job; left undeclared, Spark infers the
  * schema with a one-task job per load. Each load is still its own read:
  * filters and column pruning push down to the scan, and nothing is
  * cached across loads. `timestamp[us]` columns that are not UTC-adjusted
  * (`o_orderdate`, `l_shipdate`, `events.ts`) read as `TIMESTAMP_NTZ`.
  *
  * `events` has shipped `ts` in two physical forms (see [[alignTs]]);
  * its loader reads the file's footer in-process (parquet-hadoop, no
  * Spark job) to pick the declared schema of its generation.
  *
  * A directory of part files under a fixture's name is not a
  * fixture but a table a Spark job wrote (the hand-built test tables, which
  * carry only the columns a test needs, in their own types): its schema is
  * inferred, as Spark does by default.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The FIXTURES.md §B schemas, as Spark reads the parquet files; a test
    * checks them against the footers at every scale factor. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
      "l_shipdate TIMESTAMP_NTZ"),
    "events" -> eventsDdl("TIMESTAMP_NTZ"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** `events` of the TIMESTAMP(NANOS) generation, `ts` read as int64 nanos. */
  private val eventsNanos: StructType = StructType.fromDDL(eventsDdl("BIGINT"))

  private def eventsDdl(ts: String): String =
    s"event_id BIGINT, ts $ts, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val conf = spark.sessionState.newHadoopConf()
    // a missing path is no fixture either: it fails in the reader, with Spark's error
    val fixture = scala.util.Try(path.getFileSystem(conf).getFileStatus(path).isFile)
      .getOrElse(false)
    val declared =
      if (!fixture) None
      else if (name == "events" && nanosTs(path, conf)) Some(eventsNanos)
      else Some(schemas(name))
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = declared.fold(spark.read)(spark.read.schema).parquet(path.toString)
    if (name == "events") alignTs(df) else df
  }

  /** events.parquet has shipped `ts` in two physical forms across driver
    * testdata generations: parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read nanos as long via the legacy conf
    * and integer-divide to micros; int64 nanos exceed 2^53 so a double
    * roundtrip would corrupt them) and plain timestamp[us] (reads as
    * TIMESTAMP_NTZ directly). A fixture file's footer names the
    * generation ([[nanosTs]]); a Spark-written table's `ts` is whatever
    * Spark infers. Either way `ts` lands on the same session-UTC
    * TimestampType column every downstream query unions/compares against.
    *
    * `nanosAsLong` is a SESSION-level conf: the parquet→catalyst schema
    * conversion happens per file at execution time, so it cannot be scoped
    * to this one read. Every graft session pre-sets it; [[apply]]
    * sets it too, to keep the loader working on a caller-supplied session.
    */
  private def alignTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.LongType
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) generation, surfaced as int64 nanos
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>        // timestamp[us] generation (NTZ) — align to session-UTC LTZ
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Whether the file's `ts` column is parquet TIMESTAMP(NANOS), from its
    * footer, read in-process. */
  private def nanosTs(path: Path, conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val fields: GroupType = try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
    fields.getType("ts").getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
      case _ => false
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
