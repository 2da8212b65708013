package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders (TESTDATA.md / FIXTURES.md §B).
  *
  * Each driver fixture is a single parquet file under the scale-factor dir.
  * No schema is declared here: every load resolves the file and reads the
  * schema from its parquet footer on the driver, once per load. Filters and
  * column pruning still push down to the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") readEvents(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet has shipped `ts` in two physical forms across driver
    * testdata generations: parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read nanos as long via the legacy conf
    * and integer-divide to micros; int64 nanos exceed 2^53 so a double
    * roundtrip would corrupt them) and plain timestamp[us] (reads as
    * TIMESTAMP_NTZ directly). The loader adapts on the LOADED schema so
    * either generation lands on the same session-UTC TimestampType column
    * every downstream query unions/compares against.
    *
    * `nanosAsLong` is a SESSION-level conf: the parquet→catalyst schema
    * conversion happens per file at execution time, so it cannot be scoped
    * to this one read. Every graft session builder pre-sets it; the set
    * below keeps the loader working on a caller-supplied session.
    */
  private def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.LongType
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) generation, surfaced as int64 nanos
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>        // timestamp[us] generation (NTZ) — align to session-UTC LTZ
        raw.withColumn("ts", col("ts").cast("timestamp"))
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
