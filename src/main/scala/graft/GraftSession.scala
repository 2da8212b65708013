package graft
import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration: every entry point and the test
  * suites start from this builder and add only what differs (app name,
  * warehouse dir, plan-string width, log level).
  *
  * Spark's whole-stage codegen cache gets
  * [[graft.functions.GraftExtensions.CodegenCacheEntries]] entries from the
  * extension, not from a `.config` here: the cache is one per JVM and
  * `withExtensions` sets the size as a JVM default before `getOrCreate`
  * reads system properties. Override it with a `-D` of Spark's key or a
  * `.config(...)` on this builder. */
object GraftSession {
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.shuffle.partitions", cpus.toString)
    // Tables relies on both: a TIMESTAMP(NANOS) events file loads as
    // BIGINT, and its NTZ fallback casts wall-clock NTZ to the session
    // zone, so a non-UTC zone would shift event timestamps.
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
}
