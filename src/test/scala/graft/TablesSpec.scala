package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The declared fixture schemas in [[Tables]]: they match the files, a
  * load launches no Spark job, and both `events` generations read alike. */
class TablesSpec extends SparkSpec {

  // the scale-factor dirs beside the suite's own
  private val scaleDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => new java.io.File(new java.io.File(sfDir).getParentFile, sf).getPath)

  test("each declared schema equals the schema Spark infers from the footer") {
    for (dir <- scaleDirs; t <- Tables.names) {
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(Tables.schemas(t) === inferred, s"$dir/$t.parquet drifted")
    }
  }

  test("loading every fixture and building q01 start no Spark job") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.names.foreach(t => Tables(spark, sfDir, t))
      SparkEntry.queries("q01_revenue_by_nation")(spark, sfDir)
      org.apache.spark.GraftTestBus.drain(spark.sparkContext)
      assert(jobs.get === 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a TIMESTAMP(NANOS) events file loads with the same session-UTC ts") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val micros = Tables.events(spark, sfDir)
    val rows = micros.select(col("event_id"), unix_micros(col("ts")),
      col("user_id"), col("event_type"), col("value"), col("props")).collect()
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val dir = Files.createTempDirectory("events_nanos").toString
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new Path(s"$dir/events.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = groups.newGroup()
      g.append("event_id", r.getLong(0))
      // sub-microsecond nanos must truncate, not round through a double
      g.append("ts", r.getLong(1) * 1000L + 789L)
      g.append("user_id", r.getLong(2))
      g.append("event_type", r.getString(3))
      g.append("value", r.getDouble(4))
      g.append("props", r.getString(5))
      writer.write(g)
    } finally writer.close()
    val nanos = Tables.events(spark, dir)
    assert(nanos.schema === micros.schema)
    assert(nanos.orderBy("event_id").collect().toSeq ===
      micros.orderBy("event_id").collect().toSeq)
  }
}
