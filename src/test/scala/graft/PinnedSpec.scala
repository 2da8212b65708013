package graft

import java.nio.file.Files

import graft.operators.Pinned

/** `Pinned.pin` in reliable mode: no checkpoint dir fails at once, and a
  * pin computes its frame once (the checkpoint write reads the cache). */
class PinnedSpec extends SparkSpec {

  test("reliable pin fails fast without a checkpoint dir, then computes its frame once") {
    import org.apache.spark.sql.functions.{col, udf}
    assume(spark.sparkContext.getCheckpointDir.isEmpty,
      "another suite set this context's checkpoint dir")
    val e = intercept[IllegalStateException](
      Pinned.pin(spark.range(3).toDF(), "reliable", None))
    assert(e.getMessage.contains("SPARK_GRAFT_CHECKPOINT_DIR"))

    val evals = spark.sparkContext.longAccumulator("pinned-evals")
    val counted = udf { (x: Long) => evals.add(1); x }
    val df = spark.range(0, 100, 1, 4).select(counted(col("id")).as("id"))
    val dir = Files.createTempDirectory("reliable_pin").toString
    try {
      val pinned = Pinned.pin(df, "reliable", Some(dir))
      assert(pinned.count() === 100L)
      assert(evals.value === 100L, "the checkpoint write recomputed the frame")
    } finally df.unpersist()
  }
}
