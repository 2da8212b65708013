package graft
import org.apache.spark.scheduler._
import graft.operators.Pinned
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round measurement probe (guide §1): run named queries with
  * the noop sink and decompose wall time into scheduled task work vs
  * everything else (planning, job/stage scheduling, driver work).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.Probe q291_reach_sketch_census ..."
  *
  * Prints per query: wall seconds (median of SPARK_GRAFT_PROBE_ITERS, def 3),
  * jobs, stages, tasks, summed task time, summed GC time, shuffle bytes.
  */
object Probe {
  private class Acc extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val spill = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskMetrics != null) {
        taskMs.addAndGet(t.taskMetrics.executorRunTime)
        gcMs.addAndGet(t.taskMetrics.jvmGCTime)
      }
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0); gcMs.set(0); shufR.set(0); shufW.set(0); spill.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROBE_ITERS", "3").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    def run(n: String): Unit =
      SparkEntry.queries(n)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    // warm once at sf0.001 for codegen/JIT
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
      Pinned.releaseAll(spark)
    }
    println(f"${"query"}%-38s ${"wall_s"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"task_s"}%8s ${"gc_s"}%6s ${"shufMB"}%7s")
    names.foreach { n =>
      val walls = (1 to iters).map { _ =>
        Pinned.releaseAll(spark)
        Thread.sleep(50)
        acc.reset()
        val t0 = System.nanoTime()
        run(n)
        (System.nanoTime() - t0) / 1e9
      }
      val wall = walls.sorted.apply(iters / 2)
      println(f"$n%-38s $wall%7.2f ${acc.jobs.get}%5d ${acc.stages.get}%5d " +
        f"${acc.tasks.get}%6d ${acc.taskMs.get / 1e3}%8.2f ${acc.gcMs.get / 1e3}%6.2f " +
        f"${(acc.shufR.get + acc.shufW.get) / 1e6}%7.1f")
    }
    spark.stop()
  }
}
