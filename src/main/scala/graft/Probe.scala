package graft
import org.apache.spark.scheduler._
import org.apache.spark.metrics.source.CodegenMetrics
import graft.operators.{Fixpoint, Pinned}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Optimization-round measurement probe (guide §1): run named queries with
  * the noop sink and decompose wall time into scheduled task work vs
  * everything else (planning, job/stage scheduling, driver work).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.Probe q291_reach_sketch_census ..."
  *
  * Every named query first runs one untimed iteration at the timed scale
  * factor, before any is timed, so no query pays the JVM's first-run cost
  * for its position in the argument list. Then each runs
  * SPARK_GRAFT_PROBE_ITERS (def 3) timed iterations. Prints per query the
  * median across the timed iterations of: wall seconds, whole-stage codegen
  * classes compiled, jobs, stages, tasks, summed task time, summed GC time,
  * shuffle bytes; then, for each min-label fixpoint or label propagation
  * the last iteration ran ([[graft.operators.Fixpoint.Run]]),
  * `loop:path:entries:rounds`. The last
  * line gives the classes compiled over the whole run, the codegen cache
  * size, and heap after a full GC and metaspace.
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
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach { n =>
      try run(n) catch { case e: Throwable =>
        val root = org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e)
        System.err.println(
          s"[probe] $n warm-up failed: ${root.getClass.getName}: ${root.getMessage}")
      }
      Pinned.releaseAll(spark)
    }
    println(f"${"query"}%-38s ${"wall_s"}%7s ${"compiles"}%8s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"task_s"}%8s ${"gc_s"}%6s ${"shufMB"}%7s fixpoints")
    names.foreach { n =>
      var loops = Seq.empty[Fixpoint.Run]
      val samples = (1 to iters).map { _ =>
        Pinned.releaseAll(spark)
        Thread.sleep(50)
        acc.reset()
        val c0 = compiles
        Fixpoint.drainRuns()
        val t0 = System.nanoTime()
        run(n)
        val wallS = (System.nanoTime() - t0) / 1e9
        loops = Fixpoint.drainRuns()
        Seq(wallS, (compiles - c0).toDouble,
          acc.jobs.get.toDouble, acc.stages.get.toDouble, acc.tasks.get.toDouble,
          acc.taskMs.get / 1e3, acc.gcMs.get / 1e3, (acc.shufR.get + acc.shufW.get) / 1e6)
      }
      val Seq(wall, comp, jobs, stages, tasks, taskS, gcS, shufMb) =
        samples.transpose.map(_.sorted.apply(iters / 2))
      println(f"$n%-38s $wall%7.2f $comp%8.0f $jobs%5.0f $stages%5.0f " +
        f"$tasks%6.0f $taskS%8.2f $gcS%6.2f $shufMb%7.1f " +
        loops.mkString(","))
      Pinned.releaseAll(spark)
    }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val metaMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum / 1e6
    println(f"codegen classes compiled $compiles, cache " +
      f"${spark.conf.get(graft.functions.GraftExtensions.CodegenCacheKey)} entries, " +
      f"heap after GC $heapMb%.0f MB, metaspace $metaMb%.0f MB")
    spark.stop()
  }
}
