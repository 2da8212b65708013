package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.pipeline.Listings
import graft.sources.PageFetcher

/** Closed-loop, single-client benchmark runner. One JVM runs one workload:
  * a fixed number of untimed warm passes, then a fixed number of timed
  * passes over the workload's op list, in a seed-rotated order.
  * Every op is timed from outside, through public entry points only
  * (`SparkEntry.queries` functions, `Dataset` actions, `Tables.apply`,
  * `Listings.*`, the `HttpPageSource` format).
  *
  * Raw observations go to `<out>/result.json`; `run.py` turns them into
  * metrics and checks every result against the oracle, outside the timed
  * region. Query results are written as JSON lines to `<out>/rows/`.
  *
  * With `--trace 1` a SparkListener records job and stage spans, a
  * QueryExecutionListener sums Catalyst phase times, a log appender sums
  * Janino compile time, each op records build/action spans, and each pass
  * ends with one timed `Tables.apply` per fixture; the untraced run does
  * none of these.
  */
object Runner {

  final case class Conf(
      workload: String, ops: Seq[String], fixtures: String, out: String,
      warm: Int, passes: Int, seed: Long, trace: Boolean, cpus: Int,
      pagesDir: String, pages: Int, batches: Int)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String = null): String =
      m.getOrElse(k, Option(d).getOrElse(sys.error(s"missing --$k")))
    Conf(get("workload"), get("ops", "").split(",").toSeq.filter(_.nonEmpty),
      get("fixtures", ""), get("out"), get("warm").toInt, get("passes").toInt,
      get("seed").toLong, get("trace") == "1", get("cpus").toInt,
      get("pages-dir", ""), get("pages", "0").toInt, get("batches", "1").toInt)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    new File(conf.out, "rows").mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName(s"graftbench-${conf.workload}")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.out}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try new Runner(spark, conf).run() finally spark.stop()
    sys.exit(0) // do not wait on threads a query may have left behind
  }
}

/** Clock shared by op spans and listener events: epoch milliseconds with
  * sub-millisecond resolution. */
private object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Reads generated pages from the run's page directory. URLs look like
  * `bench:<dir>/<page>`; a page with no file is a planted 404. Counters are
  * static because local-mode executors are threads of this JVM; they time
  * the fetches only. What the source made of a 404 is read from its output
  * rows, not from here. */
final class FilePageFetcher extends PageFetcher {
  override def fetch(url: String): (Int, String) = {
    val t0 = System.nanoTime()
    val path = Paths.get(url.stripPrefix("bench:") + ".html")
    val res =
      if (Files.isRegularFile(path)) (200, new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
      else (404, null)
    FilePageFetcher.pages.incrementAndGet()
    FilePageFetcher.nanos.addAndGet(System.nanoTime() - t0)
    res
  }
}

object FilePageFetcher {
  val pages = new AtomicLong
  val nanos = new AtomicLong
}

/** Sums the "Code generated in N ms" lines Spark's CodeGenerator logs once
  * per Janino compile. */
private final class CodegenAppender
    extends AbstractAppender("graftbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val micros = new AtomicLong
  override def append(e: LogEvent): Unit = {
    val msg = e.getMessage.getFormattedMessage
    if (msg.startsWith("Code generated in ")) {
      val ms = msg.stripPrefix("Code generated in ").takeWhile(c => c.isDigit || c == '.')
      scala.util.Try(ms.toDouble).foreach(v => micros.addAndGet((v * 1000).toLong))
    }
  }
}

/** Catalyst phase times of every query execution, loop rounds and sinks
  * included (`QueryPlanningTracker`). */
private final class PhaseListener extends QueryExecutionListener {
  val micros = Map("analysis" -> new AtomicLong, "optimization" -> new AtomicLong,
    "planning" -> new AtomicLong)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (k, v) => micros.get(k).foreach(_.addAndGet(v.durationMs * 1000)) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Job, stage and block events for the traced run. Span times are the
  * scheduler's own event times, not the (later) delivery times. */
private final class SpanListener extends SparkListener {
  final class StageAcc(val id: Int) {
    var tasks = 0; var taskMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
    var shufR = 0L; var shufW = 0L; var spill = 0L
  }
  private val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stages = mutable.ArrayBuffer.empty[(StageAcc, Double, Double)]
  private val live = mutable.Map.empty[(Int, Int), StageAcc]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var pinnedBytes = 0L
  private var peakPinnedBytes = 0L

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobStart(j.jobId) = j.time.toDouble
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((j.jobId, jobStart.remove(j.jobId).getOrElse(j.time.toDouble), j.time.toDouble))
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val acc = live.getOrElseUpdate((t.stageId, t.stageAttemptId), new StageAcc(t.stageId))
    acc.tasks += 1
    val m = t.taskMetrics
    if (m != null) {
      acc.taskMs += m.executorRunTime
      acc.taskCpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.shufR += m.shuffleReadMetrics.totalBytesRead
      acc.shufW += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val info = s.stageInfo
    val acc = live.remove((info.stageId, info.attemptNumber())).getOrElse(new StageAcc(info.stageId))
    val end = info.completionTime.map(_.toDouble).getOrElse(Clock.ms())
    val start = info.submissionTime.map(_.toDouble).getOrElse(end)
    stages += ((acc, start, end))
  }
  override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = synchronized {
    val info = b.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      pinnedBytes += size - rddBlocks.getOrElse(info.blockId.name, 0L)
      if (size > 0) rddBlocks(info.blockId.name) = size else rddBlocks.remove(info.blockId.name)
      peakPinnedBytes = math.max(peakPinnedBytes, pinnedBytes)
    }
  }
  def drain(): (Seq[(Int, Double, Double)], Seq[(StageAcc, Double, Double)], Long) = synchronized {
    val out = (jobs.toList, stages.toList, peakPinnedBytes)
    jobs.clear(); stages.clear(); peakPinnedBytes = pinnedBytes
    out
  }
}

/** Minimal JSON writer: enough for result rows and the run record. */
private object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' || (c >= '\u007f' && c <= '\u009f') => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
  /** A collected value, typed so the Python side can canonicalize it the
    * same way as DuckDB's. Maps use DuckDB's {key: [...], value: [...]}. */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case s: String => str(s)
    case t: java.sql.Timestamp =>
      str(java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC).format(tsFmt))
    case t: java.time.Instant =>
      str(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFmt))
    case t: java.time.LocalDateTime => str(t.format(tsFmt))
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case d: java.time.LocalDate => str(d.toString)
    case a: Array[Byte] => str("0x" + a.map(x => f"${x & 0xff}%02x").mkString)
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq).getOrElse(r.toSeq.indices.map(i => s"f$i"))
      names.zip(r.toSeq).map { case (k, x) => s"${str(k)}:${value(x)}" }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      s"""{"key":${m.keys.map(value).mkString("[", ",", "]")},"value":${m.values.map(value).mkString("[", ",", "]")}}"""
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

private final class Runner(spark: SparkSession, conf: Runner.Conf) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** (steal, total) jiffies from the first line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val xs = try f.getLines().next().split("\\s+").drop(1).map(_.toLong) finally f.close()
    (if (xs.length > 7) xs(7) else 0L, xs.sum)
  }.getOrElse((0L, 0L))
  private def load1(): Double = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.getLines().next().split(" ")(0).toDouble finally f.close()
  }.getOrElse(0.0)

  private val listener = new SpanListener
  private val appender = new CodegenAppender
  private val phases = new PhaseListener
  private val passes = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.ArrayBuffer.empty[String]
  private val spans = mutable.ArrayBuffer.empty[String]
  private var opSeq = 0

  private def installTracing(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(phases)
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  /** Pins outlive the query's own action; drop them between ops, outside
    * the timed region, the way `graft.Bench` does. */
  private def release(): Int = {
    val n = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    n
  }

  private def span(op: Int, kind: String, start: Double, end: Double, extra: (String, String)*): Unit =
    if (conf.trace) spans += Json.obj(Seq("op" -> op.toString, "kind" -> Json.str(kind),
      "start" -> start.toString, "end" -> end.toString) ++ extra: _*)

  def run(): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val workload: Int => Unit = conf.workload match {
      case "listings-etl" => etlPass
      case _ => queryPass
    }
    if (conf.workload != "listings-etl") writeOracleSql()
    (1 to conf.warm).foreach(p => workload(-p))
    val setupS = (Clock.ms() - jvmStartMs) / 1e3
    if (conf.trace) installTracing()
    (1 to conf.passes).foreach { p =>
      val (steal0, tot0) = cpuJiffies()
      val jit0 = jit.getTotalCompilationTime
      val gc0 = gcMs; val cg0 = compiles; val cgT0 = appender.micros.get
      opWallMs = 0.0; opCpuNs = 0L
      val t0 = Clock.ms()
      workload(p)
      val t1 = Clock.ms()
      // Fixture loads on their own, one `Tables.apply` per table: traced
      // query runs only, outside the pass.
      val tablesLoadS = if (conf.trace && conf.workload != "listings-etl") {
        val tl = Clock.ms()
        graft.Tables.names.foreach(t => graft.Tables(spark, conf.fixtures, t))
        (Clock.ms() - tl) / 1e3
      } else 0.0
      val (steal1, tot1) = cpuJiffies()
      if (conf.trace) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      val (jobs, stages, peakPinned) = if (conf.trace) listener.drain() else (Nil, Nil, 0L)
      val phaseS = phases.micros.map { case (k, v) => k -> v.getAndSet(0) / 1e6 }
      jobs.foreach { case (id, s, e) => span(-1, "job", s, e, "id" -> id.toString) }
      stages.foreach { case (a, s, e) =>
        span(-1, "stage", s, e, "id" -> a.id.toString, "tasks" -> a.tasks.toString,
          "task_s" -> (a.taskMs / 1e3).toString, "task_cpu_s" -> (a.taskCpuNs / 1e9).toString,
          "gc_s" -> (a.gcMs / 1e3).toString, "shuffle_read_mb" -> (a.shufR / 1e6).toString,
          "shuffle_write_mb" -> (a.shufW / 1e6).toString, "spill_mb" -> (a.spill / 1e6).toString)
      }
      passes += Json.obj(
        "pass" -> p.toString, "start" -> t0.toString, "end" -> t1.toString,
        "wall_s" -> (opWallMs / 1e3).toString,
        "cpu_s" -> (opCpuNs / 1e9).toString,
        "jit_s" -> ((jit.getTotalCompilationTime - jit0) / 1e3).toString,
        "gc_s" -> ((gcMs - gc0) / 1e3).toString,
        "heap_after_gc_mb" -> heapAfterGcMb.toString,
        "codegen_compiles" -> (compiles - cg0).toString,
        "codegen_compile_s" -> ((appender.micros.get - cgT0) / 1e6).toString,
        "pinned_peak_mb" -> (peakPinned / 1e6).toString,
        "tables_load_s" -> tablesLoadS.toString,
        "analysis_s" -> phaseS("analysis").toString,
        "optimization_s" -> phaseS("optimization").toString,
        "planning_s" -> phaseS("planning").toString,
        "steal_frac" -> (if (tot1 > tot0) (steal1 - steal0).toDouble / (tot1 - tot0) else 0.0).toString,
        "load1" -> load1().toString)
    }
    val record = Json.obj(
      "workload" -> Json.str(conf.workload), "seed" -> conf.seed.toString,
      "setup_s" -> setupS.toString, "cpus" -> conf.cpus.toString,
      "passes" -> Json.arr(passes), "samples" -> Json.arr(samples), "spans" -> Json.arr(spans))
    Files.writeString(Paths.get(conf.out, "result.json"), record)
  }

  /** The seed picks where the cyclic op list starts; every pass uses the
    * same rotation. A rotation (not a shuffle) keeps the access pattern the
    * codegen cache and the JIT see identical across seeds, so the seed
    * changes which op runs first but not how much the pass costs. */
  private def order(ops: Seq[String]): Seq[String] = {
    val k = java.lang.Math.floorMod(conf.seed, ops.size.toLong).toInt
    ops.drop(k) ++ ops.take(k)
  }

  private def writeOracleSql(): Unit = {
    val sql = SparkEntry.oracleSqlFor(conf.fixtures)
    val fields = conf.ops.map(op => op -> sql.get(op).map(Json.str).getOrElse("null"))
    Files.writeString(Paths.get(conf.out, "oracle_sql.json"), Json.obj(fields: _*))
  }

  private def writeRows(file: String, df: DataFrame, rows: Array[Row]): Unit = {
    val w = new PrintWriter(Files.newBufferedWriter(Paths.get(conf.out, "rows", file)))
    try {
      w.println(Json.arr(df.schema.fieldNames.map(Json.str)))
      rows.foreach(r => w.println(Json.arr(r.toSeq.map(Json.value))))
    } finally w.close()
  }

  /** A pass's wall and CPU time are the sums over its ops, so bookkeeping
    * between ops (writing rows for the check, dropping pins) is excluded. */
  private var opWallMs = 0.0
  private var opCpuNs = 0L

  private def sample(pass: Int, op: String, ok: Boolean, wallMs: Double, cpuNs: Long, items: Long,
      extra: (String, String)*): Unit = {
    opWallMs += wallMs
    opCpuNs += cpuNs
    if (pass > 0) samples += Json.obj(Seq("pass" -> pass.toString, "op" -> Json.str(op),
      "ok" -> ok.toString, "wall_s" -> (wallMs / 1e3).toString, "items" -> items.toString) ++ extra: _*)
  }

  /** One query op: build the DataFrame with the declared query function, then
    * collect it. Both steps are inside the timed region; writing the rows
    * for the oracle check and releasing pins are not. */
  private def queryPass(pass: Int): Unit = order(conf.ops).foreach(queryOp(pass, _))

  private def queryOp(pass: Int, op: String): Unit = {
    opSeq += 1
    val id = opSeq
    val fn = SparkEntry.queries(op)
    val c0 = os.getProcessCpuTime
    val t0 = Clock.ms()
    try {
      val df = fn(spark, conf.fixtures)
      val t1 = Clock.ms()
      val rows = df.collect()
      val t2 = Clock.ms()
      val c2 = os.getProcessCpuTime
      val extra = mutable.ArrayBuffer("build_s" -> ((t1 - t0) / 1e3).toString,
        "action_s" -> ((t2 - t1) / 1e3).toString)
      if (pass > 0) {
        val file = s"$op.p$pass.jsonl"
        writeRows(file, df, rows)
        extra += "rows" -> Json.str(file)
      }
      if (conf.trace && pass > 0) {
        val scans = df.queryExecution.analyzed.collectWithSubqueries { case _: LogicalRelation => 1 }.size
        extra += "scans" -> scans.toString
        span(id, "op", t0, t2); span(id, "build", t0, t1); span(id, "action", t1, t2)
      }
      extra += "pinned_rdds" -> release().toString
      sample(pass, op, ok = true, t2 - t0, c2 - c0, 1L, extra.toSeq: _*)
    } catch {
      case e: Throwable =>
        val t2 = Clock.ms()
        val c2 = os.getProcessCpuTime
        release()
        System.err.println(s"[graftbench] $op failed: $e")
        sample(pass, op, ok = false, t2 - t0, c2 - c0, 0L, "error" -> Json.str(e.toString))
    }
  }

  /** One ETL op is one crawl batch through the reference pipeline: page
    * scan via `HttpPageSource` → `Listings.extract` (pinned once) →
    * `writeCsv` and `writePartitionedParquet` → read the parquet back and
    * aggregate it. The read-back sums, and the source's error rows (page
    * and status of every non-200 row, listed after the timed region by a
    * second scan), are checked against what the page generator planted. */
  private def etlPass(pass: Int): Unit = {
    import spark.implicits._
    val per = conf.pages / conf.batches
    val batches = (0 until conf.batches).map(b => b.toString)
    order(batches).foreach { bs =>
      val b = bs.toInt
      opSeq += 1
      val id = opSeq
      val dir = s"${conf.out}/sink/p$pass-b$b"
      val c0 = os.getProcessCpuTime
      val fp0 = FilePageFetcher.pages.get; val fn0 = FilePageFetcher.nanos.get
      val t0 = Clock.ms()
      try {
        val pages = spark.read.format("graft.sources.HttpPageSource")
          .option("urlTemplate", s"bench:${conf.pagesDir}/page-{page}")
          .option("firstPage", (1 + b * per).toString)
          .option("pages", per.toString)
          .option("pagesPerPartition", math.max(1, per / conf.cpus).toString)
          .option("fetcher", classOf[FilePageFetcher].getName)
          .load()
        val docs = pages.filter($"status" === 200).select(
          concat(date_add(lit("2026-01-01").cast("date"), $"page" % 28).cast("string"),
            lit("-p"), $"page".cast("string"), lit(".html")).as("file"), $"body")
          .as[(String, String)]
        val listings = Listings.extract(docs).toDF().persist()
        val tb = Clock.ms()
        val n = listings.count()
        val t1 = Clock.ms()
        Listings.writeCsv(listings, s"$dir/csv")
        val t2 = Clock.ms()
        Listings.writePartitionedParquet(listings, s"$dir/parquet")
        val t3 = Clock.ms()
        val back = spark.read.parquet(s"$dir/parquet").agg(
          count(lit(1)), sum($"NumHabitaciones"), sum($"NumBanos"), sum($"mts2"),
          sum(Listings.parseValorPesos($"Valor")), count($"Barrio"), countDistinct($"dt")).head()
        val t4 = Clock.ms()
        val c4 = os.getProcessCpuTime
        val fetched = FilePageFetcher.pages.get - fp0
        val fetchS = (FilePageFetcher.nanos.get - fn0) / 1e9
        listings.unpersist(blocking = true)
        val errorRows = pages.filter($"status" =!= 200).select($"page", $"status").collect()
          .map(r => Json.arr(Seq(r.getInt(0).toString, r.getInt(1).toString)))
        val sinkFiles = Files.walk(Paths.get(dir)).iterator().asScala
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
            !p.getFileName.toString.startsWith("_"))
          .toSeq
        val sinkMb = sinkFiles.map(Files.size(_)).sum / 1e6
        def lng(i: Int): String = if (back.isNullAt(i)) "0" else back.getLong(i).toString
        def dbl(i: Int): String = if (back.isNullAt(i)) "0" else back.getDouble(i).toString
        if (conf.trace && pass > 0) {
          span(id, "op", t0, t4); span(id, "build", t0, tb)
          span(id, "action", tb, t1, "name" -> Json.str("extract"))
          span(id, "action", t1, t2, "name" -> Json.str("sink_csv"))
          span(id, "action", t2, t3, "name" -> Json.str("sink_parquet"))
          span(id, "action", t3, t4, "name" -> Json.str("readback"))
        }
        sample(pass, s"batch$b", ok = true, t4 - t0, c4 - c0, n,
          "batch" -> b.toString, "first_page" -> (1 + b * per).toString, "pages" -> per.toString,
          "build_s" -> ((tb - t0) / 1e3).toString, "extract_s" -> ((t1 - t0) / 1e3).toString, "sink_csv_s" -> ((t2 - t1) / 1e3).toString,
          "sink_parquet_s" -> ((t3 - t2) / 1e3).toString, "readback_s" -> ((t4 - t3) / 1e3).toString,
          "extracted" -> n.toString, "readback_rows" -> lng(0), "sum_rooms" -> lng(1),
          "sum_baths" -> lng(2), "sum_mts2" -> dbl(3), "sum_valor" -> lng(4),
          "barrio_present" -> lng(5), "dates" -> lng(6),
          "sink_files" -> sinkFiles.size.toString, "sink_mb" -> sinkMb.toString,
          "fetch_pages" -> fetched.toString, "fetch_s" -> fetchS.toString,
          "error_rows" -> Json.arr(errorRows))
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] batch $b failed: $e")
          sample(pass, s"batch$b", ok = false, Clock.ms() - t0, os.getProcessCpuTime - c0, 0L,
            "error" -> Json.str(e.toString))
      }
      release()
      deleteTree(new File(dir))
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
