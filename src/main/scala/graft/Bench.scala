package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Pinned
object Bench {
  /** Execute the query's REAL plan: a noop-format write runs the full
    * executed plan — final sorts, wide projections, everything Verify
    * materializes — where a bare `.count()` would let Catalyst drop
    * top-level ORDER BY (EliminateSorts) and prune most columns, making
    * sort/top-k and wide-projection queries look cheaper than they are. */
  private def exec(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Optional comma-separated query filter (e.g. the sf1 soak runs just
    // the fact-table join/agg subset); empty/unset = the full set.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queryMap = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None => SparkEntry.queries
    }
    // Execution-order mode (SPARK_GRAFT_BENCH_ORDER): "declared" (default;
    // the registry Map's iteration order — what every prior round's
    // artifact used), "reverse" (the exact same sequence reversed), or
    // "shuffle:<seed>" (deterministic Fisher-Yates). The reverse mode is
    // the variance experiment the r13 verdict asked for: full-run
    // per-query inflation vs a focused run either follows POSITION
    // (late-running queries inflate regardless of which they are — the
    // JVM-context-floor hypothesis: code cache/GC/cleaner debt grows with
    // queries run) or follows the QUERY (a query is slow wherever it
    // runs — real plan cost). Running both orders and correlating
    // per-query deltas against position separates the two mechanically.
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
      val declared = queryMap.toSeq
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ORDER", "declared") match {
        case "declared" => declared
        case "reverse" => declared.reverse
        case s if s.startsWith("shuffle:") =>
          new scala.util.Random(s.stripPrefix("shuffle:").toLong)
            .shuffle(declared)
        case other => sys.error(s"unknown SPARK_GRAFT_BENCH_ORDER: $other")
      }
    }
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: run the whole set once at the smallest SF so the timed pass
    // below measures query execution, not JVM JIT + whole-stage-codegen
    // compilation (the generated code is cached by source, so same-shaped
    // plans at the target SF hit the cache).
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      queries.foreach { case (name, fn) =>
        try exec(fn(spark, warmDir)) catch { case e: Throwable =>
          val root = org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e)
          System.err.println(
            s"[bench] $name warm-up failed: ${root.getClass.getName}: ${root.getMessage}")
        }
        Pinned.releaseAll(spark)
      }
    // n timed iterations per query, report the per-query MEDIAN and the
    // total of medians: single-shot timings on this box show ±3× jitter on
    // sub-second queries (JIT / GC / noisy neighbors), which manufactured
    // phantom per-query "regressions" in earlier round artifacts. The
    // median of 3 is robust to one bad sample while keeping the full-set
    // runtime ~3× one pass.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt.max(1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // iterate over the whole set per pass (not per-query back-to-back) so
    // a pass-wide disturbance lands in one sample per query, not all three
    val samples = (1 to iters).flatMap { _ =>
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { exec(fn(spark, sfDir)); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        Pinned.releaseAll(spark) // hygiene is not part of the query's time
        (name, dt, ok)
      }
    }
    val byQuery = samples.groupBy(_._1)
    // Median over SUCCESSFUL samples only: a query that crashes in 1 of n
    // runs must not have its time-to-failure mixed into the median (that
    // silently skews the artifact even though the query is listed in
    // `failed`). A query with zero successful samples reports null and is
    // excluded from the total — the `failed` list is its record.
    val medians = queries.map { case (name, _) =>
      val ok = byQuery(name).filter(_._3).map(_._2)
      name -> (if (ok.nonEmpty) Some(median(ok)) else None)
    }
    val qs = medians.map { case (k, v) => s"\"" + k + "\":" + v.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val failed = byQuery.collect { case (k, ss) if ss.exists(!_._3) => s"\"$k\"" }
      .mkString("[", ",", "]")
    val total = medians.flatMap(_._2).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"iters":$iters,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // Also land the JSON in a file: the driver greps sbt's log tail for the
    // stdout line, and round 1 showed that parse can fail ("parsed": null).
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outFile: ${e.getMessage}") }
    spark.stop()
  }
}
