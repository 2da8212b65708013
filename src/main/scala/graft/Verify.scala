package graft
import graft.operators.Pinned
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB-oracle compare, and
  * failures.json with one record per query that threw (name, root-cause
  * class, message). Exits 1 when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-loop filter (comma-separated names); the driver leaves this unset.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val failures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      val failure = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        // drop any previous run's output so the oracle compare cannot pass on it
        val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
        val root = org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e)
        System.err.println(
          s"[verify] $name failed: ${root.getClass.getName}: ${root.getMessage}")
        Some((name, root.getClass.getName, String.valueOf(root.getMessage)))
      }
      Pinned.releaseAll(spark)
      failure
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"), failures.map {
      case (name, cause, msg) =>
        s"{${q("name")}: ${q(name)}, ${q("cause")}: ${q(cause)}, ${q("message")}: ${q(msg)}}"
    }.mkString("[", ",\n", "]\n"))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed, see $outDir/failures.json")
      sys.exit(1)
    }
  }
}
