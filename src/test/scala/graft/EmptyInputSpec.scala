package graft

import java.nio.file.Files

/** Zero-rows-on-empty contract (r16 ADVICE item 1): the single-row
  * summary queries built on array folds (q341 Theil–Sen, q343 Holt,
  * q348 bootstrap) would otherwise diverge between engines on an empty
  * input — Spark's collect_list over zero rows is [] (size 0) while
  * DuckDB's list() is NULL (len NULL), and q343's recursive-CTE oracle
  * emits zero rows where the Spark fold emitted an n_months=0 row. Both
  * sides now pin the degenerate shape to ZERO rows: Spark via explicit
  * filters, the oracles via `coalesce(n_pairs,0) > 0` / `len(xs) > 0` /
  * the naturally-empty recursion. This spec drives the Spark half over
  * genuinely empty tables (the oracle half was replayed in DuckDB when
  * the guards landed). */
class EmptyInputSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("empty_input").toString
    // schema-exact empty tables: read the fixture, keep zero rows
    for (t <- Seq("orders", "documents", "customer", "lineitem", "supplier")) {
      spark.read.parquet(s"$sfDir/$t.parquet")
        .limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    d
  }

  // q303: empty tables pass no column pair through its sketch screen
  for (name <- Seq("q341_theil_sen_trend", "q343_holt_linear",
      "q348_bootstrap_ci", "q303_inclusion_direction")) {
    test(s"$name emits zero rows on an empty table (no error, no NULL row)") {
      assert(SparkEntry.queries(name)(spark, dir).collect().isEmpty)
    }
  }

  test("q341/q343/q348 still emit exactly one summary row on real input") {
    for (name <- Seq("q341_theil_sen_trend", "q343_holt_linear",
        "q348_bootstrap_ci")) {
      assert(SparkEntry.queries(name)(spark, sfDir).count() == 1L, name)
    }
  }
}
