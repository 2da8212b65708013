package graft.queries

import graft.Tables

/** DuckDB-oracle SQL helpers (SURVEY.md §5.3).
  *
  * The driver runs correctness at sf0.01 (TESTDATA.md). It may or may not
  * register fixture tables as views, so each [[Query]]'s oracle SQL is
  * authored with bare table names for readability, and
  * `SparkEntry.oracleSqlFor` passes it through [[rewrite]] so every
  * `FROM <table>` / `JOIN <table>` reads the parquet file directly via
  * `read_parquet(...) AS <table>` — runnable either way.
  *
  * Authoring rule: never alias a fixture table inline (`FROM lineitem l`);
  * for self-joins wrap in a subselect (`FROM (SELECT * FROM lineitem) a`).
  */
object Oracle {
  /** The driver's t2 correctness scale (BASELINE.md); `SparkEntry.oracleSql`
    * pins this dir, while Verify re-derives the SQL for whatever sfDir it
    * was invoked with so outputs and oracles can never decouple. */
  val sfDir = "/root/testdata/sf0.01"

  def rewrite(sql: String, dir: String): String =
    Tables.names.foldLeft(sql) { (acc, t) =>
      // quoteReplacement: a '$' or '\' in the dir would otherwise be read
      // as a group reference in the replacement string.
      acc.replaceAll(
        s"(?i)\\b(FROM|JOIN)\\s+$t\\b",
        "$1 " + java.util.regex.Matcher.quoteReplacement(
          s"read_parquet('$dir/$t.parquet') AS $t"))
    }
}
