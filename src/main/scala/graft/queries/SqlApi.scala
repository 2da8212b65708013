package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** SQL-text entry point: the same engine surface as the DataFrame queries,
  * driven through `spark.sql(...)` over registered views — proving a user
  * can run plain ANSI SQL against the library's tables (SURVEY.md §1.3's
  * `spark.sql` mandate). Every other declared query builds its plan with the
  * DataFrame/Dataset API; this one goes parser → analyzer → same Catalyst
  * pipeline, and lands on the identical physical plans (SQL text is sugar,
  * not a second engine).
  *
  * The query text is ONE shared ANSI string executed verbatim by BOTH
  * engines (the oracle gets the same constant, `Oracle.rewrite` only swaps
  * table names for `read_parquet`): CTE + two joins + grouped agg + EXISTS
  * correlated subquery + CASE + window rank — the shapes a SQL user reaches
  * for first. Money stays exact-integer cents ([[Portable.centsSql]] inlined
  * so the tree is identical by construction); rank ties are broken by
  * custkey so ordering is total.
  *
  * Scale: cust_orders is a map-side-partial hash agg on o_custkey; the
  * EXISTS plans as a left-semi hash join on the same key (no row explosion);
  * customer⋈nation broadcasts the 25-row dim; the window partitions by
  * nation (25 groups) AFTER aggregation, so it windows ~|customer| rows,
  * not |orders|.
  */
object SqlApi {

  /** Shared Spark/DuckDB SQL. Keep this ANSI-portable: no engine-specific
    * functions, no inline fixture-table aliases (Oracle.rewrite contract). */
  val customerTiersSql: String =
    """WITH cust_orders AS (
      |  SELECT o_custkey,
      |         count(*) AS n_orders,
      |         CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents
      |  FROM orders
      |  GROUP BY o_custkey
      |)
      |SELECT c_custkey, n_name, n_orders, spend_cents,
      |       CASE WHEN spend_cents >= 100000000 THEN 'gold'
      |            WHEN spend_cents >= 50000000 THEN 'silver'
      |            ELSE 'bronze' END AS tier,
      |       CAST(rank() OVER (PARTITION BY n_name
      |                         ORDER BY spend_cents DESC, c_custkey)
      |            AS INT) AS rank_in_nation
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN cust_orders ON o_custkey = c_custkey
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY n_name, rank_in_nation, c_custkey""".stripMargin

  /** LATERAL correlated subquery — top-2 suppliers per nation, the
    * "per-row dependent subquery" SQL users reach for before they learn
    * window functions. Spark rewrites the correlated LIMIT subquery into a
    * DomainJoin + per-domain-group limit — same work as the q22 window
    * formulation, arrived at from SQL. Shared verbatim with DuckDB. */
  val lateralTopSuppliersSql: String =
    """SELECT n_name, s_suppkey, bal_cents
      |FROM nation,
      |  LATERAL (SELECT s_suppkey,
      |                  CAST(floor((s_acctbal) * 100.0 + 0.5) AS BIGINT) AS bal_cents
      |           FROM supplier
      |           WHERE s_nationkey = n_nationkey
      |           ORDER BY bal_cents DESC, s_suppkey
      |           LIMIT 2)
      |ORDER BY n_name, bal_cents DESC, s_suppkey""".stripMargin

  /** WITH RECURSIVE (Spark 4's recursive CTE) — ancestor chains over the
    * implicit binary tree `parent(k) = floor(k/2)`, seeded from the first
    * 50 orderkeys. Integer halving is spelled `floor(x / 2.0)` because
    * `/` is float division on integers in BOTH engines — that keeps the
    * string shared verbatim. Depth is bounded by log2(max seed) ≈ 6, far
    * under Spark's recursion-level limit (100). */
  val recursiveAncestorsSql: String =
    """WITH RECURSIVE anc(start_key, anc_key, depth) AS (
      |  SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey < 50
      |  UNION ALL
      |  SELECT start_key, CAST(floor(anc_key / 2.0) AS BIGINT), depth + 1
      |  FROM anc WHERE anc_key > 0
      |)
      |SELECT start_key, depth, anc_key FROM anc
      |ORDER BY start_key, depth""".stripMargin

  /** Scalar subqueries — the remaining SQL-subquery shape after q90's
    * EXISTS and q93's LATERAL: a CORRELATED scalar aggregate in the SELECT
    * list (per-nation supplier count / customer balance) and an
    * uncorrelated scalar in the WHERE. Spark de-correlates both into
    * aggregate-then-left-outer-join plans (RewriteCorrelatedScalarSubquery),
    * so the physical work is two broadcastable 25-row joins — no per-row
    * re-execution, which is what makes the shape safe at any fact-table
    * scale. coalesce() pins the no-match→0 semantics both engines share;
    * money goes through the exact-cents tree ([[Portable.centsSql]]
    * inlined). */
  val scalarSubquerySql: String =
    """SELECT n_name,
      |       CAST(coalesce((SELECT count(*) FROM supplier
      |                      WHERE s_nationkey = n_nationkey), 0)
      |            AS BIGINT) AS n_suppliers,
      |       CAST(coalesce((SELECT sum(CAST(floor((s_acctbal) * 100.0 + 0.5) AS BIGINT))
      |                      FROM supplier
      |                      WHERE s_nationkey = n_nationkey), 0)
      |            AS BIGINT) AS supp_bal_cents
      |FROM nation
      |WHERE n_regionkey < (SELECT max(r_regionkey) FROM region)
      |ORDER BY n_name""".stripMargin

  /** GROUP BY ALL / ORDER BY ALL — the analyst-ergonomics dialect both
    * engines adopted (group by every non-aggregate select item, order by
    * every select item left-to-right). Declared because the resolution
    * RULE is the operator here: a regression in how Spark expands ALL
    * (e.g. grouping on an aliased expression) silently changes results,
    * and a shared-verbatim string catches it. The underlying plan is the
    * plain q11-shaped hash aggregate. ORDER BY ALL on (flag, status, …)
    * is total because the two leading keys are the full grouping key. */
  val groupByAllSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       count(*) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(sum(CAST(floor((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS sum_price_cents
      |FROM lineitem
      |GROUP BY ALL
      |ORDER BY ALL""".stripMargin

  /** Registers the referenced fixture tables as temp views (idempotent) and
    * runs a shared SQL string through `spark.sql`. */
  private def viaSql(sql: String, tables: Seq[String])(
      s: SparkSession, dir: String): DataFrame = {
    tables.foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
    s.sql(sql)
  }

  def sqlTextQuery(s: SparkSession, dir: String): DataFrame =
    viaSql(customerTiersSql, Seq("customer", "nation", "orders"))(s, dir)

  def lateralQuery(s: SparkSession, dir: String): DataFrame =
    viaSql(lateralTopSuppliersSql, Seq("nation", "supplier"))(s, dir)

  def recursiveQuery(s: SparkSession, dir: String): DataFrame =
    viaSql(recursiveAncestorsSql, Seq("orders"))(s, dir)

  def scalarSubqueryQuery(s: SparkSession, dir: String): DataFrame =
    viaSql(scalarSubquerySql, Seq("nation", "supplier", "region"))(s, dir)

  def groupByAllQuery(s: SparkSession, dir: String): DataFrame =
    viaSql(groupByAllSql, Seq("lineitem"))(s, dir)

  /** SQL session VARIABLES + EXECUTE IMMEDIATE (Spark 4) — state that
    * lives in the session, not the query string: DECLARE a threshold,
    * SET it from a scalar subquery (integer DIV keeps it exact), then
    * run a census that references the variable from dynamically-supplied
    * SQL text. This is the migration surface for stored-proc-style
    * warehouse scripts; the oracle re-derives the variable as a CTE, so
    * a green row proves the variable binding matches the inline form. */
  def sessionVariableQuery(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("DECLARE OR REPLACE VARIABLE hi_cents BIGINT")
    s.sql("""SET VARIABLE hi_cents =
            |  (SELECT max(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) DIV 2
            |   FROM orders)""".stripMargin)
    s.sql("""EXECUTE IMMEDIATE
            |  'SELECT o_orderpriority,
            |          count(*) AS n_hi,
            |          hi_cents AS threshold_cents
            |   FROM orders
            |   WHERE CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) >= hi_cents
            |   GROUP BY o_orderpriority, hi_cents
            |   ORDER BY o_orderpriority'""".stripMargin)
  }

  /** Parameterized SQL (named parameter markers, Spark 3.4+) — the
    * injection-safe API form of query templating: the SQL text carries
    * `:prio` / `:min_cents` markers and the values bind at call time.
    * The oracle inlines the same constants; a green row proves the
    * binding path is value-identical to literal SQL. */
  def parameterizedQuery(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderkey, o_orderpriority,
        |       CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_orderpriority = :prio
        |  AND CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) >= :min_cents
        |ORDER BY o_orderkey""".stripMargin,
      Map("prio" -> "1-URGENT", "min_cents" -> 10000000L))
  }

  /** LATERAL VIEW dialect (Hive-inherited generator syntax) — the SQL
    * spelling of q80's posexplode and q86's inline, still the syntax most
    * migrated warehouse SQL arrives in. OUTER keeps empty-token docs (the
    * '' token row) — the LEFT JOIN semantics of generators. The plan is
    * identical to the DataFrame generators; the declared value is the
    * dialect resolution. DuckDB twin: unnest WITH ORDINALITY equivalent
    * via generate_subscripts-free list position. */
  val lateralViewSql: String =
    """SELECT doc_id, pos, tok
      |FROM documents
      |LATERAL VIEW OUTER posexplode(split(text, ' ')) t AS pos, tok
      |WHERE doc_id % 20 = 0
      |ORDER BY doc_id, pos""".stripMargin

  def lateralViewQuery(s: SparkSession, dir: String): DataFrame =
    viaSql(lateralViewSql, Seq("documents"))(s, dir)

  /** SQL-text PIVOT clause (Spark's parser surface for q58's DataFrame
    * pivot): status columns spread wide with exact-cents cells. The
    * DuckDB twin states the same table as conditional aggregation —
    * PIVOT is sugar over it in both engines, and the empty cell stays
    * NULL (never fabricated 0) on both sides. */
  val pivotTextSql: String =
    """SELECT * FROM (
      |  SELECT o_orderpriority, o_orderstatus,
      |         CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) AS pc
      |  FROM orders
      |)
      |PIVOT (
      |  CAST(sum(pc) AS BIGINT)
      |  FOR o_orderstatus IN ('O' AS st_o, 'F' AS st_f, 'P' AS st_p)
      |)
      |ORDER BY o_orderpriority""".stripMargin

  def pivotTextQuery(s: SparkSession, dir: String): DataFrame =
    viaSql(pivotTextSql, Seq("orders"))(s, dir)

  /** SQL-text UNPIVOT clause (Spark 3.4+; the parser surface for q79's
    * melt): two metric columns fold to (metric, val) rows. UNPIVOT drops
    * NULL cells by default in Spark — the fixture columns are non-null,
    * and the oracle's UNION-ALL form states the same table. */
  val unpivotTextSql: String =
    """SELECT o_orderkey, metric, val FROM (
      |  SELECT o_orderkey,
      |         CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) AS price_cents,
      |         CAST(o_custkey AS BIGINT) AS custkey
      |  FROM orders
      |  WHERE o_orderkey % 100 = 0
      |)
      |UNPIVOT (val FOR metric IN (price_cents, custkey))
      |ORDER BY o_orderkey, metric""".stripMargin

  def unpivotTextQuery(s: SparkSession, dir: String): DataFrame =
    viaSql(unpivotTextSql, Seq("orders"))(s, dir)

  /** SQL-standard FILTER clause on aggregates (the ANSI spelling of
    * q15's when()-conditional aggregation) — ONE string shared verbatim
    * with DuckDB: both engines implement the standard, so the oracle IS
    * the query. sum FILTER over an empty group stays NULL on both. */
  val filterClauseSql: String =
    """SELECT o_orderpriority,
      |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
      |       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
      |       CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT))
      |            FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_cents
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  def filterClauseQuery(s: SparkSession, dir: String): DataFrame =
    viaSql(filterClauseSql, Seq("orders"))(s, dir)

  val declared: Seq[Query] = Seq(
    Query("q269_sql_pivot_text", pivotTextQuery,
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN pc END) AS BIGINT) AS st_o,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN pc END) AS BIGINT) AS st_f,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN pc END) AS BIGINT) AS st_p
        |FROM (
        |  SELECT o_orderpriority, o_orderstatus,
        |         CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) AS pc
        |  FROM orders
        |)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Query("q270_sql_unpivot_text", unpivotTextQuery,
      """SELECT o_orderkey, metric, val FROM (
        |  SELECT o_orderkey, 'price_cents' AS metric,
        |         CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) AS val
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'custkey', CAST(o_custkey AS BIGINT)
        |  FROM orders WHERE o_orderkey % 100 = 0
        |)
        |ORDER BY o_orderkey, metric""".stripMargin),
    Query("q271_sql_filter_clause", filterClauseQuery, filterClauseSql),
    Query("q179_sql_lateral_view", lateralViewQuery,
      """SELECT doc_id,
        |       CAST(pos1 - 1 AS INT) AS pos,
        |       tok
        |FROM (
        |  SELECT doc_id,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos1,
        |         unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |  WHERE doc_id % 20 = 0)
        |ORDER BY doc_id, pos""".stripMargin),
    Query("q160_sql_session_variable", sessionVariableQuery,
      """WITH v AS (
        |  SELECT max(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) // 2 AS hi_cents
        |  FROM orders)
        |SELECT o_orderpriority,
        |       count(*) AS n_hi,
        |       hi_cents AS threshold_cents
        |FROM orders, v
        |WHERE CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) >= hi_cents
        |GROUP BY o_orderpriority, hi_cents
        |ORDER BY o_orderpriority""".stripMargin),
    Query("q161_sql_parameterized", parameterizedQuery,
      """SELECT o_orderkey, o_orderpriority,
        |       CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) AS price_cents
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |  AND CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT) >= 10000000
        |ORDER BY o_orderkey""".stripMargin),
    Query("q90_sql_text_api", sqlTextQuery, customerTiersSql),
    Query("q93_sql_lateral", lateralQuery, lateralTopSuppliersSql),
    Query("q94_sql_recursive_cte", recursiveQuery, recursiveAncestorsSql),
    Query("q99_sql_scalar_subquery", scalarSubqueryQuery, scalarSubquerySql),
    Query("q134_sql_group_by_all", groupByAllQuery, groupByAllSql))
}
