package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.operators.TwoPass
import Portable._

/** Window-function surface (SURVEY.md §2.B): ranking, analytic (lag/lead/
  * first_value), row/range frames, top-k per group.
  *
  * Scale stance: one shuffle per distinct `partitionBy` key set, then a
  * per-partition sort — the partition key must have enough cardinality to
  * spread (customer/nation keys here, never a constant). Every window's
  * ORDER BY is a total order (unique key appended) so rank/ntile/frames are
  * deterministic under any physical row order.
  */
object Windows {

  /** Ranking family over suppliers within nation. */
  def rankFamily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"s_nationkey")
      .orderBy($"s_acctbal".desc, $"s_suppkey".asc)
    Tables.supplier(s, dir)
      .select($"s_nationkey", $"s_suppkey", $"s_name",
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"))
      .orderBy($"s_nationkey", $"s_suppkey")
  }

  /** Analytic family over each customer's order history. */
  def lagLead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .withColumn("price_cents", cents($"o_totalprice"))
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        lag($"price_cents", 1).over(w).as("prev_cents"),
        lead($"price_cents", 1).over(w).as("next_cents"),
        first_value($"price_cents").over(w).as("first_cents"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Frames: running total (rows unbounded→current) and a centered 7-row
    * sliding mean derived from exact integer sums. */
  def frames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = w.rowsBetween(-3, 3)
    Tables.orders(s, dir)
      .withColumn("price_cents", cents($"o_totalprice"))
      .select($"o_custkey", $"o_orderkey",
        sum($"price_cents").over(running).as("running_cents"),
        ratio(sum($"price_cents").over(sliding), count(lit(1)).over(sliding))
          .as("sliding_avg_cents"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Top-k per group: row_number + filter — the scalable formulation (no
    * global sort; per-group work bounded by k after the window). Join
    * inputs pruned to referenced columns; the fixed-size nation dim is
    * broadcast explicitly, customer is left to Catalyst — it scales with
    * the fact tables, so a hard broadcast hint would OOM at large SF while
    * size-based planning still broadcasts it when it fits. */
  def topKPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val c = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
    val n = Tables.nation(s, dir).select($"n_nationkey", $"n_name")
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .withColumn("price_cents", cents($"o_totalprice"))
    val w = Window.partitionBy($"n_name")
      .orderBy($"price_cents".desc, $"o_orderkey".asc)
    joined
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"n_name", $"rn", $"o_orderkey", $"price_cents")
      .orderBy($"n_name", $"rn")
  }

  /** RANGE frame (value-based, vs q21's row-based frames): per customer,
    * orders within ±15 days of each order by VALUE distance on the epoch
    * axis — rows at equal distance all enter the frame regardless of row
    * position, which is what rowsBetween cannot express. */
  def rangeFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val day = 86400L
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"epoch_s".asc)
      .rangeBetween(-15 * day, 15 * day)
    Tables.orders(s, dir)
      .withColumn("epoch_s", unix_timestamp($"o_orderdate"))
      .withColumn("price_cents", cents($"o_totalprice"))
      .select($"o_custkey", $"o_orderkey", $"epoch_s",
        count(lit(1)).over(w).as("n_within_30d"),
        sum($"price_cents").over(w).as("cents_within_30d"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Distribution family (percent_rank / cume_dist): each order's price
    * position within its priority class as a [0,1] quantile — the window
    * analytics q19's ranking family doesn't cover. Ordering includes the
    * key (no ties), so rank == row_number and both functions reduce to
    * small-integer divisions — bit-identical across engines. That same
    * reduction is the SCALE story (r10): a partitionBy(priority) window
    * would serialize all orders onto |priorities| sort tasks, so the rank
    * comes from the TwoPass GROUPED two-pass instead, and
    * percent_rank/cume_dist are derived as (rn−1)/(n−1) and rn/n — one
    * exact-integer IEEE divide each, the identical op tree the engines'
    * native functions evaluate (single-row groups pinned to 0/1 like the
    * engines define them). */
  def distribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TwoPass.groupedRankWithCount(
        Tables.orders(s, dir)
          .withColumn("price_cents", cents($"o_totalprice"))
          .select($"o_orderpriority", $"o_orderkey", $"price_cents"),
        Seq("o_orderpriority"), "rn", "n",
        $"price_cents".asc, $"o_orderkey".asc)
      .select($"o_orderpriority", $"o_orderkey", $"price_cents",
        when($"n" === 1L, lit(0.0))
          .otherwise(ratio($"rn" - 1, $"n" - 1)).as("pct_rank"),
        ratio($"rn", $"n").as("cume"))
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  /** nth_value + last_value with explicit frames — the analytic-family
    * tail q20 (lag/lead/first) leaves open. nth_value needs the SAME
    * default-frame semantics on both engines, so the frame is pinned
    * explicitly: the running frame for nth (null until the 2nd row
    * arrives), the full-partition frame for last (group-constant).
    * Deterministic: the (date, key) sort is total per customer. */
  def nthValue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val order = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .withColumn("price_cents", cents($"o_totalprice"))
      .select($"o_custkey", $"o_orderkey",
        nth_value($"price_cents", 2).over(running).as("second_seen_cents"),
        last($"price_cents").over(whole).as("last_cents"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Running DISTINCT count over a window — an operator NEITHER engine
    * has natively (`count(DISTINCT) OVER` is unsupported SQL in both), so
    * this declares the scalable COMPOSITION: pass 1 marks each key's
    * first occurrence in the running order (row_number over
    * (partition, key) == 1), pass 2 running-sums the first-occurrence
    * flags. Two sort-based window passes, no per-row set buffer — the
    * naive `size(collect_set() OVER)` alternative holds a hash-set per
    * ROW inside the frame and collapses at 100 TB; this form's state per
    * window pass is one row. The (o_orderdate, o_orderkey) order is
    * total, so every intermediate row is deterministic. The oracle
    * replicates the identical composition in SQL. */
  def countDistinctRunning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pass 1: first-occurrence flags — keyed on (priority, customer),
    // high-cardinality, fully parallel
    val firstSeen = Window.partitionBy($"o_orderpriority", $"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
    val flagged = Tables.orders(s, dir)
      .withColumn("is_first",
        when(row_number().over(firstSeen) === 1, lit(1L)).otherwise(lit(0L)))
      .select($"o_orderpriority", $"o_orderkey", $"o_orderdate", $"is_first")
    // pass 2 (r10): the running flag-sum per priority is the q212 class —
    // a partitionBy(priority) window serializes all orders onto
    // |priorities| tasks — so it rides the TwoPass grouped running sum.
    TwoPass.groupedRankAndRunningSum(flagged, Seq("o_orderpriority"),
        "rn", "cnt", "run_distinct_custs", $"is_first",
        $"o_orderdate".asc, $"o_orderkey".asc)
      .select($"o_orderpriority", $"o_orderkey", $"run_distinct_custs")
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  /** Top-k per group WITH TIES — the rank() twin of q22's row_number
    * form: a supplier tied on the k-th balance is kept, not arbitrarily
    * dropped (the semantics a leaderboard wants; row_number's tiebreak
    * is the one an idempotent export wants — declaring both pins the
    * difference). rank() <= k is WindowGroupLimit-eligible exactly like
    * row_number, so the partial top-k still prunes before the shuffle. */
  def topKWithTies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"s_nationkey").orderBy($"bal_cents".desc)
    Tables.supplier(s, dir)
      .withColumn("bal_cents", cents($"s_acctbal"))
      .withColumn("rnk", rank().over(w))
      .filter($"rnk" <= 3)
      .select($"s_nationkey", $"rnk", $"s_suppkey", $"bal_cents")
      .orderBy($"s_nationkey", $"rnk", $"s_suppkey")
  }

  /** RESET window — "events since the last purchase" per user: a running
    * counter that restarts at every marker event. Neither engine has a
    * native reset frame; the scalable composition is the segment trick —
    * a running sum of marker flags numbers the segments, then a
    * row_number within (user, segment) counts from each reset. Both
    * windows share ONE per-user sort (same chain argument as q172); the
    * segment id shuffles nothing extra. The marker row itself reports 0
    * (the counter covers events strictly after it). */
  def windowReset(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val seg = Window.partitionBy($"user_id", $"seg_id")
      .orderBy($"ts".asc, $"event_id".asc)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("is_marker", when($"event_type" === "purchase", 1L).otherwise(0L))
      .withColumn("seg_id", sum($"is_marker").over(running))
      .withColumn("since_purchase",
        (row_number().over(seg) - 1).cast("long"))
      // rows before any purchase (seg 0) count from the stream start;
      // report -1 there to keep "since a purchase" honest
      .select($"user_id", $"event_id",
        when($"seg_id" === 0L, lit(-1L)).otherwise($"since_purchase")
          .as("since_purchase"))
      .orderBy($"user_id", $"event_id")
  }

  val declared: Seq[Query] = Seq(
    Query("q184_window_reset", windowReset,
      """SELECT user_id, event_id,
        |       CASE WHEN seg_id = 0 THEN -1
        |            ELSE CAST(row_number() OVER (PARTITION BY user_id, seg_id
        |                                         ORDER BY ts ASC, event_id ASC) - 1
        |                 AS BIGINT) END AS since_purchase
        |FROM (
        |  SELECT user_id, ts, event_id,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
        |  FROM events)
        |ORDER BY user_id, event_id""".stripMargin),
    Query("q175_window_topk_ties", topKWithTies,
      s"""SELECT s_nationkey, CAST(rnk AS INT) AS rnk, s_suppkey, bal_cents
         |FROM (
         |  SELECT s_nationkey, s_suppkey,
         |         ${centsSql("s_acctbal")} AS bal_cents,
         |         rank() OVER (PARTITION BY s_nationkey
         |                      ORDER BY ${centsSql("s_acctbal")} DESC) AS rnk
         |  FROM supplier)
         |WHERE rnk <= 3
         |ORDER BY s_nationkey, rnk, s_suppkey""".stripMargin),
    Query("q146_window_count_distinct", countDistinctRunning,
      """SELECT o_orderpriority, o_orderkey,
        |       CAST(sum(is_first) OVER (PARTITION BY o_orderpriority
        |                                ORDER BY o_orderdate ASC, o_orderkey ASC
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS BIGINT) AS run_distinct_custs
        |FROM (SELECT o_orderpriority, o_orderkey, o_orderdate,
        |             CASE WHEN row_number() OVER (PARTITION BY o_orderpriority, o_custkey
        |                                          ORDER BY o_orderdate ASC, o_orderkey ASC) = 1
        |                  THEN 1 ELSE 0 END AS is_first
        |      FROM orders)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),
    Query("q141_window_nth_value", nthValue,
      s"""SELECT o_custkey, o_orderkey,
         |       nth_value(${centsSql("o_totalprice")}, 2)
         |         OVER (PARTITION BY o_custkey
         |               ORDER BY o_orderdate ASC, o_orderkey ASC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_seen_cents,
         |       last_value(${centsSql("o_totalprice")})
         |         OVER (PARTITION BY o_custkey
         |               ORDER BY o_orderdate ASC, o_orderkey ASC
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_cents
         |FROM orders
         |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("q85_window_distribution", distribution,
      s"""SELECT o_orderpriority, o_orderkey, price_cents,
         |       percent_rank() OVER w AS pct_rank,
         |       cume_dist() OVER w AS cume
         |FROM (SELECT o_orderpriority, o_orderkey,
         |             ${centsSql("o_totalprice")} AS price_cents
         |      FROM orders)
         |WINDOW w AS (PARTITION BY o_orderpriority
         |             ORDER BY price_cents ASC, o_orderkey ASC)
         |ORDER BY o_orderpriority, o_orderkey""".stripMargin),
    Query("q62_window_range_frame", rangeFrame,
      s"""SELECT o_custkey, o_orderkey, epoch_s,
         |       count(*) OVER w AS n_within_30d,
         |       CAST(sum(price_cents) OVER w AS BIGINT) AS cents_within_30d
         |FROM (SELECT o_custkey, o_orderkey,
         |             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
         |             ${centsSql("o_totalprice")} AS price_cents
         |      FROM orders)
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_s ASC
         |             RANGE BETWEEN 1296000 PRECEDING AND 1296000 FOLLOWING)
         |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("q19_window_rank", rankFamily,
      """SELECT s_nationkey, s_suppkey, s_name,
        |       CAST(row_number() OVER w AS INT) AS rn,
        |       CAST(rank() OVER w AS INT) AS rnk,
        |       CAST(dense_rank() OVER w AS INT) AS drnk,
        |       CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC)
        |ORDER BY s_nationkey, s_suppkey""".stripMargin),
    Query("q20_window_lag_lead", lagLead,
      s"""SELECT o_custkey, o_orderkey, o_orderdate,
         |       lag(price_cents, 1) OVER w AS prev_cents,
         |       lead(price_cents, 1) OVER w AS next_cents,
         |       first_value(price_cents) OVER w AS first_cents
         |FROM (SELECT *, ${centsSql("o_totalprice")} AS price_cents FROM orders)
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
         |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("q21_window_frames", frames,
      s"""SELECT o_custkey, o_orderkey,
         |       CAST(sum(price_cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
         |       ${ratioSql(
             "CAST(sum(price_cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)",
             "count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)")} AS sliding_avg_cents
         |FROM (SELECT *, ${centsSql("o_totalprice")} AS price_cents FROM orders)
         |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("q22_window_topk_per_group", topKPerGroup,
      s"""SELECT n_name, CAST(rn AS INT) AS rn, o_orderkey, price_cents FROM (
         |  SELECT n_name, o_orderkey, price_cents,
         |         row_number() OVER (PARTITION BY n_name
         |                            ORDER BY price_cents DESC, o_orderkey ASC) AS rn
         |  FROM (SELECT n_name, o_orderkey, ${centsSql("o_totalprice")} AS price_cents
         |        FROM orders
         |        JOIN customer ON o_custkey = c_custkey
         |        JOIN nation   ON c_nationkey = n_nationkey)
         |) WHERE rn <= 3
         |ORDER BY n_name, rn""".stripMargin)
  )
}
