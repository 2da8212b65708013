package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._

import graft.Tables
import Portable._

/** Source/sink surface (SURVEY.md §2.B "Scans / sources / sinks") plus the
  * streaming batch-equivalence query.
  *
  * The CSV/JSON queries are declared *round-trips*: Spark writes the format
  * (the reference's R19 CSV sink, generalized), then reads it back with an
  * EXPLICIT schema — never `inferSchema`, which at 100 TB means a second
  * full pass over the data before the first real one. The DuckDB oracle
  * reads the original parquet, so parity proves the transport is lossless.
  * Columns are keys/strings/exact integer cents only: raw doubles through a
  * text format would re-open the float-formatting divergence Portable
  * exists to close.
  *
  * Scale note: the staged copy is written per scale-factor dir under /tmp —
  * a test-harness detail; the operators under test are `DataFrameWriter.csv/
  * json` + `DataFrameReader.schema(...).csv/json`, which shard per-partition
  * on any cluster.
  */
object Sources {

  // Per-JVM staging root: two concurrent sessions at the same scale factor
  // must not overwrite each other's round-trip files mid-read.
  private def stage(dir: String, name: String): String =
    s"/tmp/graft_stage/${ProcessHandle.current.pid}/${new java.io.File(dir).getName}/$name"

  /** CSV sink with header (reference R19) + CSV source with explicit
    * schema: write → read-back → total order. */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "customer_csv")
    Tables.customer(s, dir)
      .select($"c_custkey", $"c_name", $"c_nationkey", $"c_mktsegment",
        cents($"c_acctbal").as("acct_cents"))
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_mktsegment", StringType),
      StructField("acct_cents", LongType)))
    s.read.schema(schema).option("header", "true").csv(out)
      .orderBy($"c_custkey")
  }

  /** JSON-lines sink + source with explicit schema (events.props payloads
    * stay opaque JSON strings through the round-trip). */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "events_json")
    Tables.events(s, dir)
      .select($"event_id", $"event_type", $"user_id", $"props",
        cents($"value").as("value_cents"))
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("user_id", LongType),
      StructField("props", StringType),
      StructField("value_cents", LongType)))
    s.read.schema(schema).json(out)
      .orderBy($"event_id")
  }

  /** The streaming tumbling-window operator applied to the batch frame —
    * the same `DataFrame => DataFrame` the stream runs (Streams
    * .tumblingCounts), so DuckDB parity here plus the batch-equivalence
    * specs in StreamsSpec cover the streaming path end-to-end. */
  def streamTumblingBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.streaming.Streams.tumblingCounts(Tables.events(s, dir))
      .orderBy($"ws", $"event_type")
  }

  /** The two-chained-stateful-aggregation pipeline (Streams
    * .twoLevelDailyMax) on the batch frame — hourly counts re-rolled to
    * a daily burst/total profile. Same contract as q39/q68: DuckDB
    * parity here plus the StreamsSpec append-mode equivalence test cover
    * the streaming multi-stateful path end-to-end. */
  def streamTwoLevelBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.streaming.Streams.twoLevelDailyMax(Tables.events(s, dir))
      .orderBy($"day", $"event_type")
  }

  /** Gap-based sessionization in batch (30-minute inactivity gap), the
    * SQL-expressible complement to `session_window` (whose streaming form
    * StreamsSpec covers by batch equivalence): lag to flag gaps, running
    * sum to number sessions, then a session-length histogram. One shuffle
    * on user_id — the same partitioning the streaming state store uses. */
  def sessionizationBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_sess",
        when($"prev_ts".isNull ||
          unix_timestamp($"ts") - unix_timestamp($"prev_ts") > 1800, 1)
          .otherwise(0))
      .withColumn("sess_id", sum($"new_sess").over(running))
      .groupBy($"user_id", $"sess_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy($"n_events")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_events")
  }

  /** The streaming sliding-window operator (Streams.slidingCounts, 1-hour
    * window every 15 minutes) applied to the batch frame — each event lands
    * in exactly window/slide = 4 windows. Same contract as q39: DuckDB
    * parity here + the StreamsSpec batch-equivalence spec cover the
    * streaming path. */
  def streamSlidingBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.streaming.Streams.slidingCounts(Tables.events(s, dir))
      .orderBy($"ws", $"event_type")
  }

  /** `session_window` proper (Streams.sessionCounts, 30-minute gap) on the
    * batch frame. Sessions merge while each event starts within `gap` of
    * the previous one — a new session opens exactly when the inter-event
    * gap is >= 30 minutes (the window is the half-open union of
    * [ts, ts+gap)), which is what the lag/cumsum oracle encodes. */
  def streamSessionBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.streaming.Streams.sessionCounts(Tables.events(s, dir))
      .orderBy($"ss", $"user_id")
  }

  /** The stream-stream click→view interval join (Streams.clickViewJoin)
    * applied to batch frames — same `(DataFrame, DataFrame) => DataFrame`
    * the stream runs; DuckDB parity here plus the StreamsSpec
    * batch-equivalence case cover the streaming path. */
  def streamJoinBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    graft.streaming.Streams.clickViewJoin(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "view"))
      .orderBy($"click_id", $"view_id")
  }

  /** The LEFT OUTER stream-stream join (Streams.clickViewJoinOuter) on
    * batch frames — unmatched clicks surface with -1 view sentinels, the
    * drop-off rows the inner q77 form cannot express. */
  def streamOuterJoinBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    graft.streaming.Streams.clickViewJoinOuter(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "view"))
      .orderBy($"click_id", $"view_id")
  }

  /** The FULL OUTER stream-stream join (Streams.clickViewJoinFull) on
    * batch frames — unmatched rows from BOTH sides surface with -1
    * sentinels (unclaimed views are the rows neither q77 nor q112 can
    * express). (click_id, view_id) with sentinels is still a total order:
    * ids are unique within each unmatched class. */
  def streamFullJoinBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    graft.streaming.Streams.clickViewJoinFull(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "view"))
      .orderBy($"click_id", $"view_id")
  }

  /** The LEFT SEMI stream-stream join (Streams.clickViewJoinSemi) on
    * batch frames — each converted click exactly once, no view-fanout
    * (the per-click cardinality q77's inner join can't give). click_id
    * is unique → total order. */
  def streamSemiJoinBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    graft.streaming.Streams.clickViewJoinSemi(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "view"))
      .orderBy($"click_id")
  }

  /** The RIGHT OUTER stream-stream join (Streams.clickViewJoinRight) on
    * batch frames — unclaimed views surface with -1 click sentinels.
    * (view_id unique among unmatched; pairs ordered) total order. */
  def streamRightJoinBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    graft.streaming.Streams.clickViewJoinRight(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "view"))
      .orderBy($"click_id", $"view_id")
  }

  /** Session windows with a DYNAMIC per-event gap — purchases hold a
    * session open for 60 minutes, everything else for 10: Spark's
    * `session_window(ts, gapExpr)` form, whose semantics are INTERVAL
    * MERGING ([ts, ts+gap) windows coalesce while they overlap), not
    * q61's fixed-gap chain rule — a chain formulation with mixed gaps
    * would split sessions a long-gap event still holds open. The oracle
    * replicates the merge rule exactly: running max of interval ends per
    * user, new session iff the event starts at-or-after every previous
    * end — compared at MICROSECOND precision (a floored-seconds compare
    * mis-classifies gap-boundary events, which the denser soak timeline
    * exposed). */
  def sessionDynamicGap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gap = when($"event_type" === "purchase", lit("60 minutes"))
      .otherwise(lit("10 minutes"))
    Tables.events(s, dir)
      .groupBy($"user_id", session_window($"ts", gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id",
        unix_timestamp($"sw.start").as("sess_start_s"),
        unix_timestamp($"sw.end").as("sess_end_s"),
        $"n_events")
      .orderBy($"user_id", $"sess_start_s")
  }

  /** Partition-pruned scan — the single biggest 100 TB lever made
    * DECLARED and measurable: stage orders as a year-partitioned parquet
    * table, read it back with a partition filter, and aggregate only the
    * surviving partition. The filter never touches row data: it prunes
    * whole directories at planning time (the plan shows it under
    * PartitionFilters, guarded in PlanAssertionsSpec) — at 100 TB this
    * is the difference between scanning one year and scanning the lake.
    * The oracle replays the same predicate over the unpartitioned
    * fixture: a green row proves partition columns round-trip losslessly
    * through directory encoding (the int→string→int path). */
  def partitionPrunedScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "orders_by_year")
    Tables.orders(s, dir)
      .withColumn("o_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    s.read.parquet(out)
      .filter($"o_year" === 1996)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"o_orderpriority")
  }

  /** DYNAMIC partition pruning — the runtime form of q154's lever: the
    * fact side is partitioned by year, the filter lives on a joined
    * DIMENSION (a tiny year→era table filtered to one era), and Spark
    * injects the dim's surviving keys into the fact scan as a runtime
    * partition predicate (dynamicpruningexpression in the plan,
    * guarded). This is how a star-schema query at 100 TB reads only the
    * partitions its dimension slice touches WITHOUT the user repeating
    * the filter on the fact — the optimization TPC-DS lives and dies
    * by. The dim is derived deterministically in-plan; the oracle
    * replays the same join over the unpartitioned fixture. */
  def dynamicPartitionPruning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "orders_by_year_dpp")
    Tables.orders(s, dir)
      .withColumn("o_year", year($"o_orderdate"))
      .write.mode("overwrite").partitionBy("o_year").parquet(out)
    // year→era dim: 1995-1997 'early', rest 'late'; filter selects 'early'
    val dim = s.range(1995, 2002).select($"id".cast("int").as("d_year"))
      .withColumn("era", when($"d_year" <= 1997, lit("early")).otherwise(lit("late")))
    s.read.parquet(out)
      .join(broadcast(dim.filter($"era" === "early")), $"o_year" === $"d_year")
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n"), sum(cents($"o_totalprice")).as("sum_cents"))
      .orderBy($"o_year")
  }

  /** Corrupt-tolerant JSON ingest — the engine-level form of the
    * reference's error-tolerant scan (R2: a bad page logs and the run
    * continues): stage a JSON-lines file where every 10th record is
    * BROKEN mid-object, read it back PERMISSIVE with `_corrupt_record`
    * projected, and census good vs corrupt plus an exact-cents total
    * over the survivors. At 100 TB this is the contract that one
    * malformed row costs one NULL-row, never a failed job — and the
    * corrupt count is the data-quality metric the ingest dashboard
    * plots. The oracle re-derives the census from the source fixture
    * (the staged corruption is deterministic by key). */
  def corruptTolerantJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "events_mixed_json")
    Tables.events(s, dir)
      .select(when($"event_id" % 10 === 0,
          concat(lit("{\"event_id\": "), $"event_id", lit(", BROKEN")))
        .otherwise(to_json(struct($"event_id", $"event_type",
          cents($"value").as("value_cents")))).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("event_id", org.apache.spark.sql.types.LongType),
      StructField("event_type", StringType),
      StructField("value_cents", org.apache.spark.sql.types.LongType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema).json(out)
      .groupBy()
      .agg(
        count(lit(1)).as("n_total"),
        count($"_corrupt_record").as("n_corrupt"),
        count($"event_id").as("n_good"),
        sum($"value_cents").as("good_cents"))
  }

  /** DYNAMIC partition overwrite — the daily-correction write every
    * partitioned lakehouse table lives by: a second write touching ONLY
    * the 1996 partition (prices restated ×2) replaces that directory and
    * must leave every other year byte-untouched — mode=overwrite with
    * STATIC semantics would instead truncate the whole table to one year
    * (the classic data-loss misconfiguration this query pins against).
    * Writer-level option, no session mutation. The oracle re-derives the
    * expected post-correction table from the fixture. */
  def dynamicPartitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "orders_dpo")
    val base = Tables.orders(s, dir)
      .withColumn("o_year", year($"o_orderdate"))
      .select($"o_orderkey", $"o_year", cents($"o_totalprice").as("pc"))
    base.write.mode("overwrite").partitionBy("o_year").parquet(out)
    base.filter($"o_year" === 1996)
      .withColumn("pc", $"pc" * 2L)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_year").parquet(out)
    s.read.parquet(out)
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n"), sum($"pc").as("sum_cents"))
      .orderBy($"o_year")
  }

  /** Schema evolution ON READ (mergeSchema) — batch 2 of a feed gains a
    * column; the union read must surface batch-1 rows with NULLs there,
    * not fail and not silently drop the column (parquet's default reads
    * the FIRST file's schema — mergeSchema=true is the contract that
    * makes additive evolution safe). Census by column presence; oracle
    * re-derives both batches from the fixture. */
  def mergeSchemaRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "orders_evolving")
    val v1 = Tables.orders(s, dir).filter($"o_orderkey" % 2 === 0)
      .select($"o_orderkey", cents($"o_totalprice").as("pc"))
    val v2 = Tables.orders(s, dir).filter($"o_orderkey" % 2 === 1)
      .select($"o_orderkey", cents($"o_totalprice").as("pc"),
        $"o_orderpriority".as("prio"))
    v1.write.mode("overwrite").parquet(s"$out/b=1")
    v2.write.mode("overwrite").parquet(s"$out/b=2")
    s.read.option("mergeSchema", "true").parquet(out)
      .groupBy($"prio".isNull.as("prio_missing"))
      .agg(count(lit(1)).as("n"), sum($"pc").as("sum_cents"))
      .orderBy($"prio_missing")
  }

  /** ORC sink + source round-trip — the second columnar format next to
    * parquet (built into Spark; a lakehouse migration regularly has to
    * read legacy ORC). Write typed columns (long/string/timestamp/exact
    * cents) to ORC, read them back with the file-embedded schema, total
    * order. The oracle reads the SAME logical rows straight from the
    * parquet fixture: a green row proves the ORC round-trip is lossless
    * for every type carried. */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "orders_orc")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_orderdate",
        cents($"o_totalprice").as("price_cents"))
      .write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy($"o_orderkey")
  }

  /** Hidden `_metadata` file columns — the lakehouse debugging surface
    * (which physical file did this row come from, how many rows per
    * file): read the fixture with `_metadata.file_name` projected and
    * census per file. The fixtures are single-file tables, so the oracle
    * re-derives the expected name as a literal (the q129 pattern: the
    * declared check is that Spark's metadata column lands on the known
    * physical layout). At scale this is the operator behind file-level
    * skew diagnosis and compaction targeting (Bucketing.compact reads
    * the same sizes filesystem-side). */
  def fileMetadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"_metadata.file_name".as("fname"))
      .groupBy($"fname")
      .agg(count(lit(1)).as("n_rows"), max($"l_orderkey").as("max_key"))
      .orderBy($"fname")
  }

  /** The reference's CORE — the R9–R18 HTML-extract path
    * (`/root/reference/download_lambda.py:87-119`) — under the driver's
    * hard signal: listing-card HTML is synthesized IN-PLAN from fixture
    * columns (fixtures carry no HTML — the q74 synthesis pattern), pages
    * are exploded back into typed rows by the `graft_extract_listings`
    * Generator (`functions/ExtractListings.scala`), and the result is
    * censused per barrio. The synthesis deliberately exercises the
    * BS4-faithful corners the golden specs pin:
    *   - attribute quote style rotates per row (double / single /
    *     unquoted — all legal HTML, all parsed by BS4's html.parser);
    *   - a decoy `listing-card__content-extra` div must NOT open a card
    *     (class matching is per-TOKEN, never substring);
    *   - some cards carry a multi-token class attr ("card featured
    *     listing-card__content") — token matching again;
    *   - the price span nests a <b> (get_text concatenates STRIPPED text
    *     nodes: "$ <b>123</b>" → "$123");
    *   - every 13th card puts a bedrooms <p> with NO content attr BEFORE
    *     a well-formed one — BS4's `find` semantics say the first match
    *     decides, so the value must be None, not 3;
    *   - every 11th card omits the bathrooms <p> entirely (miss → None).
    * The ORACLE inverts none of this: DuckDB computes the same census
    * DIRECTLY from the fixture columns, so an extraction bug on the
    * Spark side diverges from an independently-derived answer instead of
    * being mirrored by a twin regex. Scale: card synthesis and the parse
    * are map-side; pages shuffle once on page id (page count grows with
    * the data — 50 cards/page, never a fixed group count), the census
    * once on barrio. All numeric census measures are exact integers
    * (mts2 is synthesized as exact half-integers and folded as 2×mts2). */
  def extractListingsCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.customer(s, dir)
      .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
      .select(
        $"c_custkey",
        trim($"n_name").as("barrio"),
        (($"c_custkey" * 7919) % 900000 + 100000).as("price"),
        ($"c_custkey" % 5 + 1).as("hab"),
        ($"c_custkey" % 3 + 1).as("ban"),
        (($"c_custkey" % 240 + 60) / lit(2.0)).as("mts2"),
        expr("c_custkey DIV 50").as("page"))
    // content attribute in one of the three legal quote styles (values are
    // digit-only, so the unquoted form is well-formed HTML)
    def attr(v: Column): Column = {
      val mode = $"c_custkey" % 3
      when(mode === 0, concat(lit("content=\""), v, lit("\"")))
        .when(mode === 1, concat(lit("content='"), v, lit("'")))
        .otherwise(concat(lit("content="), v))
    }
    val cls = when($"c_custkey" % 7 === 0,
      lit("card featured listing-card__content"))
      .otherwise(lit("listing-card__content"))
    val card = concat(
      lit("<div class=\""), cls, lit("\">"),
      lit("<div class=\"listing-card__location__geo\"> "), $"barrio",
      lit(" </div>"),
      lit("<div class=\"listing-card__content-extra\">decoy</div>"),
      lit("<span class=\"price__actual\">$ <b>"), $"price",
      lit("</b></span>"),
      when($"c_custkey" % 13 === 0,
        concat(lit("<p data-test=\"bedrooms\"></p><p data-test=\"bedrooms\" "),
          attr($"hab"), lit("></p>")))
        .otherwise(concat(lit("<p data-test=\"bedrooms\" "), attr($"hab"),
          lit("></p>"))),
      when($"c_custkey" % 11 === 0, lit(""))
        .otherwise(concat(lit("<p data-test=\"bathrooms\" "), attr($"ban"),
          lit("></p>"))),
      lit("<p data-test=\"floor-area\" "), attr($"mts2"), lit("></p>"),
      lit("</div>"))
    val pages = rows
      .select($"page", card.as("card"))
      .groupBy($"page")
      .agg(concat_ws("", collect_list($"card")).as("html"))
      .select(
        concat(lit("fotocasa_"),
          date_format(date_add(to_date(lit("2024-01-01")),
            ($"page" % 28).cast("int")), "yyyy-MM-dd"),
          lit(".html")).as("file"),
        $"html")
    pages
      .selectExpr("graft_extract_listings(file, html)")
      .groupBy($"Barrio")
      .agg(
        count(lit(1)).as("n_listings"),
        countDistinct($"FechaDescarga").as("n_days"),
        sum(regexp_replace($"Valor", "[^0-9]", "").cast("long")).as("sum_price"),
        sum($"NumHabitaciones".cast("long")).as("sum_hab"),
        count($"NumBanos").as("n_with_banos"),
        sum($"NumBanos".cast("long")).as("sum_banos"),
        sum(($"mts2" * 2).cast("long")).as("sum_half_m2"))
      .orderBy($"Barrio")
  }

  /** transformWithState — the modern arbitrary-state streaming API —
    * under the driver's hard signal: the batch twin of
    * [[graft.streaming.Streams.userTotalsTws]]. Events are split into
    * three deterministic chunks (event_id % 3) and replayed as three
    * SEPARATE AvailableNow runs against ONE checkpoint, so the
    * RocksDB-backed value state must survive query restarts exactly as a
    * long-lived deployment's does (chunk boundaries live in the DATA, not
    * in file-listing order — micro-batch membership is reproducible on
    * any machine). Each run's update-mode emission — one running total
    * per user seen in that chunk — is materialized by a foreachBatch
    * parquet sink keyed by (round, batchId): idempotent overwrite, the
    * exactly-once contract of `incrementalRollup`. Oracle = the per-user
    * cumulative window sum over the same chunks in DuckDB. Doubles never
    * reach the compare: the accumulated total collapses to exact integer
    * cents (the Portable rule) — the ±ulp noise of arrival-order FP
    * addition inside the processor is orders of magnitude below the
    * half-cent rounding margin at any fixture scale. */
  def streamTwsBatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.Streams
    // Each execution needs a FRESH in/ckpt/out triple (reusing a
    // checkpoint across executions would renumber batches and accumulate
    // rounds in `out`, changing the result), but the abandoned triples —
    // RocksDB sst files included — must not pile up across a 3-iteration
    // bench + warm-up in one JVM (round 7 measured them as a
    // contamination source). Prior executions' staging is deleted at
    // entry: by the time this query is invoked again, every earlier
    // returned DataFrame has been consumed by its action.
    val twsRoot = new java.io.File(stage(dir, "tws"))
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(): Unit
    }
    Option(twsRoot.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    val base = twsRoot.getPath + "/" + java.util.UUID.randomUUID().toString
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"; val outDir = s"$base/out"
    // The three streaming runs execute on an ISOLATED session clone
    // (round-20 rework of the set/restore pattern, advice r19): the
    // streaming-only confs below were set/unset on the GLOBAL session
    // around the runs — safe under the serial bench/Verify, racy the
    // moment anything compiles concurrently on the same session (q206
    // already submits jobs from a thread pool). `newSession()` shares
    // the SparkContext (same executors, same pinned RDDs) but scopes
    // spark.sql.* conf to the clone, so nothing here can bleed.
    val s2 = s.newSession()
    val ev = Tables.events(s2, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // local-FS test checkpoints don't need corruption detection, and the
    // checksum manager's async close can deadlock under load (see
    // StreamsSpec's transformWithState cases)
    s2.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // State-partition count for THIS query's fresh checkpoint
    // (optimization-round rework, guide §1.2 step 2): every state
    // partition opens its own RocksDB instance per micro-batch — at the
    // session default (= core count) the three runs paid ~100 store
    // open/snapshot/close cycles for a dim-bounded keyspace (|users|),
    // and the per-store fixed cost dominated the query (~80 s of task
    // time, almost all RocksDB lifecycle). The count is a property of
    // STATE SIZE, not of the host's cores, so it is env-parameterized
    // (SPARK_GRAFT_TWS_STATE_PARTS; a 100 TB deployment sizes it to
    // state-bytes / target-partition-bytes). Results are partition-count
    // invariant: update-mode emission is per-user, and the sink is
    // re-read as one frame. Streaming partition count is fixed at
    // checkpoint creation, so all three runs see the same value.
    val twsParts = sys.env.get("SPARK_GRAFT_TWS_STATE_PARTS") match {
      case None => 4
      case Some(v) =>
        val n = scala.util.Try(v.trim.toInt).getOrElse(
          throw new IllegalArgumentException(
            s"SPARK_GRAFT_TWS_STATE_PARTS must be a positive integer, got '$v'"))
        require(n > 0,
          s"SPARK_GRAFT_TWS_STATE_PARTS must be a positive integer, got '$v'")
        n
    }
    s2.conf.set("spark.sql.shuffle.partitions", twsParts.toString)
    (0 until 3).foreach { k =>
      ev.filter($"event_id" % 3 === k).coalesce(1)
        .write.mode("append").parquet(inDir)
      val q = Streams.userTotalsTws(
          s2.readStream.schema(ev.schema).parquet(inDir).as[Streams.Event])
        .writeStream
        .outputMode(OutputMode.Update)
        .foreachBatch((df: Dataset[Streams.UserTotal], id: Long) =>
          df.write.mode("overwrite").parquet(s"$outDir/round=$k/batch=$id"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.parquet(outDir)
      .select($"round".cast("int").as("round"), $"user_id", $"n_events",
        cents($"total_value").as("total_cents"))
      .orderBy($"round", $"user_id")
  }

  /** Z-order file-skipping MEASURED — the layout claim of
    * [[graft.operators.Bucketing.writeZOrdered]] as an oracle-checked
    * number instead of a spec assertion. Three 16-file physical layouts of
    * the same fact slice are written (parquet, one file per `fid` partition
    * dir): `linear` (file = insertion order, i.e. orderkey band — what a
    * naive append sink produces), `range` (file = partkey band — perfect
    * 1-D clustering), and `zorder` (file = top 4 Morton bits of the
    * (partkey, suppkey) grid — each file covers a rectangle of the plane).
    * File assignments are DETERMINISTIC integer expressions of the data
    * (band = (k−lo)·16 div span+1; cell = (k−lo)·65535 div span — no
    * range-partitioner sampling), so DuckDB replays the exact layout from
    * the fixture and every skipping number is hash-compared.
    *
    * For two band predicates (the middle band of partkey; of suppkey), each
    * layout reports, from the read-back files' own min/max — exactly the
    * parquet footer stats a pruning reader consults (band-of-min ≤ 7 ≤
    * band-of-max is the intersection test, valid because the band function
    * is monotone): `files_scanned` (stats overlap) and `files_with_hits`
    * (files holding matching rows). The measured contract: `range` skips
    * ~15/16 on partkey but NOTHING on suppkey; `zorder` skips ~3/4 on
    * EITHER key; `linear` never skips. At 100 TB this is the difference
    * between touching 25 % and 100 % of a table for the second predicate
    * column. Precondition: key spans > 0 (any real fixture).
    *
    * Scale: extents are a 1-row agg attached by broadcast; the writes are
    * one pass each; the census is a ≤48-row (layout, fid) agg. */
  def zorderSkippingProof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "li_layouts")
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        cents($"l_extendedprice").as("pc"))
    // Pinned ONCE (optimization-round rework, guide §1.2/§2.6): the 1-row
    // extents agg was re-scanned by the three layout builds AND both
    // read-back joins (5 lineitem passes), and each layout write repeated
    // the scan + Morton arithmetic. Eager pins materialize extents and
    // the 3-fid cell table one time; the three layout writes are
    // INDEPENDENT jobs over the pinned cells, so they run concurrently
    // from a small thread pool (guide §2.6 — the later writes back-fill
    // the earlier writes' task tails; job descriptions are thread-local).
    val ext = li.agg(
      min($"l_orderkey").as("loO"), max($"l_orderkey").as("hiO"),
      min($"l_partkey").as("loP"), max($"l_partkey").as("hiP"),
      min($"l_suppkey").as("loS"), max($"l_suppkey").as("hiS"))
      .localCheckpoint() // EAGER on purpose: the 3 pool threads below
        // read it concurrently — materialize before they race
    val cells = li.join(broadcast(ext))
      .withColumn("fO",
        expr("((l_orderkey - loO) * 16) div (hiO - loO + 1)").cast("int"))
      .withColumn("fP",
        expr("((l_partkey - loP) * 16) div (hiP - loP + 1)").cast("int"))
      .withColumn("cp", expr("((l_partkey - loP) * 65535) div (hiP - loP)"))
      .withColumn("cs", expr("((l_suppkey - loS) * 65535) div (hiS - loS)"))
      .withColumn("fZ",
        shiftright(graft.operators.Bucketing.mortonInterleave($"cp", $"cs"), 28)
          .cast("int"))
      .select($"l_partkey", $"l_suppkey", $"pc", $"fO", $"fP", $"fZ")
      .localCheckpoint() // EAGER on purpose: see extents pin above
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val futs = Seq("linear" -> "fO", "range" -> "fP", "zorder" -> "fZ").map {
        case (name, fidCol) =>
          pool.submit(new Runnable {
            def run(): Unit =
              cells.select($"l_partkey", $"l_suppkey", $"pc",
                  col(fidCol).as("fid"))
                .repartition(col("fid")) // one task per fid → one file per dir
                .write.mode("overwrite").partitionBy("fid")
                .parquet(s"$out/$name")
          })
      }
      // collect EVERY future's outcome before rethrowing (advice r19):
      // failing fast on the first bad future would leave sibling writes
      // running when this method exits, racing whatever runs next
      // (including a retry's overwrite of the same paths)
      val errs = futs.flatMap(f => scala.util.Try(f.get()).failed.toOption)
      errs.headOption.foreach {
        case e: java.util.concurrent.ExecutionException if e.getCause != null =>
          throw e.getCause
        case e => throw e
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES): Unit
    }
    val readBack = Seq("linear", "range", "zorder")
      .map(n => s.read.parquet(s"$out/$n").withColumn("layout", lit(n)))
      .reduce(_.unionByName(_))
    val fileStats = readBack.join(broadcast(ext))
      .withColumn("bp", expr("((l_partkey - loP) * 16) div (hiP - loP + 1) = 7"))
      .withColumn("bs", expr("((l_suppkey - loS) * 16) div (hiS - loS + 1) = 7"))
      .groupBy($"layout", $"fid")
      .agg(
        min($"l_partkey").as("minP"), max($"l_partkey").as("maxP"),
        min($"l_suppkey").as("minS"), max($"l_suppkey").as("maxS"),
        sum(when($"bp", 1L).otherwise(0L)).as("hitsP"),
        sum(when($"bs", 1L).otherwise(0L)).as("hitsS"))
      .join(broadcast(ext))
      .withColumn("scanP",
        expr("((minP - loP) * 16) div (hiP - loP + 1) <= 7 AND " +
             "((maxP - loP) * 16) div (hiP - loP + 1) >= 7"))
      .withColumn("scanS",
        expr("((minS - loS) * 16) div (hiS - loS + 1) <= 7 AND " +
             "((maxS - loS) * 16) div (hiS - loS + 1) >= 7"))
    fileStats.groupBy($"layout")
      .agg(
        count(lit(1)).as("files_total"),
        sum(when($"scanP", 1L).otherwise(0L)).as("fsP"),
        sum(when($"scanS", 1L).otherwise(0L)).as("fsS"),
        sum(when($"hitsP" > 0, 1L).otherwise(0L)).as("fhP"),
        sum(when($"hitsS" > 0, 1L).otherwise(0L)).as("fhS"),
        sum($"hitsP").as("nP"), sum($"hitsS").as("nS"))
      .selectExpr("layout", "files_total",
        "stack(2, 'partkey_band', nP, fhP, fsP, " +
          "'suppkey_band', nS, fhS, fsS) " +
          "AS (pred, n_rows, files_with_hits, files_scanned)")
      .select($"layout", $"pred", $"n_rows", $"files_with_hits",
        $"files_scanned", $"files_total")
      .orderBy($"layout", $"pred")
  }

  /** Observed-write audit as a DECLARED, driver-gated surface:
    * `Dataset.observe` rides named aggregates along a WRITE job
    * ([[graft.operators.Bucketing.writeObserved]]), so the sink emits its
    * own audit row — row count, bad-key count, exact-cents total — in the
    * SAME single pass that writes the files. At 100 TB this is the whole
    * point: a separate post-write validation query re-reads the table; an
    * Observation costs three accumulators. The staged relation
    * deterministically NULLs the key of every 97th order so the
    * null-counting path is oracle-covered, not just the all-zeros happy
    * path (the q225 lesson). Output = the Observation's three metrics as
    * one row; the oracle re-derives the same integers from the fixture.
    * The 3-scalar driver hop IS the Observation contract (metrics travel
    * accumulator-side, never through a shuffle) — the same documented
    * exception class as q205's planning scalar. */
  def observedWrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "orders_observed")
    val staged = Tables.orders(s, dir).select(
      when($"o_orderkey" % 97 === 0, lit(null))
        .otherwise($"o_custkey").as("k"),
      $"o_totalprice".as("price"))
    val m = graft.operators.Bucketing.writeObserved(staged, out, "k", "price")
    Seq((m("n_rows").asInstanceOf[Long],
        m("n_null_keys").asInstanceOf[Long],
        m("total_cents").asInstanceOf[Long]))
      .toDF("n_rows", "n_null_keys", "total_cents")
  }

  /** Corrupt-tolerant CSV ingestion census — q158's contract for the CSV
    * reader: a staged file where every 41st row carries an unparseable
    * numeric field is read back PERMISSIVE with a corrupt-record column,
    * and the census proves the reader (a) kept every physical line, (b)
    * quarantined exactly the malformed ones, and (c) aggregated the clean
    * ones exactly — at 100 TB, FAILFAST means one bad crawl line kills a
    * day-long job, and silent DROPMALFORMED is a data-loss bug; the
    * quarantine census is the operable middle. The oracle re-derives all
    * three integers from the fixture (corruption is keyed on c_custkey,
    * so DuckDB knows exactly which rows were dirtied). */
  def csvPermissiveCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = stage(dir, "customer_dirty_csv")
    // The hand-rolled concat_ws staging does NO quoting: correctness
    // rests on c_name never containing the delimiter. Make that
    // assumption LOUD — a fixture change that smuggles a comma in must
    // fail the staging job, not silently shift fields and corrupt the
    // census downstream.
    val safeName = when($"c_name".contains(","),
      raise_error(concat(lit("csvPermissiveCensus: unquoted staging " +
        "cannot carry a comma in c_name: "), $"c_name")))
      .otherwise($"c_name")
    Tables.customer(s, dir)
      .select(concat_ws(",",
        $"c_custkey", safeName, $"c_nationkey",
        when($"c_custkey" % 41 === 0, lit("notanumber"))
          .otherwise(cents($"c_acctbal").cast("string"))).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("acct_cents", LongType),
      StructField("_bad", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(out)
      .agg(count(lit(1)).as("n_rows"),
        sum(when($"_bad".isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when($"_bad".isNull, $"acct_cents").otherwise(lit(0L)))
          .as("clean_acct_cents"))
  }

  /** Schema drift census — the schema-registry diff as a declared query:
    * two staged snapshots of "the same" table (v2 adds a column, drops a
    * column, and widens a type — the three drifts every evolving
    * pipeline meets), compared BY THEIR FILES' OWN SCHEMAS (what the
    * readers will actually see, not what the writer intended). The diff
    * is computed from the parquet footers' StructTypes — pure metadata,
    * no row data moves — and the census row per column names the drift
    * class. At 100 TB this is the check that runs before every
    * mergeSchema read (q183) or by-name append (q152) is trusted. */
  def schemaDriftCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v1 = stage(dir, "drift_v1")
    val v2 = stage(dir, "drift_v2")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority",
        cents($"o_totalprice").as("price_cents"))
      .limit(100).write.mode("overwrite").parquet(v1)
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_orderstatus",
        cents($"o_totalprice").cast("double").as("price_cents"), // widened
        $"o_custkey") // added (o_orderpriority dropped)
      .limit(100).write.mode("overwrite").parquet(v2)
    val s1 = s.read.parquet(v1).schema.map(f => f.name -> f.dataType.sql).toMap
    val s2 = s.read.parquet(v2).schema.map(f => f.name -> f.dataType.sql).toMap
    val rows = (s1.keySet ++ s2.keySet).toSeq.sorted.map { col =>
      (col, s1.get(col).orNull, s2.get(col).orNull,
        (s1.get(col), s2.get(col)) match {
          case (None, Some(_)) => "added"
          case (Some(_), None) => "removed"
          case (Some(a), Some(b)) if a != b => "type_changed"
          case _ => "unchanged"
        })
    }
    rows.toDF("col_name", "v1_type", "v2_type", "change")
      .orderBy($"col_name")
  }

  /** Write-Audit-Publish (WAP) — the lakehouse publication gate: data is
    * written to a STAGING location, a declarative audit battery runs
    * against the staged files themselves (not the source — the audit
    * must cover whatever the write actually produced), and only a clean
    * audit publishes to the consumer location. At 100 TB this is the
    * pattern that keeps a bad upstream batch out of every downstream
    * dashboard; the alternative (publish then validate) serves corrupt
    * data for the length of the check. Output: one row with the audit
    * integers, the publish decision, and the PUBLISHED location's own
    * read-back count — so the oracle-checked result proves the publish
    * actually happened, not just that the code path returned. The 1-row
    * audit collect is the q205 exception class (it IS the gate). */
  def writeAuditPublish(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stagePath = stage(dir, "wap_orders_stage")
    val pubPath = stage(dir, "wap_orders_pub")
    Tables.orders(s, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        cents($"o_totalprice").as("price_cents"))
      .write.mode("overwrite").parquet(stagePath)
    val staged = s.read.parquet(stagePath)
    val a = staged.agg(
      count(lit(1)).as("n_rows"),
      sum(when($"price_cents" <= 0, 1L).otherwise(0L)).as("bad_price"),
      sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("bad_key"),
      sum(when(!$"o_orderstatus".isin("O", "F", "P"), 1L).otherwise(0L))
        .as("bad_status")).collect()(0)
    val violations = a.getLong(1) + a.getLong(2) + a.getLong(3)
    val published = violations == 0L
    if (published)
      s.read.parquet(stagePath).write.mode("overwrite").parquet(pubPath)
    val pubRows =
      if (published) s.read.parquet(pubPath).count() else 0L
    Seq((a.getLong(0), violations, published, pubRows))
      .toDF("n_rows", "n_violations", "published", "published_rows")
  }

  /** Run `body` with session confs temporarily overridden, restoring the
    * previous values (or unsetting) afterwards — the q232 proof needs
    * dev-scale AQE skew thresholds without leaking them into the next
    * query of a 230-query session. */
  private def withConfs[T](s: SparkSession, confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** AQE skew-join split as a MEASURED contract (the q206 pattern applied
    * to skew): stage a deliberately skewed fact (90 % of keys collapsed
    * onto one hot key) and a plain dim, sort-merge-join them under
    * dev-scale skew thresholds, and DECLARE the runtime fact that AQE
    * split the hot partition — the output's `skew_split_fired` column is
    * read from the executed plan (`SortMergeJoin(skew=true)` /
    * `AQEShuffleRead … skewed`), and the oracle asserts literal TRUE, so
    * the query FAILS CORRECTNESS if the split ever stops firing. This is
    * the runtime complement to q59/q60/q205's manual salting: at 100 TB a
    * hot key either gets salted by the q198→q205 advisor path or split by
    * AQE at runtime — this query proves the second mechanism actually
    * engages on this engine build, not just that the conf is set.
    *
    * Mechanics worth recording (each cost a debugging round in dev):
    * `OptimizeSkewedJoin` only pattern-matches
    * `SMJ(Sort(ShuffleStage), Sort(ShuffleStage))` — a post-shuffle
    * aggregate on either side (e.g. an in-plan `distinct` building the
    * dim) disqualifies the join, and a single-mapper shuffle cannot be
    * split at all (split units are per-mapper blocks), so BOTH sides are
    * staged to parquet (the fact in 8 files) and read back. The ≤2-row
    * `collect` is the same documented exception class as q205's planning
    * scalar; the census itself rides the join's own execution (one pass).
    * Thresholds are not fixed constants — a byte count tuned at sf0.01
    * is exceeded by every partition at sf1 and by none at sf0.0001 — but
    * derived from the staged fact's own on-disk size (total/16), so the
    * hot partition (~90 % of the table) sits an order of magnitude above
    * them at ANY scale and splits into ~10 chunks: the proof is
    * scale-free. Production keeps the 256 MB default; this query proves
    * the MECHANISM engages, with the threshold story scaled to match. */
  def aqeSkewSplitProof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val outF = stage(dir, "skew_fact")
    val outD = stage(dir, "skew_dim")
    val ev = Tables.events(s, dir)
    ev.select(
        when($"user_id" % 10 =!= 0, lit(0L)).otherwise($"user_id").as("k"),
        $"event_id", cents($"value").as("vc"))
      .repartition(8) // ≥2 mapper blocks per reduce partition: splittable
      .write.mode("overwrite").parquet(outF)
    ev.select($"user_id".as("k")).distinct()
      .unionAll(s.range(1).select(lit(0L).as("k")))
      .distinct()
      .write.mode("overwrite").parquet(outD)
    val fPath = new org.apache.hadoop.fs.Path(outF)
    val fs = fPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val factBytes = fs.listStatus(fPath).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val sizeThreshold = math.max(1024L, factBytes / 16).toString
    withConfs(s, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> sizeThreshold,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> sizeThreshold)) {
      val agg = s.read.parquet(outF)
        .join(s.read.parquet(outD), "k")
        .groupBy(($"k" === 0L).as("is_hot"))
        .agg(count(lit(1)).as("n_rows"), sum($"vc").as("total_cents"))
      val rows = agg.collect() // ≤2 rows; finalizes agg's OWN adaptive plan
      val fired = agg.queryExecution.executedPlan.toString.contains("skew=true")
      rows.toSeq
        .map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2), fired))
        .toDF("is_hot", "n_rows", "total_cents", "skew_split_fired")
        .orderBy($"is_hot")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q244_csv_permissive_census" -> csvPermissiveCensus,
    "q247_write_audit_publish" -> writeAuditPublish,
    "q264_schema_drift_census" -> schemaDriftCensus,
    "q232_aqe_skew_split_proof" -> aqeSkewSplitProof,
    "q231_observed_write" -> observedWrite,
    "q206_zorder_skipping_proof" -> zorderSkippingProof,
    "q139_fn_file_metadata" -> fileMetadata,
    "q130_orc_roundtrip" -> orcRoundtrip,
    "q37_csv_roundtrip" -> csvRoundtrip,
    "q38_json_roundtrip" -> jsonRoundtrip,
    "q39_stream_tumbling_batch" -> streamTumblingBatch,
    "q272_stream_two_level_batch" -> streamTwoLevelBatch,
    "q61_sessionization" -> sessionizationBatch,
    "q68_stream_sliding_batch" -> streamSlidingBatch,
    "q69_stream_session_batch" -> streamSessionBatch,
    "q77_stream_join_batch" -> streamJoinBatch,
    "q112_stream_outer_join_batch" -> streamOuterJoinBatch,
    "q138_stream_full_join_batch" -> streamFullJoinBatch,
    "q145_stream_semi_join_batch" -> streamSemiJoinBatch,
    "q154_partition_pruned_scan" -> partitionPrunedScan,
    "q155_dynamic_partition_pruning" -> dynamicPartitionPruning,
    "q158_corrupt_tolerant_json" -> corruptTolerantJson,
    "q159_stream_right_join_batch" -> streamRightJoinBatch,
    "q177_session_dynamic_gap" -> sessionDynamicGap,
    "q182_dynamic_partition_overwrite" -> dynamicPartitionOverwrite,
    "q183_merge_schema_read" -> mergeSchemaRead,
    "q191_extract_listings_census" -> extractListingsCensus,
    "q192_stream_tws_batch" -> streamTwsBatch
  )

  /** The q206 Morton fold as DuckDB integer SQL — generated from the same
    * (0 until 16) loop as [[graft.operators.Bucketing.mortonInterleave]] so
    * the two engines cannot drift bit-by-bit. */
  private val mortonSql: String = (0 until 16)
    .map(i => s"(((cp >> $i) & 1) << ${2 * i + 1}) | (((cs >> $i) & 1) << ${2 * i})")
    .mkString(" | ")

  val oracles: Map[String, String] = Map(
    "q264_schema_drift_census" ->
      // The expected diff as a literal table: the staged schemas are a
      // deterministic function of the code above, so the oracle states
      // them outright — any drift in what the files actually carry (or
      // in how the reader reports it) fails the compare.
      """SELECT * FROM (VALUES
        |  ('o_custkey', CAST(NULL AS VARCHAR), 'BIGINT', 'added'),
        |  ('o_orderkey', 'BIGINT', 'BIGINT', 'unchanged'),
        |  ('o_orderpriority', 'STRING', CAST(NULL AS VARCHAR), 'removed'),
        |  ('o_orderstatus', 'STRING', 'STRING', 'unchanged'),
        |  ('price_cents', 'BIGINT', 'DOUBLE', 'type_changed')
        |) AS t(col_name, v1_type, v2_type, change)
        |ORDER BY col_name""".stripMargin,
    "q247_write_audit_publish" ->
      // The full WAP decision tree replayed from the fixture: the same
      // three audit sums, publish iff clean, published_rows only then —
      // so a wrong decision OR an unmaterialized publish both fail the
      // hash compare (the q206/q232 measured-contract pattern).
      s"""WITH audit AS (
         |  SELECT count(*) AS n_rows,
         |         CAST(sum(CASE WHEN ${centsSql("o_totalprice")} <= 0 THEN 1 ELSE 0 END)
         |            + sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
         |            + sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_violations
         |  FROM orders
         |)
         |SELECT n_rows, n_violations,
         |       n_violations = 0 AS published,
         |       CASE WHEN n_violations = 0 THEN n_rows ELSE 0 END AS published_rows
         |FROM audit""".stripMargin,
    "q244_csv_permissive_census" ->
      s"""SELECT count(*) AS n_rows,
         |       CAST(sum(CASE WHEN c_custkey % 41 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
         |       CAST(sum(CASE WHEN c_custkey % 41 <> 0
         |                     THEN ${centsSql("c_acctbal")} ELSE 0 END) AS BIGINT) AS clean_acct_cents
         |FROM customer""".stripMargin,
    "q232_aqe_skew_split_proof" ->
      // The census replayed WITHOUT the join (every non-null fact key has
      // exactly one dim match, so the inner join is count-preserving; the
      // k IS NOT NULL filter replays the inner join dropping null keys)
      // + literal TRUE for the runtime flag: Spark must MEASURE a fired
      // skew split or the hash compare fails.
      s"""SELECT (k = 0) AS is_hot, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(vc) AS BIGINT) AS total_cents,
         |       TRUE AS skew_split_fired
         |FROM (SELECT CASE WHEN user_id % 10 <> 0 THEN 0 ELSE user_id END AS k,
         |             ${centsSql("value")} AS vc
         |      FROM events) t
         |WHERE k IS NOT NULL
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,
    "q231_observed_write" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys,
         |       ${sumLongSql(centsSql("o_totalprice"))} AS total_cents
         |FROM orders""".stripMargin,
    "q206_zorder_skipping_proof" ->
      s"""WITH ext AS (
         |  SELECT min(l_orderkey) AS loO, max(l_orderkey) AS hiO,
         |         min(l_partkey) AS loP, max(l_partkey) AS hiP,
         |         min(l_suppkey) AS loS, max(l_suppkey) AS hiS
         |  FROM lineitem),
         |r AS (
         |  SELECT l_partkey AS pk, l_suppkey AS sk,
         |         ((l_orderkey - loO) * 16) // (hiO - loO + 1) AS fo,
         |         ((l_partkey - loP) * 16) // (hiP - loP + 1) AS fp,
         |         ((l_partkey - loP) * 65535) // (hiP - loP) AS cp,
         |         ((l_suppkey - loS) * 65535) // (hiS - loS) AS cs,
         |         ((l_partkey - loP) * 16) // (hiP - loP + 1) = 7 AS bp,
         |         ((l_suppkey - loS) * 16) // (hiS - loS + 1) = 7 AS bs
         |  FROM lineitem CROSS JOIN ext),
         |r2 AS (SELECT pk, sk, bp, bs, fo, fp, ($mortonSql) >> 28 AS fz FROM r),
         |u AS (
         |  SELECT 'linear' AS layout, fo AS fid, pk, sk, bp, bs FROM r2
         |  UNION ALL SELECT 'range', fp, pk, sk, bp, bs FROM r2
         |  UNION ALL SELECT 'zorder', fz, pk, sk, bp, bs FROM r2),
         |fs AS (
         |  SELECT layout, fid, min(pk) AS minP, max(pk) AS maxP,
         |         min(sk) AS minS, max(sk) AS maxS,
         |         sum(CASE WHEN bp THEN 1 ELSE 0 END) AS hitsP,
         |         sum(CASE WHEN bs THEN 1 ELSE 0 END) AS hitsS
         |  FROM u GROUP BY 1, 2),
         |fs2 AS (
         |  SELECT layout, fid, hitsP, hitsS,
         |         ((minP - loP) * 16) // (hiP - loP + 1) <= 7
         |           AND ((maxP - loP) * 16) // (hiP - loP + 1) >= 7 AS scanP,
         |         ((minS - loS) * 16) // (hiS - loS + 1) <= 7
         |           AND ((maxS - loS) * 16) // (hiS - loS + 1) >= 7 AS scanS
         |  FROM fs CROSS JOIN ext),
         |agg AS (
         |  SELECT layout, count(*) AS files_total,
         |         CAST(sum(CASE WHEN scanP THEN 1 ELSE 0 END) AS BIGINT) AS fsP,
         |         CAST(sum(CASE WHEN scanS THEN 1 ELSE 0 END) AS BIGINT) AS fsS,
         |         CAST(sum(CASE WHEN hitsP > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fhP,
         |         CAST(sum(CASE WHEN hitsS > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fhS,
         |         CAST(sum(hitsP) AS BIGINT) AS nP,
         |         CAST(sum(hitsS) AS BIGINT) AS nS
         |  FROM fs2 GROUP BY 1)
         |SELECT layout, 'partkey_band' AS pred, nP AS n_rows,
         |       fhP AS files_with_hits, fsP AS files_scanned, files_total
         |FROM agg
         |UNION ALL
         |SELECT layout, 'suppkey_band', nS, fhS, fsS, files_total FROM agg
         |ORDER BY layout, pred""".stripMargin,
    // Independent derivation: the census computed straight from the
    // fixture columns, never from HTML — a Spark-side extraction bug
    // cannot be mirrored here.
    "q191_extract_listings_census" ->
      """WITH c AS (
        |  SELECT trim(n_name) AS barrio,
        |         (c_custkey * 7919) % 900000 + 100000 AS price,
        |         CASE WHEN c_custkey % 13 = 0 THEN NULL
        |              ELSE c_custkey % 5 + 1 END AS hab,
        |         CASE WHEN c_custkey % 11 = 0 THEN NULL
        |              ELSE c_custkey % 3 + 1 END AS ban,
        |         c_custkey % 240 + 60 AS half_m2,
        |         (c_custkey // 50) % 28 AS day
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
        |SELECT barrio AS Barrio,
        |       count(*) AS n_listings,
        |       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
        |       CAST(sum(price) AS BIGINT) AS sum_price,
        |       CAST(sum(hab) AS BIGINT) AS sum_hab,
        |       count(ban) AS n_with_banos,
        |       CAST(sum(ban) AS BIGINT) AS sum_banos,
        |       CAST(sum(half_m2) AS BIGINT) AS sum_half_m2
        |FROM c
        |GROUP BY 1
        |ORDER BY Barrio""".stripMargin,
    "q192_stream_tws_batch" ->
      s"""WITH ev AS (
         |  SELECT CAST(event_id % 3 AS INT) AS round, user_id, value
         |  FROM events),
         |agg AS (
         |  SELECT round, user_id, count(*) AS n,
         |         CAST(sum(${centsSql("value")}) AS BIGINT) AS cents
         |  FROM ev GROUP BY 1, 2)
         |SELECT round, user_id,
         |       CAST(sum(n) OVER w AS BIGINT) AS n_events,
         |       CAST(sum(cents) OVER w AS BIGINT) AS total_cents
         |FROM agg
         |WINDOW w AS (PARTITION BY user_id ORDER BY round
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |ORDER BY round, user_id""".stripMargin,
    "q182_dynamic_partition_overwrite" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         |       count(*) AS n,
         |       CAST(sum(CASE WHEN year(o_orderdate) = 1996
         |                     THEN ${centsSql("o_totalprice")} * 2
         |                     ELSE ${centsSql("o_totalprice")} END) AS BIGINT) AS sum_cents
         |FROM orders
         |GROUP BY 1
         |ORDER BY o_year""".stripMargin,
    "q183_merge_schema_read" ->
      s"""SELECT o_orderkey % 2 = 0 AS prio_missing,
         |       count(*) AS n,
         |       ${sumLongSql(centsSql("o_totalprice"))} AS sum_cents
         |FROM orders
         |GROUP BY 1
         |ORDER BY prio_missing""".stripMargin,
    "q139_fn_file_metadata" ->
      """SELECT 'lineitem.parquet' AS fname,
        |       count(*) AS n_rows,
        |       max(l_orderkey) AS max_key
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY fname""".stripMargin,
    "q130_orc_roundtrip" ->
      s"""SELECT o_orderkey, o_orderstatus, o_orderdate,
         |       ${centsSql("o_totalprice")} AS price_cents
         |FROM orders
         |ORDER BY o_orderkey""".stripMargin,
    "q37_csv_roundtrip" ->
      s"""SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         |       ${centsSql("c_acctbal")} AS acct_cents
         |FROM customer
         |ORDER BY c_custkey""".stripMargin,
    "q38_json_roundtrip" ->
      s"""SELECT event_id, event_type, user_id, props,
         |       ${centsSql("value")} AS value_cents
         |FROM events
         |ORDER BY event_id""".stripMargin,
    // ts truncated to microseconds in BOTH subqueries so the interval
    // boundary compares on exactly the precision Spark carries (parquet
    // nanos → timestamp_micros in Tables.readEvents); epoch seconds via
    // floor(epoch()) = Spark's truncating unix_timestamp.
    "q77_stream_join_batch" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id,
        |       c.user_id AS user_id,
        |       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_s,
        |       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_s
        |FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |      FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,
    // LEFT JOIN twin: unmatched clicks carry -1 sentinels in both view
    // columns (same micro-truncation rules as q77).
    "q112_stream_outer_join_batch" ->
      """SELECT c.event_id AS click_id,
        |       coalesce(v.event_id, -1) AS view_id,
        |       c.user_id AS user_id,
        |       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_s,
        |       coalesce(CAST(floor(epoch(v.ts)) AS BIGINT), -1) AS view_s
        |FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |      FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |      FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,
    // FULL JOIN twin: -1 sentinels on whichever side is unmatched; user_id
    // coalesces across sides (same micro-truncation rules as q77).
    "q138_stream_full_join_batch" ->
      """SELECT coalesce(c.event_id, -1) AS click_id,
        |       coalesce(v.event_id, -1) AS view_id,
        |       coalesce(c.user_id, v.user_id) AS user_id,
        |       coalesce(CAST(floor(epoch(c.ts)) AS BIGINT), -1) AS click_s,
        |       coalesce(CAST(floor(epoch(v.ts)) AS BIGINT), -1) AS view_s
        |FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |      FROM events WHERE event_type = 'click') c
        |FULL JOIN (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |      FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,
    // interval-merge twin at MICROSECOND precision (the merge compare must
    // run on the exact event time — floored-seconds comparisons split or
    // merge one session per ~gap-boundary event, which the sf0.01/sf1 row
    // counts exposed in both directions). Half-open: ts == end starts a
    // new session. Session end = max interval end within the session.
    "q177_session_dynamic_gap" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN event_type = 'purchase' THEN 3600 ELSE 600 END AS gap_s
        |  FROM events
        |),
        |marked AS (
        |  SELECT user_id, ts, event_id, gap_s,
        |         CASE WHEN max(end_us) OVER (PARTITION BY user_id
        |                ORDER BY ts ASC, event_id ASC
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |              OR epoch_us(date_trunc('microseconds', ts)) >=
        |                 max(end_us) OVER (PARTITION BY user_id
        |                   ORDER BY ts ASC, event_id ASC
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM (SELECT user_id, ts, event_id, gap_s,
        |               epoch_us(date_trunc('microseconds', ts)) + CAST(gap_s AS BIGINT) * 1000000 AS end_us
        |        FROM ev)
        |),
        |sess AS (
        |  SELECT user_id, ts, gap_s,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM marked
        |)
        |SELECT user_id,
        |       CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start_s,
        |       max(CAST(floor(epoch(ts)) AS BIGINT) + gap_s) AS sess_end_s,
        |       count(*) AS n_events
        |FROM sess
        |GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start_s""".stripMargin,
    "q154_partition_pruned_scan" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         |       ${sumLongSql(centsSql("o_totalprice"))} AS sum_cents
         |FROM orders
         |WHERE year(o_orderdate) = 1996
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q155_dynamic_partition_pruning" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n,
         |       ${sumLongSql(centsSql("o_totalprice"))} AS sum_cents
         |FROM orders
         |WHERE year(o_orderdate) <= 1997
         |GROUP BY 1
         |ORDER BY o_year""".stripMargin,
    "q158_corrupt_tolerant_json" ->
      s"""SELECT count(*) AS n_total,
         |       count(*) FILTER (event_id % 10 = 0) AS n_corrupt,
         |       count(*) FILTER (event_id % 10 <> 0) AS n_good,
         |       ${sumLongSql(s"CASE WHEN event_id % 10 <> 0 THEN ${centsSql("value")} END")} AS good_cents
         |FROM events""".stripMargin,
    // RIGHT JOIN twin: unclaimed views carry -1 click sentinels (same
    // micro-truncation rules as q77).
    "q159_stream_right_join_batch" ->
      """SELECT coalesce(c.event_id, -1) AS click_id,
        |       v.event_id AS view_id,
        |       v.user_id AS user_id,
        |       coalesce(CAST(floor(epoch(c.ts)) AS BIGINT), -1) AS click_s,
        |       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_s
        |FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |      FROM events WHERE event_type = 'click') c
        |RIGHT JOIN (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |      FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,
    // SEMI twin: each converted click once, click-side columns only (same
    // micro-truncation rules as q77).
    "q145_stream_semi_join_batch" ->
      """SELECT c.event_id AS click_id, c.user_id AS user_id,
        |       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_s
        |FROM (SELECT event_id, user_id, date_trunc('microseconds', ts) AS ts
        |      FROM events WHERE event_type = 'click') c
        |WHERE EXISTS (
        |  SELECT 1 FROM (SELECT user_id, date_trunc('microseconds', ts) AS ts
        |                 FROM events WHERE event_type = 'view') v
        |  WHERE c.user_id = v.user_id
        |    AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 30 MINUTE)
        |ORDER BY click_id""".stripMargin,
    "q272_stream_two_level_batch" ->
      """WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS hws, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT date_trunc('day', hws) AS day, event_type,
        |       CAST(max(n) AS BIGINT) AS max_hourly,
        |       CAST(sum(n) AS BIGINT) AS total
        |FROM hourly GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    "q39_stream_tumbling_batch" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY ws, event_type""".stripMargin,
    "q61_sessionization" ->
      """SELECT n_events, count(*) AS n_sessions FROM (
        |  SELECT user_id, sess_id, count(*) AS n_events FROM (
        |    SELECT user_id,
        |           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |             CASE WHEN lag(ts) OVER w IS NULL
        |                    OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |                  THEN 1 ELSE 0 END AS new_sess
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |    )
        |  ) GROUP BY user_id, sess_id
        |) GROUP BY n_events
        |ORDER BY n_events""".stripMargin,
    "q68_stream_sliding_batch" ->
      // Each event belongs to the 4 sliding windows whose starts are the
      // event's 15-minute bucket minus 0..3 slides; window starts are
      // epoch-aligned exactly like Spark's TimeWindow, computed here with
      // integer epoch arithmetic so no origin convention is involved.
      """SELECT TIMESTAMP '1970-01-01 00:00:00'
        |         + ((CAST(floor(epoch(ts) / 900) AS BIGINT) - t.g) * 900) * INTERVAL 1 SECOND AS ws,
        |       event_type, count(*) AS n
        |FROM events CROSS JOIN generate_series(0, 3) t(g)
        |GROUP BY 1, 2
        |ORDER BY ws, event_type""".stripMargin,
    "q69_stream_session_batch" ->
      // Gap-based twin of session_window: a session breaks when the
      // inter-event gap reaches the 30-minute horizon (>= — the window
      // union is half-open), session start = min(ts) of the run.
      """SELECT ss, user_id, n FROM (
        |  SELECT min(ts) AS ss, user_id, count(*) AS n FROM (
        |    SELECT user_id, ts,
        |           sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |    FROM (
        |      SELECT user_id, ts, event_id,
        |             CASE WHEN lag(ts) OVER w IS NULL
        |                    OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
        |                  THEN 1 ELSE 0 END AS new_sess
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |    )
        |  ) GROUP BY user_id, sess_id
        |) ORDER BY ss, user_id""".stripMargin
  )
}
