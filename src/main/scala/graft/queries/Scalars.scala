package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Tables
import Portable._

/** Scalar function families (SURVEY.md §2.B): string / date / math / array /
  * map / json, one declared query per family piped through fixture columns.
  *
  * All of these are built-in Catalyst expressions (whole-stage-codegen'd,
  * no UDFs), so each query is a single scan→project→sort: nothing here
  * shuffles except the final presentation ORDER BY.
  *
  * Cross-engine notes baked into the formulations:
  *   - DuckDB `dayofweek` is 0=Sunday, Spark's is 1=Sunday → oracle adds 1.
  *   - DuckDB `date_trunc('month', ts)` returns DATE → Spark side uses
  *     `trunc(col, "mon")` (DateType), not `date_trunc` (TimestampType).
  *   - DuckDB `epoch()` returns DOUBLE → CAST AS BIGINT (fixture timestamps
  *     have no sub-second component).
  *   - DuckDB list folds keep FLOAT accumulators unless the list is cast to
  *     DOUBLE[] first; Spark `aggregate` promotes per-element — cast makes
  *     both fold float→double exactly.
  *   - `round`/`bround` on raw doubles are NOT declared: Spark rounds via
  *     shortest-string BigDecimal, DuckDB via binary value (see Portable);
  *     they're exercised in ScalaTest instead.
  */
object Scalars {

  def stringFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .select(
        $"c_custkey",
        upper($"c_mktsegment").as("seg_up"),
        lower($"c_name").as("name_lo"),
        substring($"c_name", 10, 9).as("name_num"),
        regexp_extract($"c_name", "([0-9]+)", 1).as("digits"),
        regexp_replace($"c_name", "[0-9]+", "X").as("masked"),
        concat_ws("-", $"c_mktsegment", $"c_name").as("joined"),
        lpad($"c_custkey".cast("string"), 10, "0").as("padded"),
        levenshtein($"c_name", lit("Customer#000000000")).as("lev"),
        size(split($"c_name", "#")).as("n_parts"),
        length($"c_name").as("name_len"),
        trim(lit("  x  ")).as("trimmed"))
      .orderBy($"c_custkey")
  }

  def dateFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(
        $"o_orderkey",
        year($"o_orderdate").as("yr"),
        month($"o_orderdate").as("mo"),
        dayofmonth($"o_orderdate").as("dom"),
        dayofweek($"o_orderdate").as("dow"),
        trunc($"o_orderdate", "mon").as("month_start"),
        date_format($"o_orderdate", "yyyy-MM-dd").as("fmt"),
        datediff(lit("1998-09-02").cast("date"), $"o_orderdate").as("days_to_ref"),
        unix_timestamp($"o_orderdate").as("epoch_s"),
        date_add($"o_orderdate", 30).as("plus30"),
        last_day($"o_orderdate").as("eom"))
      .orderBy($"o_orderkey")
  }

  def mathFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .withColumn("price_cents", cents($"p_retailprice"))
      .select(
        $"p_partkey",
        abs($"price_cents" - lit(95000L)).as("abs_diff"),
        pow($"p_size", lit(2.0)).as("size_sq"),
        sqrt($"p_size").as("size_sqrt"),
        floor($"p_retailprice").cast("long").as("price_floor"),
        ceil($"p_retailprice").cast("long").as("price_ceil"),
        greatest($"p_size", lit(25)).as("size_hi"),
        least($"p_size", lit(25)).as("size_lo"),
        pmod($"p_partkey", lit(7L)).as("key_mod"))
      .orderBy($"p_partkey")
  }

  def arrayFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select(
        $"vec_id",
        size($"embedding").as("dim"),
        element_at($"embedding", 1).as("first_coord"),
        array_max($"embedding").as("max_coord"),
        array_min($"embedding").as("min_coord"),
        aggregate(slice($"embedding", 1, 8), lit(0.0),
          (acc, x) => acc + x).as("sum_first8"),
        aggregate(zip_with($"embedding", $"embedding", (x, y) => x * y),
          lit(0.0), (acc, p) => acc + p).as("norm_sq"))
      .orderBy($"vec_id")
  }

  def mapFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("m", map(
        lit("et"), $"event_type",
        lit("uid"), $"user_id".cast("string")))
      .select(
        $"event_id",
        element_at($"m", "et").as("et"),
        element_at($"m", "uid").as("uid"),
        concat_ws(",", map_keys($"m")).as("ks"),
        concat_ws(",", map_values($"m")).as("vs"))
      .orderBy($"event_id")
  }

  /** explode(map) — map entries to (key, value) rows, the last open bullet
    * of the §2.B map-function row (q34 covers create_map / element_at /
    * map_keys / map_values but never exploded entries). A Generate node per
    * row with a 2-entry map: output is exactly 2× the input rows, ordered
    * totally by (event_id, k). DuckDB twin: map_entries + unnest. */
  def mapExplode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("m", map(
        lit("et"), $"event_type",
        lit("uid"), $"user_id".cast("string")))
      .select($"event_id", explode($"m").as(Seq("k", "v")))
      .orderBy($"event_id", $"k")
  }

  /** posexplode — positional array explosion, the last generator-family
    * variant (explode: q43 et al., explode_outer: q43/q64, explode(map):
    * q71, json_tuple: q67, custom Generator: ExtractListings). The doc_id
    * filter sits BEFORE the explode so it pushes to the scan instead of
    * multiplying then filtering. DuckDB twin: lateral unnest over the
    * index range, 1-based → 0-based. */
  def posExplode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"doc_id" < 50)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
      .orderBy($"doc_id", $"pos")
  }

  /** inline(arrays_zip(...)): the array-of-structs generator — one output
    * ROW per element with the struct unpacked to columns, completing the
    * generator family (explode q33/q71, posexplode q80, json_tuple q67,
    * unpivot q79). Zips each part-name word with its 40-bit digest; the
    * DuckDB twin is parallel unnest (positional zip). Pure map-side fan-out. */
  def inlineFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .withColumn("ws", split($"p_name", " "))
      .withColumn("hs", graft.operators.TextOps.tokenHashes($"ws"))
      .select($"p_partkey", inline(arrays_zip($"ws".as("w"), $"hs".as("h"))))
      .orderBy($"p_partkey", $"w", $"h")
  }

  /** Map higher-order functions — transform_keys / transform_values /
    * map_filter / map_zip_with — the lambda family q34/q71's structural map
    * ops don't reach. DuckDB has no map-lambda surface, so the oracle
    * states the same SEMANTICS relationally: a VALUES fan-out computes each
    * key's transformed value, and kept_keys re-derives map_filter's
    * predicate as a CASE over both entries (fully general, no reliance on
    * fixture value ranges). All map work is per-row projection — zero
    * shuffle beyond the declared presentation sort. */
  def mapHofFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, dir)
      .filter($"l_orderkey" < 100)
      .select($"l_orderkey", $"l_linenumber",
        cents($"l_extendedprice").as("pc"),
        $"l_quantity".cast("long").as("qty"))
      .withColumn("m1", map(lit("price"), $"pc", lit("qty"), $"qty"))
      .withColumn("m2", transform_values($"m1", (_, v) => v * 2))
      .withColumn("m3", map_filter($"m2", (_, v) => v >= 100))
      .withColumn("m4", map_zip_with($"m1", $"m2", (_, v1, v2) => v1 + v2))
    base.select(
      $"l_orderkey", $"l_linenumber",
      concat_ws(",", sort_array(map_keys($"m3"))).as("kept_keys"),
      concat_ws(",",
        sort_array(map_keys(transform_keys($"m1", (k, _) => upper(k)))))
        .as("upper_keys"),
      explode($"m4"))
      .withColumnsRenamed(Map("key" -> "k", "value" -> "v3"))
      // (l_orderkey, l_linenumber) is NOT unique in this fixture; v3 +
      // kept_keys make remaining ties fully identical rows (hash-stable).
      .orderBy($"l_orderkey", $"l_linenumber", $"k", $"v3", $"kept_keys")
  }

  def jsonFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Single parse per row: ONE from_json with a string-typed field (Jackson
    // renders a JSON number token as its literal text, exactly what
    // get_json_object('$.k') returned in the two-parse formulation this
    // replaces), then both outputs derive from the parsed struct — k_str is
    // the field, k_int its int cast. Catalyst's subexpression elimination
    // would dedup two textual copies inside one Project anyway, but deriving
    // both columns from one struct makes the single-parse shape explicit in
    // the plan rather than a codegen courtesy. On the two most expensive
    // per-row queries of the set, JSON parsing IS the cost: halving it is
    // measurable money at 100 TB.
    val schema = StructType(Seq(StructField("k", StringType)))
    Tables.events(s, dir)
      .withColumn("p", from_json($"props", schema))
      .select(
        $"event_id",
        $"p".getField("k").as("k_str"),
        $"p".getField("k").cast("int").as("k_int"))
      .orderBy($"event_id")
  }

  /** Date functions beyond q31, closing the §2.B date row exactly:
    * months_between / add_months / next_day / quarter / dayofyear /
    * weekofyear / make_date. months_between is declared on month-first
    * dates (both day 1 → exact integer months), the regime where every
    * engine agrees; the 31-day fractional regime is Spark-specific and
    * exercised in ScalaTest instead. */
  def dateExtraFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .select(
        $"o_orderkey",
        months_between(trunc($"o_orderdate", "mon"), lit("1992-01-01").cast("date"))
          .cast("long").as("months_since"),
        add_months($"o_orderdate", 3).as("plus3mo"),
        quarter($"o_orderdate").as("qtr"),
        dayofyear($"o_orderdate").as("doy"),
        weekofyear($"o_orderdate").as("wk"),
        next_day($"o_orderdate", "Mon").as("next_mon"),
        make_date(year($"o_orderdate"), month($"o_orderdate"), lit(1)).as("month_first"))
      .orderBy($"o_orderkey")
  }

  /** Array functions beyond q33: array_contains / array_position /
    * array_distinct / sort_array / higher-order filter & exists, over the
    * documents word list. Array-valued intermediates never leave the
    * query: outputs are scalars (joined strings / counts / booleans) so
    * the cross-engine compare stays on primitive columns. */
  def arrayExtraFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("words", split($"text", " "))
      .select(
        $"doc_id",
        array_contains($"words", "the").as("has_the"),
        array_position($"words", "the").as("pos_the"),
        array_join(slice(sort_array(array_distinct($"words")), 1, 5), ",").as("first5_alpha"),
        size(filter($"words", w => length(w) > 3)).as("n_long"),
        exists($"words", w => length(w) > 6).as("has_very_long"))
      .orderBy($"doc_id")
  }

  /** json_tuple (the Generator-based multi-field JSON extractor, distinct
    * from q35's per-path get_json_object) plus a to_json rebuild proving
    * the struct→JSON direction round-trips. */
  def jsonTupleFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id", $"props",
        json_tuple($"props", "k", "missing").as(Seq("k_str", "miss")))
      .select(
        $"event_id",
        $"k_str",
        $"miss",
        to_json(struct($"k_str".cast("int").as("k"))).as("rebuilt"))
      .orderBy($"event_id")
  }

  /** try_ error-tolerant scalar family — the ANSI-mode answer to the
    * reference's tolerate-and-continue stance (R2: a failed page must not
    * abort the run). Spark 4 runs with `spark.sql.ansi.enabled=true`, so a
    * plain `cast('garbage' AS INT)`, divide-by-zero, or long overflow THROWS
    * at runtime; the `try_` family converts each error to NULL row-locally,
    * which is the only behavior that survives a 100-TB run — one poison row
    * out of 10^12 must cost one NULL, not the job.
    *   - try_cast: mixed numeric/word strings → INT or NULL
    *   - try_divide: divisor hits 0 on p_size=25 rows → NULL
    *   - try_add: Long.MaxValue + positive key overflows → NULL
    *   - try_element_at: index 20 past the end of the word list → NULL
    * DuckDB twins: TRY_CAST, CASE-guarded divide/add, and native
    * out-of-bounds list indexing (already NULL). Pure projection — zero
    * shuffle beyond the presentation sort. */
  def tryFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .withColumn("maybe_num",
        when($"p_partkey" % 3 === 0, $"p_size".cast("string"))
          .otherwise($"p_name"))
      .select(
        $"p_partkey",
        expr("try_cast(maybe_num AS INT)").as("parsed"),
        try_divide(cents($"p_retailprice"),
          ($"p_size" - lit(25)).cast("long")).as("per_size"),
        try_add(
          when($"p_partkey" % 2 === 0, lit(Long.MaxValue)).otherwise(lit(1L)),
          $"p_partkey").as("sum_guard"),
        try_element_at(split($"p_name", " "), lit(20)).as("w20"))
      .orderBy($"p_partkey")
  }

  /** Timestamp/interval arithmetic family — the sub-day twin of the date
    * rows (q31/q65 operate on day-granular order dates; events.ts carries
    * real microseconds). Covers interval literals (minute- and
    * month-granular adds), field extraction (hour/minute/second),
    * timestampdiff, make_timestamp reassembly, and unix_micros.
    * Cross-engine notes:
    *   - DuckDB `date_diff` counts UNIT-BOUNDARY CROSSINGS while Spark
    *     `timestampdiff` truncates the elapsed span — identical iff the
    *     start bound sits ON a unit boundary, so the anchor is midnight.
    *   - DuckDB `date_trunc('day', ts)` returns DATE (not TIMESTAMP), so
    *     day binning is declared as CAST(ts AS DATE) on both sides.
    * Pure projection; zero shuffle beyond the presentation sort. */
  def intervalFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(
        $"event_id",
        ($"ts" + expr("INTERVAL '90' MINUTE")).as("plus90m"),
        ($"ts" + expr("INTERVAL '2' MONTH")).as("plus2mo"),
        $"ts".cast("date").as("day_date"),
        hour($"ts").as("hr"),
        minute($"ts").as("mi"),
        second($"ts").as("sec"),
        expr("timestampdiff(MINUTE, TIMESTAMP'2020-01-01 00:00:00', ts)")
          .as("mins_since"),
        expr("make_timestamp(year(ts), month(ts), dayofmonth(ts), " +
          "hour(ts), minute(ts), 0)").as("made"),
        unix_micros($"ts").as("us"))
      .orderBy($"event_id")
  }

  /** Struct (nested record) scalar family: construction with named fields,
    * field access, whole-struct equality and LEXICOGRAPHIC ordering (field
    * order = comparison order in both engines), and the struct→JSON
    * rendering direction (compact, insertion-ordered keys — byte-identical
    * across engines). Nested types are how a 100-TB lakehouse schema
    * actually arrives; this declares the scalar surface (group-by-struct
    * and array-of-struct generators are covered by q86/q113). */
  def structFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .withColumn("st",
        struct($"o_orderstatus".as("st"), year($"o_orderdate").as("y")))
      .select(
        $"o_orderkey",
        $"st".getField("y").as("yr"),
        to_json($"st").as("js"),
        ($"st" === struct(lit("F").as("st"), lit(1995).as("y"))).as("eq_f95"),
        ($"st" < struct(lit("O").as("st"), lit(1996).as("y"))).as("lt_o96"))
      .orderBy($"o_orderkey")
  }

  /** VARIANT semi-structured family (Spark 4's open-schema JSON type):
    * `parse_json` once into the binary variant encoding, then typed path
    * extraction with `variant_get` (int and string target types from the
    * same field — a number renders as its literal token), a missing-path
    * probe (SQL NULL), and `is_variant_null` distinguishing JSON `null`
    * (a present null VALUE) from an absent field. Declared because variant
    * is the 100-TB answer to schema-on-read event payloads: the binary
    * encoding is parsed once at ingest, not re-tokenized per query like
    * q35/q67's string JSON. DuckDB twin: `->>`  path extraction; the
    * variant-null flag replays the synthesis predicate. Zero shuffle. */
  def variantFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("v", parse_json($"props"))
      // every 5th event's payload replaced by JSON `null`: a variant null.
      // Reuses `v` in the otherwise-branch instead of re-parsing `props`:
      // parse_json dominates this query's cost (it is the one
      // allocation-heavy interpreted step in the whole bench set), and
      // when/otherwise evaluates branches lazily, so the corpus is parsed
      // ONCE plus a constant-foldable `null` literal — not twice.
      .withColumn("vn",
        when($"event_id" % 5 === 0, parse_json(lit("null")))
          .otherwise($"v"))
      .select(
        $"event_id",
        variant_get($"v", "$.k", "int").as("k_int"),
        variant_get($"v", "$.k", "string").as("k_str"),
        variant_get($"v", "$.missing", "string").as("miss"),
        is_variant_null($"vn").as("vnull"))
      .orderBy($"event_id")
  }

  /** Case-insensitive collation (Spark 4 collated strings): grouping on a
    * `UTF8_LCASE`-collated key merges case variants of the same segment
    * into ONE group, while `count(DISTINCT raw)` inside each group proves
    * both binary variants are really present. The group representative a
    * collated group-by keeps is engine-arbitrary, so the declared output
    * is `lower(key)` — deterministic on both sides; the DuckDB twin states
    * the same semantics as a lower() grouping. Collation is declared here
    * as the *semantic* operator (comparison/grouping rules as data, not
    * code) — at scale it replaces the error-prone lower()-everywhere
    * convention in multi-tenant lakehouse schemas. */
  def collationGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .withColumn("seg_mixed",
        when($"c_custkey" % 2 === 0, lower($"c_mktsegment"))
          .otherwise($"c_mktsegment"))
      .groupBy(collate($"seg_mixed", "UTF8_LCASE").as("k"))
      .agg(count(lit(1)).as("n"), countDistinct($"seg_mixed").as("n_variants"))
      .select(lower($"k").cast("string").as("seg"), $"n", $"n_variants")
      .orderBy($"seg")
  }

  /** XML extraction — the markup twin of the JSON rows (q35/q67/q123),
    * with the same bulk-vs-probe split q35's single-parse rework taught:
    *   - the FULL table goes through ONE `from_xml` (StAX, one parse per
    *     row) into a typed struct — that is the 100-TB bulk path;
    *   - the xpath_* typed family (xpath_string / xpath_long / node-list
    *     xpath / xpath_boolean) is declared on a deterministic 10 % key
    *     subset, because each xpath call re-parses the document through a
    *     javax DOM (~0.3 ms/parse measured — a plan audit showed 5
    *     xpath calls over every row costing 21 s at sf0.1, 15× the whole
    *     q35 JSON family). The subset keeps the surface hash-verified
    *     without paying per-row DOM × all rows anywhere in the suite.
    * The XML is synthesized from fixture columns (q74's pattern); DuckDB
    * has no XML surface, so the oracle re-derives every output from the
    * source columns — build markup, extract, land exactly on the inputs.
    * Pure projection, zero shuffle. */
  def xmlFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probe = $"c_custkey" % 10 === 0
    Tables.customer(s, dir)
      .withColumn("xml", concat(
        lit("<c><seg>"), $"c_mktsegment", lit("</seg><k>"), $"c_custkey",
        lit("</k><k>"), ($"c_custkey" + 1).cast("string"), lit("</k></c>")))
      .withColumn("fx",
        from_xml($"xml", lit("seg STRING, k ARRAY<BIGINT>")))
      .select(
        $"c_custkey",
        $"fx".getField("seg").as("seg"),
        element_at($"fx".getField("k"), 1).as("k1"),
        element_at($"fx".getField("k"), 2).as("k2"),
        when(probe, expr("xpath_string(xml, '/c/seg')")).as("xp_seg"),
        when(probe, expr("xpath_long(xml, '/c/k[2]')")).as("xp_k2"),
        when(probe, array_join(expr("xpath(xml, '/c/k/text()')"), ","))
          .as("xp_ks"),
        when(probe, expr("xpath_boolean(xml, '/c/seg')")).as("xp_has"))
      .orderBy($"c_custkey")
  }

  /** parse_url / url_encode / url_decode — the URL-structure twin of
    * q115's canonicalization regexes: synthesize a URL per row from
    * fixture columns, extract HOST / PATH / QUERY and a named query
    * parameter with `parse_url`, and round-trip a value through
    * url_encode→url_decode. DuckDB has no URL parser, so (as with q129's
    * xpath) the oracle re-derives every output from the SOURCE columns —
    * the declared check is build→parse→land-on-the-inputs. Zero shuffle. */
  def urlFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("url", concat(
        lit("https://"), $"source", lit(".example.com/docs/"),
        $"doc_id".cast("string"), lit("?lang="), $"lang"))
      .select(
        $"doc_id",
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY')").as("query"),
        expr("parse_url(url, 'QUERY', 'lang')").as("lang_param"),
        url_decode(url_encode($"text")).as("text_rt"))
      .orderBy($"doc_id")
  }

  /** Bitwise scalar family — AND / OR / XOR / shifts / bit_count over
    * integer keys (the q88 bitwise AGGREGATES' per-row counterpart; the
    * q114 checksum and q42 SimHash build on exactly these ops). Exact
    * integer semantics on both engines; DuckDB note baked in: its `^` is
    * exponentiation, XOR is spelled `xor()`. */
  def bitwiseFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select(
        $"p_partkey",
        ($"p_partkey".bitwiseAND(lit(255L))).as("and255"),
        ($"p_partkey".bitwiseOR(lit(4096L))).as("or4k"),
        ($"p_partkey".bitwiseXOR(lit(0x5555L))).as("xor_mask"),
        shiftleft($"p_partkey", 3).as("shl3"),
        shiftright($"p_partkey", 2).as("shr2"),
        bit_count($"p_partkey").as("nbits"))
      .orderBy($"p_partkey")
  }

  /** Higher-order fold with a FINISH lambda — the 3-arg `aggregate(zero,
    * merge, finish)` surface q33's 2-arg folds don't reach, plus its
    * `reduce` alias: mean of the first 8 embedding coords (finish divides
    * the fold once at the end) and sum-of-squares via reduce. DuckDB's
    * list_reduce has no finish parameter, so the oracle applies the same
    * final transform OUTSIDE the fold — identical op tree, same IEEE
    * result. Pure projection, zero shuffle. */
  def hofFinishFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .withColumn("head8", slice($"embedding", 1, 8))
      .select(
        $"vec_id",
        aggregate($"head8", lit(0.0), (acc, x) => acc + x,
          acc => acc / lit(8.0)).as("mean8"),
        reduce($"head8", lit(0.0), (acc, x) => acc + x * x).as("sumsq8"))
      .orderBy($"vec_id")
  }

  /** Regex scalar family — the pattern-matching surface q30 only samples
    * (one extract + one replace): regexp_extract_all (list of matches),
    * regexp_count, rlike, group-indexed regexp_extract, split_part, a
    * replace-all, and translate. All built-in codegen'd expressions over
    * one scan; zero shuffle. Cross-engine notes: Spark `regexp_replace`
    * is replace-ALL by default — the DuckDB twin needs the explicit 'g'
    * flag; `regexp_count` has no DuckDB spelling, so the twin counts via
    * `len(regexp_extract_all)`; both engines return '' (not NULL) for a
    * non-matching `regexp_extract`. The match list is pipe-joined to a
    * scalar string for the declared output — the driver's hasher cannot
    * sort array cells (the q149/q188 rule). */
  def regexFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select(
        $"p_partkey",
        coalesce(array_join(regexp_extract_all($"p_name", lit("[a-z]+"), lit(0)), "|"), lit("")).as("words"),
        regexp_count($"p_name", lit("d")).as("n_d"),
        $"p_name".rlike("t$").as("ends_t"),
        regexp_extract($"p_brand", "([0-9]+)", 1).as("brand_num"),
        split_part($"p_name", lit(" "), lit(2)).as("word2"),
        regexp_replace($"p_name", "[aeiou]", "*").as("masked"),
        translate($"p_brand", "#", "-").as("dashed"))
      .orderBy($"p_partkey")
  }

  /** Hash / codec scalar family — content addressing is the backbone of
    * every dedup row in this suite (q40 exact, q108 substring, q114
    * checksum all hash first): md5 and sha2-256 digests, bigint→hex, and
    * a base64 encode→decode round-trip landing back on the source
    * column. All four are codegen'd one-pass byte transforms — at 100 TB
    * the digest pass is bandwidth-bound, not CPU-bound, and shuffles
    * nothing. (crc32/xxhash64 exist Spark-side but have no DuckDB twin;
    * they're exercised in ScalaTest via q114's digest plumbing instead.) */
  def hashFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .select(
        $"p_partkey",
        md5($"p_name".cast("binary")).as("h_md5"),
        sha2($"p_name".cast("binary"), 256).as("h_sha256"),
        hex($"p_partkey").as("key_hex"),
        base64($"p_name".cast("binary")).as("b64"),
        decode(unbase64(base64($"p_name".cast("binary"))), "UTF-8").as("rt"))
      .orderBy($"p_partkey")
  }

  /** Array SET algebra — union/intersect/except/overlap plus the 3.4+
    * editors (compact, insert, prepend): the column-level set ops q25-q28
    * declare at row level. Build two small sorted word-sets per doc from
    * the text (first-5 / last-5 alphabetic distinct tokens) and apply the
    * family. Spark's set ops keep FIRST-OCCURRENCE order, so both inputs
    * are pre-sorted distinct arrays — the results are then order-canonical
    * and the DuckDB twin (whose list_intersect makes no order promise)
    * re-sorts explicitly. Pure projection, zero shuffle. Every list
    * result is pipe-joined to a scalar string for the declared output —
    * the driver's hasher cannot sort array cells (the q149/q188 rule). */
  def arraySetFns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("ws", sort_array(array_distinct(split($"text", " "))))
      .withColumn("a", slice($"ws", 1, 5))
      .withColumn("b", slice($"ws", greatest(size($"ws") - 4, lit(1)), lit(5)))
      .select(
        $"doc_id",
        coalesce(array_join(sort_array(array_union($"a", $"b")), "|"), lit("")).as("ab_union"),
        coalesce(array_join(sort_array(array_intersect($"a", $"b")), "|"), lit("")).as("ab_inter"),
        coalesce(array_join(sort_array(array_except($"a", $"b")), "|"), lit("")).as("a_minus_b"),
        arrays_overlap($"a", $"b").as("overlaps"),
        array_join(array_compact(array(lit("x"), lit(null), lit("y"))), "|").as("compacted"),
        coalesce(array_join(array_insert($"a", lit(1), lit("zz_first")), "|"), lit("")).as("inserted"),
        coalesce(array_join(array_prepend($"b", lit("aa_head")), "|"), lit("")).as("prepended"))
      .orderBy($"doc_id")
  }

  val declared: Seq[Query] = Seq(
    Query("q170_fn_array_set", arraySetFns,
      """SELECT doc_id,
        |       coalesce(array_to_string(list_sort(list_distinct(list_cat(a, b))), '|'), '') AS ab_union,
        |       coalesce(array_to_string(list_sort(list_filter(a, x -> list_contains(b, x))), '|'), '') AS ab_inter,
        |       coalesce(array_to_string(list_sort(list_filter(a, x -> NOT list_contains(b, x))), '|'), '') AS a_minus_b,
        |       len(list_filter(a, x -> list_contains(b, x))) > 0 AS overlaps,
        |       'x|y' AS compacted,
        |       coalesce(array_to_string(list_prepend('zz_first', a), '|'), '') AS inserted,
        |       coalesce(array_to_string(list_prepend('aa_head', b), '|'), '') AS prepended
        |FROM (
        |  SELECT doc_id, ws[1:5] AS a,
        |         ws[greatest(len(ws) - 4, 1):greatest(len(ws) - 4, 1) + 4] AS b
        |  FROM (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ws
        |        FROM documents))
        |ORDER BY doc_id""".stripMargin),
    Query("q142_fn_regex", regexFns,
      """SELECT p_partkey,
        |       coalesce(array_to_string(regexp_extract_all(p_name, '[a-z]+'), '|'), '') AS words,
        |       CAST(len(regexp_extract_all(p_name, 'd')) AS INT) AS n_d,
        |       regexp_matches(p_name, 't$') AS ends_t,
        |       regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
        |       split_part(p_name, ' ', 2) AS word2,
        |       regexp_replace(p_name, '[aeiou]', '*', 'g') AS masked,
        |       translate(p_brand, '#', '-') AS dashed
        |FROM part
        |ORDER BY p_partkey""".stripMargin),
    Query("q143_fn_hash", hashFns,
      """SELECT p_partkey,
        |       md5(p_name) AS h_md5,
        |       sha256(p_name) AS h_sha256,
        |       to_hex(p_partkey) AS key_hex,
        |       to_base64(encode(p_name)) AS b64,
        |       p_name AS rt
        |FROM part
        |ORDER BY p_partkey""".stripMargin),
    Query("q140_fn_hof_finish", hofFinishFns,
      """SELECT vec_id,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(embedding[1:8] AS DOUBLE[])), (acc, x) -> acc + x) / 8.0 AS mean8,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(list_transform(embedding[1:8], x -> x * x) AS DOUBLE[])), (acc, p) -> acc + p) AS sumsq8
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin),
    Query("q135_fn_url", urlFns,
      """SELECT doc_id,
        |       source || '.example.com' AS host,
        |       '/docs/' || CAST(doc_id AS VARCHAR) AS path,
        |       'lang=' || lang AS query,
        |       lang AS lang_param,
        |       text AS text_rt
        |FROM documents
        |ORDER BY doc_id""".stripMargin),
    Query("q136_fn_bitwise", bitwiseFns,
      """SELECT p_partkey,
        |       p_partkey & 255 AS and255,
        |       p_partkey | 4096 AS or4k,
        |       xor(p_partkey, 21845) AS xor_mask,
        |       p_partkey << 3 AS shl3,
        |       p_partkey >> 2 AS shr2,
        |       CAST(bit_count(p_partkey) AS INT) AS nbits
        |FROM part
        |ORDER BY p_partkey""".stripMargin),
    Query("q129_fn_xpath", xmlFns,
      """SELECT c_custkey,
        |       c_mktsegment AS seg,
        |       c_custkey AS k1,
        |       c_custkey + 1 AS k2,
        |       CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment END AS xp_seg,
        |       CASE WHEN c_custkey % 10 = 0 THEN c_custkey + 1 END AS xp_k2,
        |       CASE WHEN c_custkey % 10 = 0 THEN
        |         CAST(c_custkey AS VARCHAR) || ',' || CAST(c_custkey + 1 AS VARCHAR) END AS xp_ks,
        |       CASE WHEN c_custkey % 10 = 0 THEN TRUE END AS xp_has
        |FROM customer
        |ORDER BY c_custkey""".stripMargin),
    Query("q123_fn_variant", variantFns,
      """SELECT event_id,
        |       CAST(props->>'$.k' AS INT) AS k_int,
        |       props->>'$.k' AS k_str,
        |       props->>'$.missing' AS miss,
        |       event_id % 5 = 0 AS vnull
        |FROM events
        |ORDER BY event_id""".stripMargin),
    Query("q126_collation_group", collationGroup,
      """SELECT lower(seg_mixed) AS seg,
        |       count(*) AS n,
        |       count(DISTINCT seg_mixed) AS n_variants
        |FROM (SELECT c_custkey,
        |             CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
        |                  ELSE c_mktsegment END AS seg_mixed
        |      FROM customer)
        |GROUP BY lower(seg_mixed)
        |ORDER BY seg""".stripMargin),
    Query("q120_fn_try", tryFns,
      s"""SELECT p_partkey,
         |       TRY_CAST(CASE WHEN p_partkey % 3 = 0 THEN CAST(p_size AS VARCHAR)
         |                     ELSE p_name END AS INT) AS parsed,
         |       CASE WHEN p_size = 25 THEN NULL
         |            ELSE CAST(${centsSql("p_retailprice")} AS DOUBLE)
         |                 / CAST(p_size - 25 AS DOUBLE) END AS per_size,
         |       CASE WHEN p_partkey = 0 THEN 9223372036854775807
         |            WHEN p_partkey % 2 = 0 THEN NULL
         |            ELSE p_partkey + 1 END AS sum_guard,
         |       string_split(p_name, ' ')[20] AS w20
         |FROM part
         |ORDER BY p_partkey""".stripMargin),
    Query("q121_fn_interval", intervalFns,
      """SELECT event_id,
        |       ts + INTERVAL 90 MINUTE AS plus90m,
        |       ts + INTERVAL 2 MONTH AS plus2mo,
        |       CAST(ts AS DATE) AS day_date,
        |       CAST(hour(ts) AS INT) AS hr,
        |       CAST(minute(ts) AS INT) AS mi,
        |       CAST(second(ts) AS INT) AS sec,
        |       CAST(date_diff('minute', TIMESTAMP '2020-01-01 00:00:00', ts) AS BIGINT) AS mins_since,
        |       make_timestamp(CAST(year(ts) AS BIGINT), CAST(month(ts) AS BIGINT),
        |                      CAST(day(ts) AS BIGINT), CAST(hour(ts) AS BIGINT),
        |                      CAST(minute(ts) AS BIGINT), 0.0) AS made,
        |       epoch_us(ts) AS us
        |FROM events
        |ORDER BY event_id""".stripMargin),
    Query("q122_fn_struct", structFns,
      """SELECT o_orderkey,
        |       (st).y AS yr,
        |       CAST(to_json(st) AS VARCHAR) AS js,
        |       st = {'st': 'F', 'y': 1995} AS eq_f95,
        |       st < {'st': 'O', 'y': 1996} AS lt_o96
        |FROM (SELECT o_orderkey,
        |             struct_pack(st := o_orderstatus,
        |                         y := CAST(year(o_orderdate) AS INT)) AS st
        |      FROM orders)
        |ORDER BY o_orderkey""".stripMargin),
    Query("q30_fn_string", stringFns,
      """SELECT c_custkey,
        |       upper(c_mktsegment) AS seg_up,
        |       lower(c_name) AS name_lo,
        |       substring(c_name, 10, 9) AS name_num,
        |       regexp_extract(c_name, '([0-9]+)', 1) AS digits,
        |       regexp_replace(c_name, '[0-9]+', 'X', 'g') AS masked,
        |       concat_ws('-', c_mktsegment, c_name) AS joined,
        |       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        |       CAST(levenshtein(c_name, 'Customer#000000000') AS INT) AS lev,
        |       CAST(len(string_split(c_name, '#')) AS INT) AS n_parts,
        |       CAST(length(c_name) AS INT) AS name_len,
        |       trim('  x  ') AS trimmed
        |FROM customer
        |ORDER BY c_custkey""".stripMargin),
    Query("q31_fn_date", dateFns,
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INT) AS yr,
        |       CAST(month(o_orderdate) AS INT) AS mo,
        |       CAST(day(o_orderdate) AS INT) AS dom,
        |       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |       date_trunc('month', o_orderdate) AS month_start,
        |       strftime(o_orderdate, '%Y-%m-%d') AS fmt,
        |       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-09-02') AS INT) AS days_to_ref,
        |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
        |       CAST(o_orderdate AS DATE) + 30 AS plus30,
        |       last_day(CAST(o_orderdate AS DATE)) AS eom
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin),
    Query("q32_fn_math", mathFns,
      s"""SELECT p_partkey,
         |       abs(${centsSql("p_retailprice")} - 95000) AS abs_diff,
         |       pow(p_size, 2.0) AS size_sq,
         |       sqrt(p_size) AS size_sqrt,
         |       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
         |       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
         |       CAST(greatest(p_size, 25) AS INT) AS size_hi,
         |       CAST(least(p_size, 25) AS INT) AS size_lo,
         |       p_partkey % 7 AS key_mod
         |FROM part
         |ORDER BY p_partkey""".stripMargin),
    Query("q33_fn_array", arrayFns,
      """SELECT vec_id,
        |       CAST(len(embedding) AS INT) AS dim,
        |       embedding[1] AS first_coord,
        |       list_max(embedding) AS max_coord,
        |       list_min(embedding) AS min_coord,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(embedding[1:8] AS DOUBLE[])), (acc, x) -> acc + x) AS sum_first8,
        |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE), CAST(list_transform(embedding, x -> x * x) AS DOUBLE[])), (acc, p) -> acc + p) AS norm_sq
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin),
    Query("q34_fn_map", mapFns,
      """SELECT event_id,
        |       (m['et'])[1] AS et,
        |       (m['uid'])[1] AS uid,
        |       array_to_string(map_keys(m), ',') AS ks,
        |       array_to_string(map_values(m), ',') AS vs
        |FROM (SELECT event_id,
        |             MAP {'et': event_type, 'uid': CAST(user_id AS VARCHAR)} AS m
        |      FROM events)
        |ORDER BY event_id""".stripMargin),
    Query("q71_fn_map_explode", mapExplode,
      """SELECT event_id, e.key AS k, e.value AS v
        |FROM (SELECT event_id,
        |             unnest(map_entries(MAP {'et': event_type, 'uid': CAST(user_id AS VARCHAR)})) AS e
        |      FROM events)
        |ORDER BY event_id, k""".stripMargin),
    Query("q80_fn_posexplode", posExplode,
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos, words[CAST(i AS INT)] AS word
        |FROM (SELECT doc_id, string_split(text, ' ') AS words
        |      FROM documents WHERE doc_id < 50),
        |     unnest(range(1, len(words) + 1)) AS t(i)
        |ORDER BY doc_id, pos""".stripMargin),
    Query("q86_fn_inline", inlineFns,
      """SELECT p_partkey, unnest(ws) AS w, unnest(hs) AS h
        |FROM (SELECT p_partkey,
        |             string_split(p_name, ' ') AS ws,
        |             list_transform(string_split(p_name, ' '),
        |               t -> CAST(('0x' || substr(md5(t), 1, 10)) AS BIGINT)) AS hs
        |      FROM part)
        |ORDER BY p_partkey, w, h""".stripMargin),
    Query("q95_fn_map_hof", mapHofFns,
      s"""WITH b AS (SELECT l_orderkey, l_linenumber,
         |                  ${centsSql("l_extendedprice")} AS pc,
         |                  CAST(l_quantity AS BIGINT) AS qty
         |           FROM lineitem WHERE l_orderkey < 100)
         |SELECT l_orderkey, l_linenumber,
         |       CASE WHEN 2 * pc >= 100 AND 2 * qty >= 100 THEN 'price,qty'
         |            WHEN 2 * pc >= 100 THEN 'price'
         |            WHEN 2 * qty >= 100 THEN 'qty'
         |            ELSE '' END AS kept_keys,
         |       'PRICE,QTY' AS upper_keys,
         |       k,
         |       CASE WHEN k = 'price' THEN 3 * pc ELSE 3 * qty END AS v3
         |FROM b, (VALUES ('price'), ('qty')) t(k)
         |ORDER BY l_orderkey, l_linenumber, k, v3, kept_keys""".stripMargin),
    Query("q35_fn_json", jsonFns,
      """SELECT event_id,
        |       props->>'$.k' AS k_str,
        |       CAST(props->>'$.k' AS INT) AS k_int
        |FROM events
        |ORDER BY event_id""".stripMargin),
    Query("q65_fn_date_extra", dateExtraFns,
      // date_diff('month', ...) counts month-boundary crossings = calendar
      // month delta, exactly Spark's months_between on two day-1 dates.
      // next_day(Mon): isodow is 1=Monday; (8 - isodow) % 7 days ahead,
      // with 0 mapped to 7 so a Monday advances a full week (strictly-after
      // semantics, like Spark).
      """SELECT o_orderkey,
        |       CAST(date_diff('month', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS months_since,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3mo,
        |       CAST(quarter(o_orderdate) AS INT) AS qtr,
        |       CAST(dayofyear(o_orderdate) AS INT) AS doy,
        |       CAST(weekofyear(o_orderdate) AS INT) AS wk,
        |       CAST(o_orderdate AS DATE)
        |         + CAST(CASE WHEN (8 - isodow(o_orderdate)) % 7 = 0 THEN 7
        |                     ELSE (8 - isodow(o_orderdate)) % 7 END AS INT) AS next_mon,
        |       make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS month_first
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin),
    Query("q66_fn_array_extra", arrayExtraFns,
      // list_position returns 0 for a missing element (same as Spark's
      // array_position); list_distinct's order is unspecified, so the
      // distinct list is always sorted before joining.
      """SELECT doc_id,
        |       list_contains(words, 'the') AS has_the,
        |       CAST(list_position(words, 'the') AS BIGINT) AS pos_the,
        |       array_to_string(list_sort(list_distinct(words))[1:5], ',') AS first5_alpha,
        |       CAST(len(list_filter(words, w -> length(w) > 3)) AS INT) AS n_long,
        |       len(list_filter(words, w -> length(w) > 6)) > 0 AS has_very_long
        |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |ORDER BY doc_id""".stripMargin),
    Query("q67_fn_json_tuple", jsonTupleFns,
      """SELECT event_id,
        |       props->>'$.k' AS k_str,
        |       props->>'$.missing' AS miss,
        |       CAST(to_json(struct_pack(k := CAST(props->>'$.k' AS INT))) AS VARCHAR) AS rebuilt
        |FROM events
        |ORDER BY event_id""".stripMargin)
  )
}
