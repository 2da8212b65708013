package graft

/** Regression guards for the scale properties the queries were designed
  * around: pushdown reaching the parquet scan, dims broadcast, window
  * group-limit, top-k as TakeOrdered. A refactor that silently loses one
  * of these still passes the oracle — these specs are what catch it.
  */
class PlanAssertionsSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q29 predicates push down to the parquet scan") {
    val p = planOf("q29_project_filter")
    assert(p.contains("PushedFilters: [IsNotNull"))
    assert(p.contains("In(o_orderstatus"))
  }

  test("q01/q02 dims join via broadcast, scans prune columns") {
    val p1 = planOf("q01_revenue_by_nation")
    assert(p1.contains("BroadcastHashJoin"))
    assert(p1.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"))
    val p2 = planOf("q02_join_broadcast_dim")
    assert(p2.contains("BroadcastHashJoin"))
  }

  test("q22 rank filter plans as WindowGroupLimit") {
    assert(planOf("q22_window_topk_per_group").contains("WindowGroupLimit"))
  }

  test("q24 limit plans as TakeOrderedAndProject (no global sort)") {
    assert(planOf("q24_topk_limit").contains("TakeOrderedAndProject"))
  }

  test("q07 as-of is the join-free merge formulation (union + window)") {
    val p = planOf("q07_join_asof")
    // the merge form materializes NO candidate pairs: union + one window
    assert(p.contains("Window") && p.contains("Union"))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"))
  }

  test("q43 inverted-index join is an equi-join, not a nested loop") {
    val p = planOf("q43_dedup_ngram_jaccard")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q53 IVF centroid assignment is map-side (no full-corpus exchange)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = graft.queries.LlmOps.ivfAssigned(spark, sfDir)
      .queryExecution.executedPlan
    // no Window ranking N candidate rows per vector...
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "assignment must be an argmax projection, not a window rank")
    // ...and the only shuffle is the bounded 16-centroid fold feeding the
    // broadcast (≤ one partial row per input partition), never the corpus.
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 1, s"unexpected shuffles: $shuffles")
  }

  test("q75 multi-probe top-2 assignment is map-side too (no window, no corpus exchange)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = graft.queries.LlmOps.ivfAssignedTop2(spark, sfDir)
      .queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "top-2 assignment must be a fold projection, not a window rank")
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 1, s"unexpected shuffles: $shuffles")
  }

  test("q73 approx-percentile plan stays codegen on the exact side (no raw-value buffering)") {
    // The exact nearest-rank side must keep the q63 domain-bounded shape;
    // only percentile_approx's constant-size GK buffer may plan as an
    // ObjectHashAggregate (that is the sketch itself, bounded by accuracy,
    // not by data volume).
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val plan = SparkEntry.queries("q73_agg_approx_percentile")(spark, sfDir)
      .queryExecution.executedPlan
    val objAggs = plan.collect { case o: ObjectHashAggregateExec => o }
    assert(objAggs.forall(_.toString.contains("percentile_approx")),
      s"non-GK ObjectHashAggregate crept into q73: $objAggs")
  }

  test("q63 quartiles plan stays codegen: no ObjectHashAggregate (value-buffering percentile)") {
    // percentile() would plan an ObjectHashAggregate whose buffer holds
    // every raw value per group — memory grows with data volume. The
    // count-by-value rewrite must keep all aggregates as codegen
    // HashAggregateExec (state bounded by the distinct-value domain).
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val plan = SparkEntry.queries("q63_agg_quartiles")(spark, sfDir)
      .queryExecution.executedPlan
    assert(plan.collect { case o: ObjectHashAggregateExec => o }.isEmpty,
      "q63 regressed to a value-buffering aggregate")
  }

  test("q87 stats moments is ONE codegen hash-agg pass (no Object agg, no second scan)") {
    // String asserts see through the AQE wrapper (node-collect does not).
    val p = planOf("q87_agg_stats_moments")
    assert(!p.contains("ObjectHashAggregate"),
      "native moment aggs must stay declarative codegen HashAggregate")
    assert(p.sliding("FileScan".length).count(_ == "FileScan") == 1,
      "exact sums and native moments must share one scan")
  }

  test("q90 SQL text plans like the DataFrame queries: broadcast dim, semi-join EXISTS") {
    val p = planOf("q90_sql_text_api")
    assert(p.contains("BroadcastHashJoin"), "25-row nation dim must broadcast")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a semi join, not a row-exploding inner")
  }

  test("q96 decontamination probes a broadcast eval-digest set (no pair join)") {
    val p = planOf("q96_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "eval digest set must broadcast — train side must not shuffle for the probe")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // The text-digest pipeline must stay in Project/Generate; only the
    // cheap doc-id bucket predicate may sit in the scan Filter.
    val plan = SparkEntry.queries("q96_decontaminate")(spark, sfDir)
      .queryExecution.executedPlan
    val filterConds = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
    }
    assert(!filterConds.exists(_.contains("split(")),
      s"q96 tokenizes inside a Filter: $filterConds")
  }

  test("q97 bitmap rollup levels share one scan (ReusedExchange after AQE)") {
    val df = SparkEntry.queries("q97_agg_bitmap_distinct")(spark, sfDir)
    df.collect() // finalize AQE — reuse is decided at runtime
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "per-(group,bucket) bitmap partials must feed BOTH rollup levels from one exchange")
  }

  test("q313 quantile rollup levels share pinned partials; windows all keyed") {
    val df = SparkEntry.queries("q313_quantile_sketch_rollup")(spark, sfDir)
    df.collect() // materialize the pins
    val p = df.queryExecution.executedPlan.toString
    // shared-partials contract (the ReusedExchange intent, in its pinned
    // form): the sketch and exact censuses each read lineitem ONCE and
    // every other consumer reads the pin — unpinned this query planned
    // 14 scans. The final plan sees only the top consumers; count the
    // lineitem scans across the whole executed tree.
    val scans = p.split("\n").count(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(scans <= 2,
      s"q313 must build each census from ONE scan and share the pinned cells ($scans scans planned)")
    // no window may ride an unbounded census: every WindowExec must carry
    // a partition key (the scope/bucket decomposition)
    val bare = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(bare.isEmpty, "q313 planned a no-partition (single-task) window")
  }

  test("q98 packing cumsum is two-pass: data window pid-keyed, lang windows only on offsets") {
    val df = SparkEntry.queries("q98_pack_sequences")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // r10: the per-lang cumulative sum was the q212 class (|langs| sort
    // tasks over the whole corpus); the data-sized window must now key on
    // the two-pass partition id, with lang-partitioned windows appearing
    // only over the ≤ numParts·|langs|-row offsets table (covered in
    // detail by the two-pass family guard below).
    assert(p.contains("windowspecdefinition(__tp_pid"),
      s"packing cumsum must be pid-keyed (two-pass), got:\n$p")
    assert(p.contains("windowspecdefinition(lang"),
      "offsets prefix-combine must be per language shard")
  }

  test("q100 merge applies the change feed via one keyed join (no nested loop)") {
    val p = planOf("q100_merge_upsert")
    assert(p.contains("FullOuter"), "MERGE must be a single full-outer keyed join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("no digest hashing inlined into Filter nodes (pushdown-inlining guard)") {
    // Predicates on expensive computed columns get pushed below their
    // projection and re-evaluate the whole digest pipeline per row inside
    // a Filter (two separate 25-50x regressions came from this). Hashing
    // belongs in Project/Generate nodes only.
    Seq("q41_dedup_minhash_lsh", "q42_dedup_simhash", "q43_dedup_ngram_jaccard",
      "q50_fingerprint", "q108_dedup_substring").foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan
      val filterConds = plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
      }
      assert(!filterConds.exists(_.contains("md5")),
        s"$n has md5 inside a Filter: $filterConds")
    }
  }

  test("q106 weighted sample plans as WindowGroupLimit (partial top-k before the shuffle)") {
    assert(planOf("q106_sample_weighted").contains("WindowGroupLimit"))
  }

  test("q107 profile is one Expand-based pass: no Object agg, no second scan") {
    val p = planOf("q107_profile_corpus")
    assert(p.contains("Expand"), "multi-distinct should plan via Expand")
    assert(!p.contains("ObjectHashAggregate"), "profile must stay codegen")
    assert("Scan parquet".r.findAllIn(p).size <= 1,
      s"profile should scan documents once:\n$p")
  }

  test("q108 substring census joins digests (no pair join, no cartesian)") {
    val p = planOf("q108_dedup_substring")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q109 k-means: corpus never shuffle-joins; centroids attach as 1-row broadcasts") {
    val p = planOf("q109_kmeans_clusters")
    // assignments must be map-side vs broadcast centroid pivots — a
    // SortMergeJoin or CartesianProduct would mean the corpus shuffled
    // or paired against itself
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"k-means corpus got shuffled into a join:\n$p")
  }

  test("runtime bloom-filter injects row-level pruning into a non-broadcast fact join") {
    // The 100 TB shape: fact ⋈ selectively-filtered dim too big (or too
    // late) to broadcast. InjectRuntimeFilter builds a bloom filter from
    // the filtered creation side and pushes might_contain() onto the fact
    // scan, discarding non-joining rows BEFORE the shuffle — a semi-join's
    // pruning without its extra exchange. Default thresholds assume real
    // statistics (application side > 10 GB), so production jobs get this
    // for free; the spec lowers them to pin the mechanism itself.
    val conf = spark.conf
    val prev = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(spark, sfDir)
      val o = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom filter injected:\n$plan")
    } finally prev.foreach { case (k, v) => conf.set(k, v) }
  }

  test("q118 null-safe equality plans as an equi hash join, never a nested loop") {
    val p = planOf("q118_join_nullsafe")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"EqualNullSafe fell out of the equi-join path:\n$p")
  }

  test("q110 semdedup attaches reps by broadcast; corpus pairs only within clusters") {
    val p = planOf("q110_semdedup_prune")
    assert(p.contains("BroadcastHashJoin"), "rep vectors must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus shuffled into a join:\n$p")
  }

  test("q125 forward as-of is the join-free merge formulation (union + window)") {
    val p = planOf("q125_join_asof_forward")
    assert(p.contains("Window") && p.contains("Union"))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"forward as-of must not materialize candidate pairs:\n$p")
  }

  test("q128 line dedup joins digests/ids only — no nested loop, no cartesian") {
    val p = planOf("q128_dedup_lines")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"line dedup must stay on keyed joins:\n$p")
  }

  test("q131/q132/q133 attach vocab/stats tables by broadcast (token stream never sort-merges)") {
    Seq("q131_quality_unigram_lm", "q132_bm25_search", "q133_collocation_pmi")
      .foreach { q =>
        val p = planOf(q)
        assert(p.contains("BroadcastHashJoin"), s"$q: vocab must broadcast")
        assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
          s"$q: token stream shuffled into a join:\n$p")
      }
  }

  test("q124 mode windows the domain-bounded count table, native side broadcasts") {
    val p = planOf("q124_agg_mode")
    // the window must consume an aggregated (flag, qty) table, not raw rows
    assert(p.contains("HashAggregate") && p.contains("Window"))
    assert(p.contains("BroadcastHashJoin"), "native-mode side must broadcast")
  }

  test("q147 gopher gate shuffles digests only; q148 blocklist attaches by broadcast") {
    val p147 = planOf("q147_quality_gopher")
    // the top-token pass must aggregate before joining back — no token
    // strings in a sort-merge, no pair explosion
    assert(p147.contains("HashAggregate"), "top-token pass must aggregate")
    assert(!p147.contains("CartesianProduct"), s"pair join in gopher gate:\n$p147")
    val p148 = planOf("q148_domain_blocklist")
    assert(p148.contains("BroadcastHashJoin"),
      s"blocklist must broadcast (hash lookup, not LIKE scan):\n$p148")
    assert(!p148.contains("SortMergeJoin") || p148.contains("BroadcastHashJoin"),
      s"suffix match shuffled:\n$p148")
  }

  test("q149 posting heads are rank-limited BEFORE collection (WindowGroupLimit)") {
    val p = planOf("q149_inverted_index")
    assert(p.contains("WindowGroupLimit"),
      s"head cap must prune rank-side before collect_list:\n$p")
  }

  test("q150 market share broadcasts every dimension leg (shuffle count invariant in SF)") {
    val p = planOf("q150_market_share")
    // 5 broadcast legs: part, cust-nation, region, supplier, supp-nation
    val nBroadcast = "BroadcastHashJoin".r.findAllMatchIn(p).size
    assert(nBroadcast >= 5, s"expected >=5 broadcast joins, got $nBroadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"market share must stay on equi joins:\n$p")
  }

  test("q151 SCD2 is one window pass (no self-join on next-date)") {
    val p = planOf("q151_scd2_build")
    assert(p.contains("Window"), "needs the lead/row_number window")
    assert(!p.contains("Join"), s"SCD2 must not self-join:\n$p")
  }

  test("q154 scan prunes partitions statically; q155 injects runtime (dynamic) pruning") {
    val p154 = planOf("q154_partition_pruned_scan")
    // the year predicate must be a PartitionFilter (directory-level),
    // never a row-level PushedFilter/post-scan Filter on o_year
    assert(p154.contains("PartitionFilters: [isnotnull(o_year"),
      s"partition filter missing from the scan:\n$p154")
    val p155 = planOf("q155_dynamic_partition_pruning")
    assert(p155.contains("dynamicpruningexpression"),
      s"DPP expression missing — fact scan reads every partition:\n$p155")
  }

  test("q181 two-pass dense-id shape: global windows only over the bounded pid fold; one pinned range exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.inputPlan)
      case _ => p +: p.children.flatMap(flatten)
    }
    // a WindowExec with an EMPTY partition spec funnels its whole input
    // through one task — admissible only above the per-pid count fold
    // (≤ #partitions rows), never above the vocab itself (the 100 TB
    // one-reducer collapse the two-pass operator exists to avoid)
    def offenders(df: org.apache.spark.sql.DataFrame): Seq[WindowExec] =
      flatten(df.queryExecution.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }.filterNot { w =>
        flatten(w.child).exists {
          case a: BaseAggregateExec =>
            a.groupingExpressions.exists(_.toString.contains("pid"))
          case _ => false
        }
      }
    val real = SparkEntry.queries("q181_dense_id_assignment")(spark, sfDir)
    assert(offenders(real).isEmpty,
      "vocab-wide single-partition window in the declared q181 plan")
    // both consumers (offsets fold + rank window) must read the PINNED
    // checkpoint of the range-partitioned vocab: the range exchange runs
    // once inside the shared materialization, so the final plan shows the
    // ExistingRDD scan in both branches and NO rangepartitioning exchange
    // of its own (a second one would mean the RangePartitioner resampled
    // cuts per consumer — the non-dense-ids hazard)
    // (the final orderBy(dense_id) contributes its own, legitimate range
    // exchange — the hazard is a range exchange on the VOCAB total order)
    val p = real.queryExecution.executedPlan.toString
    assert(!"""rangepartitioning\(freq""".r.findFirstIn(p.toLowerCase).isDefined,
      s"vocab range exchange recomputed downstream of the checkpoint:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      s"both consumers must read the pinned partitioned vocab:\n$p")
    // the detector must FIRE on the naive one-reducer formulation —
    // otherwise this guard is vacuous
    import spark.implicits._
    val naive = graft.Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("freq"))
      .withColumn("dense_id",
        row_number().over(Window.orderBy($"freq".desc, $"tok".asc)))
    assert(offenders(naive).nonEmpty,
      "detector failed to flag row_number() OVER (ORDER BY …) — guard is vacuous")
  }

  test("q129 bulk XML path is the single from_xml parse; xpath stays on the probe subset") {
    val p = planOf("q129_fn_xpath")
    assert(p.contains("from_xml"), "bulk path must parse once via from_xml")
    // every XPath evaluator must sit under the probe's CASE WHEN guard —
    // a refactor that lifts xpath back onto every row re-creates the 21 s
    // per-row-DOM plan this query was rewritten away from (plan renders
    // the calls as `invoke(XPath*Evaluator(...).evaluate(xml))`)
    val nXpath = "invoke\\(XPath".r.findAllMatchIn(p).size
    val nGuarded = "THEN (array_join\\()?invoke\\(XPath".r.findAllMatchIn(p).size
    assert(nXpath > 0 && nXpath == nGuarded,
      s"unguarded XPath evaluation ($nGuarded of $nXpath guarded):\n$p")
  }

  test("q215 disjunction stays one scan-stage filter (no per-branch union)") {
    val p = planOf("q215_disjunctive_pred_scan")
    assert(!p.contains("Union"),
      s"disjunctive predicate split into a per-branch union:\n$p")
    // one lineitem scan, one part scan — the fact table is read ONCE
    assert("lineitem\\.parquet".r.findAllMatchIn(p).size == 1,
      s"lineitem scanned more than once:\n$p")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q216/q219 broadcast their dims and prune the fact scan") {
    val p216 = planOf("q216_nation_trade_flow")
    assert(p216.contains("BroadcastHashJoin"))
    assert(p216.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint," +
        "l_extendedprice:double,l_discount:double,l_shipdate:"),
      s"fact scan not pruned to the 5 used columns:\n$p216")
    val p219 = planOf("q219_profit_decomposition")
    assert(p219.contains("BroadcastHashJoin"))
  }

  test("q220/q223 candidate joins are equi-joins, never nested loops") {
    Seq("q220_item_cooccurrence_cosine", "q223_containment_dedup").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q planned a non-equi candidate join:\n$p")
    }
  }

  test("q197 pinned edge list is pre-partitioned on src (one exchange feeds deg + iterations)") {
    val p = planOf("q197_pagerank_fixed_point")
    // the checkpointed RDD must be read by several consumers; no
    // hashpartitioning(src) exchange may appear DOWNSTREAM of it (the
    // whole point of partitioning before the pin)
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 4,
      s"consumers must read the pinned pre-partitioned edges:\n$p")
    // ... and none of them re-shuffles on src: the repartition($"src")
    // happened BEFORE the checkpoint, whose LogicalRDD preserves its
    // outputPartitioning, so deg's groupBy and every iteration join
    // consume the edges exchange-free. If the pre-partition were removed,
    // each consumer would plan its own hashpartitioning(src) Exchange.
    assert(!"hashpartitioning\\(src#".r.findFirstIn(p).isDefined,
      s"a consumer re-shuffled the pinned edges on src:\n$p")
  }

  test("q234 is scan-only: all three predicates push down, no join/exchange beyond the 1-row agg") {
    val p = planOf("q234_scan_only_revenue")
    assert(p.contains("PushedFilters:") && p.contains("IsNotNull(l_shipdate)"),
      s"filters did not reach the scan:\n$p")
    assert(!p.contains("Join"), s"scan-only query planned a join:\n$p")
    // only the partial→final agg exchange (single-partition) may exist
    assert("Exchange".r.findAllIn(p).size <= 1, s"extra exchanges:\n$p")
  }

  test("q235 top-k is TakeOrdered; per-customer collapse happens below the customer join") {
    val p = planOf("q235_returned_revenue_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 planned a global sort:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // the |customers|-bounded rev_cents aggregate must be BELOW the
    // customer join (join the sliver, not the raw fact). Note: locally
    // the planner may BROADCAST that sliver into customer — that is the
    // size-based choice working as intended, and it flips to SMJ on its
    // own when the sliver's runtime stats outgrow the threshold; the
    // guard pins the aggregate-below-join shape, not the exchange kind.
    // "Below" in the printed tree = deeper = LATER: the aggregate marker
    // must appear after the join's first c_custkey reference, or the agg
    // has floated above the join and the raw fact is what gets joined.
    val aggIdx = p.indexOf("HashAggregate(keys=[o_custkey")
    val joinIdx = p.indexOf("c_custkey")
    assert(aggIdx >= 0 && joinIdx >= 0, s"shape markers missing:\n$p")
    assert(aggIdx > joinIdx,
      s"o_custkey aggregate is not below the customer join:\n$p")
  }

  test("two-pass rank family: no single-partition window over unbounded input") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // A window is scale-safe iff it is keyed on the two-pass partition id
    // (parallel per-range-partition work) or runs over a table bounded by
    // CONSTRUCTION: an aggregate grouped on the partition id (the
    // ≤ numParts-row offset/prefix tables) or on a derived ≤ k-valued
    // bucket (decile). A window keyed on nothing — or on a natural
    // low-cardinality column like o_orderpriority — over un-collapsed
    // input is the Exchange SinglePartition shape the round-9 audit
    // caught: one task sorts the whole table at any cluster size.
    val pidLike = Set("__tp_pid", "pid")
    // aggregates grouped on these yield bounded-by-construction tables:
    // the two-pass pid offsets, the 10-row decile lattice, the ≤|langs|
    // language census
    val boundedKeys = pidLike ++ Set("decile", "lang")
    // windows keyed on a high-cardinality NATURAL key spread on their own
    // (q146's per-(priority, customer) first-occurrence flag)
    val hiCard = Set("o_custkey")
    def boundedBelow(p: SparkPlan): Boolean = p match {
      // empty grouping = a 1-row (global) aggregate — bounded; otherwise
      // bounded iff grouped on the partition id / derived bucket
      case a: BaseAggregateExec =>
        a.groupingExpressions.isEmpty || a.groupingExpressions.exists(g =>
          boundedKeys.exists(b => g.name == b))
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(boundedBelow)
    }
    val family = Seq("q213_decile_lift", "q224_rfm_segmentation",
      "q229_segment_migration", "q251_revenue_concentration",
      "q169_pareto_frontier", "q212_winsorized_stats",
      // r10 extended-sweep finds, reworked the same way
      "q85_window_distribution", "q146_window_count_distinct",
      "q98_pack_sequences", "q127_mix_rebalance")
    family.foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
      val windows = plan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q: expected window nodes (vacuous guard)")
      val offenders = windows.filterNot { w =>
        w.partitionSpec.exists(e => e.references.exists(a =>
          pidLike.contains(a.name) || hiCard.contains(a.name))) ||
          boundedBelow(w.child)
      }
      assert(offenders.isEmpty,
        s"$q: window(s) not pid-keyed and not over a bounded-by-" +
          s"construction table:\n${offenders.mkString("\n")}")
      // and at least one window must be doing the parallel per-partition
      // work, or the two-pass structure has been silently dropped
      assert(windows.exists(_.partitionSpec.exists(e =>
        e.references.exists(a => pidLike.contains(a.name)))),
        s"$q: no pid-keyed window — two-pass structure missing")
    }
    // q281 takes the domain-bounded fast path instead: NO rank over the
    // fact join at all — every window must sit over the (prio, delay)
    // value census (a ≤|classes|·|days| table), never over raw rows.
    val p281 = SparkEntry.queries("q281_shipping_delay_sla")(spark, sfDir)
      .queryExecution.sparkPlan
    val w281 = p281.collect { case w: WindowExec => w }
    assert(w281.nonEmpty, "q281: census windows missing")
    def censusBelow(p: SparkPlan): Boolean = p match {
      case a: BaseAggregateExec =>
        a.groupingExpressions.map(_.name).toSet == Set("prio", "delay_days")
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(censusBelow)
    }
    w281.foreach { w =>
      assert(censusBelow(w.child),
        s"q281: window not over the (prio, delay) census:\n$w")
    }
  }

  test("q233 EXISTS plans as one LeftSemi keyed on orderkey (no pair materialization)") {
    val p = planOf("q233_priority_late_exists")
    assert(p.contains("LeftSemi"), s"EXISTS did not plan as a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"semi join degenerated to a non-equi plan:\n$p")
  }

  test("q253 nearest as-of is join-free: both direction windows share one exchange") {
    val p = planOf("q253_join_asof_nearest")
    assert(!p.contains("Join"), s"merge form must not plan a join:\n$p")
    assert("Window".r.findAllIn(p).size >= 2, s"both direction frames expected:\n$p")
    // one uid-exchange feeds both windows (identical partitioning+ordering);
    // the only other allowed exchange is the final output range sort
    assert("hashpartitioning\\(uid".r.findAllIn(p).size <= 1,
      s"direction windows did not share the uid exchange:\n$p")
  }

  test("q238 brand screen broadcast-prunes the fact before the per-part stats") {
    val p = planOf("q238_small_qty_revenue")
    // the semi against the brand sliver must be a broadcast, and the
    // stats join keyed (SMJ/shuffled hash) on partkey
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"brand screen is not a broadcast semi:\n$p")
  }

  test("q344 JL projection subplan is scan-side: one bounded shuffle, no window") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    // the only exchange allowed is the 1-row sign-matrix build (limit 1);
    // the corpus pays a pure map-side projection
    val plan = graft.queries.LlmOps.jlProjected(spark, sfDir, 16)
      .queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty)
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 1, s"projection must not shuffle the corpus: $shuffles")
  }

  test("q352 top-10 candidate filter plans as WindowGroupLimit") {
    // q350's identical candidate stage sits behind its lazy checkpoint
    // (compiled as its own query execution), so the guard lives on the
    // checkpoint-free q352 plan where the optimizer's work is visible
    assert(planOf("q352_retrieval_eval_census").contains("WindowGroupLimit"))
  }

  test("q346 changepoint argmax plans as TakeOrderedAndProject (no global sort)") {
    assert(planOf("q346_amoc_changepoint").contains("TakeOrderedAndProject"))
  }

  test("q342 itemset/rule joins stay broadcast (no sort-merge, no cartesian)") {
    val p = planOf("q342_apriori_rules")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"rule expansion fell off the broadcast path:\n$p")
  }

  // ---- round-17 guards ----

  test("q358/q362 top-10 candidate filters plan as WindowGroupLimit") {
    assert(planOf("q358_ndcg_at_10").contains("WindowGroupLimit"))
    assert(planOf("q362_rbo_index_fidelity").contains("WindowGroupLimit"))
  }

  test("q366 token→vocab join is broadcast; doc scans prune to the used columns") {
    val p = planOf("q366_roc_auc_surprisal")
    assert(p.contains("BroadcastHashJoin"),
      "the vocab-bounded count table must broadcast, never shuffle the token stream")
    assert(!p.contains("n_chars") && !p.contains("source"),
      "document scan must prune unused columns")
  }

  test("q367 rerandomization is scan+agg only: no sort-merge join, no window") {
    val p = planOf("q367_permutation_test")
    assert(!p.contains("SortMergeJoin"),
      "only ≤48-group aggs and 1-row broadcasts may appear")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window "),
      "no window operator belongs in this plan")
  }

  test("q356/q365 drift windows run over the bounded census, with pruned scans") {
    for (name <- Seq("q356_cvm_drift_stat", "q365_mann_whitney_u")) {
      val p = planOf(name)
      assert(!p.contains("n_chars") && !p.contains("source"),
        s"$name: document scan must prune unused columns")
      // the lang-keyed prefix window must consume AGGREGATED census rows:
      // at least two aggregates (census + final) sit in the plan
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$name census shape")
    }
  }

  test("q357 fact⋈dim joins are hash joins; the QI grid never nests the fact side") {
    val p = planOf("q357_t_closeness_census")
    assert(!p.contains("CartesianProduct"),
      "only the broadcast domain-grid cross may appear, never a cartesian")
  }

  test("q373 shares q366's broadcast-vocab shape; q381's argmax is a broadcast anti") {
    val p = planOf("q373_average_precision")
    assert(p.contains("BroadcastHashJoin"),
      "q373: the vocab-bounded count table must broadcast")
    assert(!p.contains("n_chars") && !p.contains("source"),
      "q373: document scan must prune unused columns")
    // q381 checkpoints the threshold census (its scan shape is q373's,
    // proven above); the visible plan must keep the left-anti argmax a
    // BROADCAST nested loop over the bounded census
    val p81 = planOf("q381_f1_threshold")
    assert(p81.contains("BroadcastNestedLoopJoin") &&
      p81.contains("LeftAnti"), "q381: bounded broadcast argmax")
  }

  test("q374/q381 exact argmax joins stay broadcast (bounded census, no sort-merge)") {
    // the left-anti cross-multiply argmax runs census-vs-broadcast-twin:
    // a SortMergeJoin here means a census stopped being recognized as
    // small — the structural regression these queries were designed against
    for (name <- Seq("q374_wordpiece_merge_loop", "q381_f1_threshold")) {
      val p = planOf(name)
      assert(!p.contains("SortMergeJoin"), s"$name: bounded joins only")
      assert(!p.contains("CartesianProduct"), s"$name")
    }
  }

  test("q375/q376 rank-correlation plans stay census-sized after one corpus agg") {
    for (name <- Seq("q375_spearman_census", "q376_kendall_tau")) {
      val p = planOf(name)
      // the (flag, q, d) census is the only corpus-width agg; everything
      // after is census-bounded — no sort-merge join over corpus rows
      assert(!p.contains("SortMergeJoin"), s"$name: bounded joins only")
      assert(!p.contains("CartesianProduct"), s"$name")
      assert(!p.contains("l_extendedprice"),
        s"$name: lineitem scan must prune to flag/quantity/discount")
    }
  }

  test("q377/q378/q383/q385/q386 fold time series in ONE array row (no per-row window)") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (name <- Seq("q377_holt_winters_seasonal", "q385_forecast_skill",
        "q386_ccf_revenue_orders")) {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan
      assert(plan.collect { case w: WindowExec => w }.isEmpty,
        s"$name: the fold must run inside the array row, never a window")
    }
  }

  test("q387 hubness is the q193 scan-only shape: panel broadcast, no corpus window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries("q387_knn_hubness")(spark, sfDir)
      .queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty,
      "per-probe ranking must be the in-row array_sort, never a window")
    assert(plan.toString.contains("BroadcastNestedLoopJoin") ||
      plan.toString.contains("BroadcastHashJoin"),
      "the 1-row panel must broadcast")
  }

  test("q380 modularity joins are keyed (no cartesian over the edge list)") {
    val p = planOf("q380_modularity_census")
    assert(!p.contains("CartesianProduct"),
      "endpoint-community attachment must be keyed joins")
  }

  test("q396/q397/q402 paired-vote joins are keyed on doc_id (no cartesian)") {
    Seq("q396_mcnemar_filter_ab", "q397_fleiss_kappa_ensemble",
      "q402_cochran_q_filters").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), q)
    }
    // q397's visible stage sits behind the census checkpoint; the two
    // uncheckpointed siblings must show the keyed join operators
    Seq("q396_mcnemar_filter_ab", "q402_cochran_q_filters").foreach { q =>
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), q)
    }
  }

  test("q399 KN scoring joins the bigram table by KEY, never broadcast") {
    val p = planOf("q399_bigram_kneser_ney")
    // prefix/continuation tables broadcast; the corpus-shaped bigram
    // table must not (the q297 contract)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q400 LOF candidates come from the cell-keyed grid join (no all-pairs)") {
    val p = planOf("q400_lof_grid_outliers")
    assert(!p.contains("CartesianProduct"),
      "candidate generation must stay cell-keyed")
  }

  test("q411/q401 graph ops read the pinned adjacency without a corpus cartesian") {
    Seq("q411_link_prediction", "q401_harmonic_centrality").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct") || q == "q411_link_prediction",
        q)
    }
    // q411's K×K spine is the only sanctioned cross (both sides the
    // fixed panel)
    val p411 = planOf("q411_link_prediction")
    assert(p411.contains("BroadcastNestedLoopJoin") ||
      !p411.contains("CartesianProduct"), "the spine must broadcast")
  }

  test("q415 threshold table broadcasts; the value census is the probe side") {
    val p = planOf("q415_mean_excess_census")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 3-row threshold table is the broadcast side of the theta join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q412/q414 moment stats broadcast back to the scoring scan") {
    Seq("q412_ols_influence", "q414_simpson_reversal").foreach { q =>
      val p = planOf(q)
      assert(p.contains("BroadcastHashJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q418-q420/q428 drift-census family: census-sized crosses broadcast, no cartesian") {
    Seq("q418_wasserstein_drift", "q419_energy_distance_drift",
      "q420_welch_ttest_drift", "q428_hodges_lehmann_shift").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), q)
    }
    // the census² pair sides of q419/q428 must be the broadcast side
    Seq("q419_energy_distance_drift", "q428_hodges_lehmann_shift")
      .foreach { q =>
        assert(planOf(q).contains("BroadcastNestedLoopJoin"), q)
      }
  }

  test("q421 week-over-week pairing is a keyed day join (no cartesian)") {
    // the day-7 equi join itself sits behind the pairs localCheckpoint
    // (the q397 situation) — the visible stage must stay cross-free
    val p = planOf("q421_wilcoxon_signed_rank")
    assert(!p.contains("CartesianProduct"))
  }

  test("q422/q426 ride the bounded day census (no cartesian)") {
    Seq("q422_durbin_watson", "q426_fpe_order_selection").foreach { q =>
      assert(!planOf(q).contains("CartesianProduct"), q)
    }
  }

  test("q423/q427 concordance pair folds stay census-bounded broadcasts") {
    Seq("q423_ordinal_assoc_panel", "q427_jonckheere_terpstra").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), q)
    }
    // q427's ordered pair join is an inequality over the ≤250-cell
    // census — sanctioned only as a broadcast BNLJ
    assert(planOf("q427_jonckheere_terpstra")
      .contains("BroadcastNestedLoopJoin"))
  }

  test("q429 Katz walk sums are keyed |E| joins ending in a rank-pruned top-10") {
    val p = planOf("q429_katz_centrality")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"),
      "the top-10 must be rank-pruned, never a full sort")
  }

  test("q430/q431 rank machinery stays census-keyed (no cartesian)") {
    Seq("q430_kendall_w_proxies", "q431_seasonal_mann_kendall").foreach { q =>
      assert(!planOf(q).contains("CartesianProduct"), q)
    }
  }

  test("q424/q425 vote and tf chains are keyed joins with bounded outputs") {
    val p424 = planOf("q424_krippendorff_alpha")
    assert(!p424.contains("CartesianProduct"))
    val p425 = planOf("q425_term_burstiness")
    assert(!p425.contains("CartesianProduct"))
    assert(p425.contains("TakeOrderedAndProject"),
      "the top-K panel selection must be rank-pruned, never a full sort")
  }

  test("ensemble queries read ONE pinned tokenized base, never per-chain scans") {
    // r19 optimization guard: the three vote chains previously re-read
    // and re-tokenized documents.parquet independently (7 scans per
    // 3-chain query). The shared ensembleDocBase pin must keep every
    // chain on the checkpointed base — a parquet scan reappearing in the
    // plan means a chain silently detached from the pin.
    Seq("q396_mcnemar_filter_ab", "q397_fleiss_kappa_ensemble",
      "q402_cochran_q_filters", "q417_wilson_keep_rates",
      "q424_krippendorff_alpha").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Scan parquet"),
        s"$q: a vote chain re-scans the corpus instead of the pinned base:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"$q: expected the pinned tokenized base in the plan")
    }
  }

  test("q288/q401 masked BFS: bit_or folds, no per-layer anti-join chain") {
    // r19 optimization guard: the seed panel is packed into one 64-bit
    // mask per node — the hop merge is a union + groupBy bit_or and the
    // layer algebra is bitwise, so the old distinct + LeftAnti chain
    // (whose hop-3 expansion exploded ~24M pair rows at sf0.1) must not
    // reappear.
    Seq("q288_bfs_reachability", "q401_harmonic_centrality").foreach { q =>
      val p = planOf(q)
      assert(p.contains("bit_or"),
        s"$q: expected mask bit_or folds in the plan")
      assert(!p.contains("LeftAnti"),
        s"$q: per-layer anti-join chain reappeared (pair-state regression):\n$p")
    }
  }

  test("Fixpoint round: one keyed min aggregate under AQE, no repartition") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Min}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, RepartitionByExpression}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    // pinned inputs, as the kernel's rounds see them
    val ed = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 2L)).toDF("src", "dst")
      .localCheckpoint()
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("node", "lab").localCheckpoint()
    for (jump <- Seq(false, true)) {
      val qe = graft.operators.Fixpoint.round(ed, labels, jump).queryExecution
      assert(qe.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      val plan = qe.optimizedPlan
      // the jump's self-join reads the same subtree twice: count distinct nodes
      val aggs = plan.collect { case a: Aggregate => a }.map(_.canonicalized).distinct
      assert(aggs.size === 1, plan.treeString)
      val agg = aggs.head.asInstanceOf[Aggregate]
      assert(agg.groupingExpressions.nonEmpty)
      assert(agg.aggregateExpressions.flatMap(_.collect {
        case AggregateExpression(_: Min, _, _, _, _) => 1 }).size === 1)
      assert(plan.collect { case j: Join => j.canonicalized }.distinct.size ===
        (if (jump) 2 else 1))
      assert(plan.collect { case r: RepartitionByExpression => r }.isEmpty)
    }
  }

  test("q290 widest path: no (seed, node) grouping, one node-keyed 40-slot fold") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // hops 1-2 are pinned; hop 3's fold and the per-seed census are lazy
    val plan = SparkEntry.queries("q290_widest_path_census")(spark, sfDir)
      .queryExecution.optimizedPlan
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.forall(_.groupingExpressions.size == 1),
      s"a multi-key (pair-state) grouping reappeared:\n$plan")
    val folds = aggs.filter(_.aggregateExpressions.flatMap(_.collect {
      case AggregateExpression(_: Max, _, _, _, _) => 1 }).size == 40)
    assert(folds.size === 1, plan.treeString)
    assert(folds.head.groupingExpressions.head.references.map(_.name).toSet ===
      Set("node"))
  }

  test("q294/q380 label propagation: one vnode-keyed aggregate per vote round") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    import graft.queries.Graph
    // the layers both queries share; rounds 1-2 are pinned, round 3 is lazy
    val plan = Graph.lpLayersUnion(spark, sfDir, Graph.tradeAdjacency(spark, sfDir))
      .queryExecution.optimizedPlan
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.size === 1, plan.treeString)
    assert(aggs.head.groupingExpressions.flatMap(_.references).map(_.name) ===
      Seq("vnode"))
    assert(plan.collect { case w: Window => w }.isEmpty, plan.treeString)
  }
}
