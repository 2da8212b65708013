package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, LongType, StringType,
  StructField, StructType}
import scala.jdk.CollectionConverters._

import graft.Tables
import Portable._

/** Iterative graph analytics beyond connected components (q76's label
  * propagation): PageRank over the customer–supplier interaction graph.
  *
  * The portability problem PageRank poses is FLOATING-POINT DRIFT: the
  * textbook iteration sums `rank/outdegree` doubles over each node's
  * in-edges, and FP addition is order-dependent, so two engines (or two
  * shuffle layouts of the same engine) disagree in the last bits and the
  * top-k ordering becomes unstable exactly at the ties that matter. The
  * declared form is therefore FIXED-POINT: ranks are integers scaled by
  * 10¹², per-edge contributions use integer division (truncation —
  * identical in Spark's `DIV` and DuckDB's `//` for non-negative values),
  * and the damping update `0.15·S + 0.85·Σ` becomes
  * `(15·S) DIV 100 + (85·Σ) DIV 100` — every intermediate is exact, so
  * three iterations produce bit-identical ranks on any engine at any
  * parallelism. Magnitudes: Σ ≤ N·S = N·10¹², so Σ and the ×85 product
  * are computed in decimal(38,0) (HUGEINT in the oracle — DuckDB's
  * sum(BIGINT) already is one), which covers any realizable |V|; per-node
  * ranks and per-edge contributions stay within long at any |V| (they are
  * node-local quantities, not Σ-scale) and are declared BIGINT on both
  * sides.
  *
  * Scale shape: each iteration is one join of the edge list with the
  * current |V|-row rank table (pre-divided per source — the rank/deg
  * table, NOT per edge) and one sum-by-destination — the standard
  * edge-partitioned PageRank plan, with the bounded iteration count fixed
  * in the PLAN (unrolled), not driver-looped. The edge list is built once
  * and pinned (lazy localCheckpoint) because all three iterations and the
  * degree table read it.
  */
object Graph {

  private val Scale = 1000000000000L // 1e12 fixed-point

  /** 3-iteration fixed-point PageRank over the undirected bipartite
    * customer↔supplier graph (an edge per distinct (customer, supplier)
    * trade pair via orders ⋈ lineitem). Output: top-20 nodes by final
    * rank, total-ordered (rank desc, node asc) — exact integers, so the
    * ranking is reproducible to the last row. */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // long-encoded node ids (ck ↦ 2ck, sk ↦ 2sk+1 — see the
    // trade-graph encoding note below): the three iterations shuffle
    // |E|-row (node, contribution) streams, and fixed-width long keys
    // sort/hash/ship ~2× leaner than the public string ids, which are
    // reconstructed only in the 20-row output projection
    val raw = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"),
        ($"l_suppkey" * 2 + 1).as("dst"))
    // Pinned src-partitioned ADJACENCY (see tradeAdjacency's doc): the
    // one groupBy(src) exchange both deduplicates and places the graph;
    // its own hashpartitioning is recorded by the checkpoint
    // (Pinned.checkpointAsIs), every iteration reads it exchange-free,
    // degree and the node list fall out map-side (size(dsts) / the
    // groupBy key), and the contribution join is |V|-row with the
    // |E|-row stream existing only after the explode. This is the
    // cluster contract: partition the big immutable relation once,
    // iterate against it.
    val edges = graft.operators.Pinned.checkpointAsIs(
      raw.unionAll(raw.select($"dst".as("src"), $"src".as("dst")))
        .groupBy($"src").agg(collect_set($"dst").as("dsts")), "src")
    val deg = edges.select($"src", size($"dsts").cast("long").as("d"))
    val nodes = edges.select($"src".as("node"))
    val r0 = nodes.select($"node", lit(Scale).as("r"))
    def step(rk: DataFrame): DataFrame = {
      val perSrc = rk.join(deg, rk("node") === deg("src"))
        .select($"node", expr("r div d").as("c"))
      // Σ and the ×85 product run in decimal(38,0) — the q203 precedent,
      // and the oracle's own arithmetic (DuckDB sum(BIGINT) is HUGEINT):
      // in long they wrap past 2⁶³ at N ≈ 10⁵ nodes (85·N·S), silently
      // diverging from the oracle; 38 digits cover any realizable graph.
      // The damped rank itself stays BIGINT on both sides — valid under
      // a DEGREE-BOUNDED assumption: each rank is ≤ 0.15·S + 0.85·(max
      // in-sum/deg), and an in-sum is Θ(in-degree·S) after one step. On
      // hub topologies (a star center with 10⁷+ spokes) the rank itself
      // approaches 0.85·N·S and the BIGINT IntegralDivide result would
      // overflow — such graphs need the rank kept in DECIMAL(38,0)
      // end-to-end (the oracle's HUGEINT), trading the exact-integer
      // compare contract for headroom. The fixture's co-order graph (and
      // any bounded-fan-in graph) stays far inside BIGINT.
      val contrib = edges.join(perSrc, edges("src") === perSrc("node"))
        .select(explode($"dsts").as("dst"), $"c")
        .groupBy($"dst")
        .agg(sum($"c".cast(DecimalType(38, 0))).as("in_sum"))
      nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select($"node",
          (lit(15L * Scale / 100L) +
            expr("85 * coalesce(in_sum, CAST(0 AS DECIMAL(38,0))) div 100"))
            .as("r"))
    }
    val r3 = step(step(step(r0)))
    // reconstruct the public string id BEFORE the total order: the
    // oracle's tie-break is lexicographic on the string id ("c10" <
    // "c2"), which differs from numeric order — sorting the longs and
    // projecting after could pick different rows at rank-20 ties
    r3.select(nodeStr($"node").as("node"), $"r")
      .orderBy($"r".desc, $"node".asc)
      .limit(20)
      .select($"node", $"r".as("pr"))
  }

  /** Degree-oriented triangle census over the supplier co-order graph —
    * the standard distributed triangle-counting algorithm (orient each
    * undirected edge from its lower-(degree, id) endpoint to the higher,
    * enumerate wedges from shared sources, close them against the
    * oriented edge list). Orientation is the whole scale story: it
    * bounds every out-degree by O(√m) regardless of how skewed the raw
    * degree distribution is, so the wedge self-join — the only
    * super-linear step — generates Σ C(outdeg, 2) ≤ O(m^1.5) rows
    * instead of the Σ C(deg, 2) a naive neighbor join pays on hubs.
    * Edge generation itself is basket-bounded (≤ 17 lineitems per order
    * on the fixture — the q255 measured distribution).
    *
    * The edge relation is made SPARSE BY CONSTRUCTION: an edge requires
    * co-order multiplicity m ≥ max([[CoOrderMinMult]],
    * [[CoOrderLift]]·λ), where λ = Σm / C(|V|,2) is the corpus-wide
    * expected pair multiplicity — i.e. the pair must co-occur at least
    * [[CoOrderLift]]× MORE OFTEN THAN CHANCE (a lift filter, the
    * market-basket significance screen), and at least
    * [[CoOrderMinMult]] times absolutely. This is the semantically
    * interesting graph — strong ties, not one-off baskets — and it is
    * what keeps the census computable at any SF: single-basket
    * co-occurrence saturates (~91 % dense at sf0.1: nearly every
    * supplier pair shares SOME order, so Σ C(outdeg,2) realizes the
    * O(m^1.5) worst case and grows as ~|V|³). Absolute thresholds were
    * measured first (sf0.1: oriented wedges 76.2 M at m ≥ 2, 28.7 M at
    * ≥ 3, 7.3 M at ≥ 4, 1.34 M at ≥ 5 / 47 703 edges) — but a FIXED
    * cutoff is not scale-robust: any fixture where facts grow while the
    * entity population doesn't (the 10× soak replication, or a real
    * corpus densifying over time) multiplies every m uniformly and
    * re-saturates it. The lift form self-normalizes: multiplying all m
    * by c multiplies λ by c and selects the SAME relative tail, while
    * the absolute floor covers the sparse regime (λ < 1, the natural
    * TPC-H scaling where suppliers grow with facts) where lift alone
    * would admit the all-pairs noise. λ's ceil-division is exact long
    * arithmetic ((2·L·Σm + D − 1) div D, D = |V|·(|V|−1)) — identical
    * in both engines, and the threshold is DATA-DRIVEN in-plan: two
    * 1-row scalars broadcast into the multiplicity filter, no driver
    * round-trip.
    * Every count is an exact long; the global clustering coefficient
    * 3·T / Σ C(deg,2) is one IEEE divide over two exact integers, NULL
    * on the wedge-free degenerate graph (0/0 would be NaN in Spark but
    * NULL in DuckDB — guarded on both sides). Output: a 1-row census. */
  /** Absolute strong-tie floor for the co-order graph (see
    * [[triangleCensus]]'s scaladoc for the measured wedge-count table
    * behind the value). */
  val CoOrderMinMult = 5L

  /** Lift multiplier: an edge must co-occur at least this many times
    * more often than the corpus-wide expectation λ. */
  val CoOrderLift = 3L

  def triangleCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val so = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sp")).distinct()
    val mult = so.select($"ok", $"sp".as("u"))
      .join(so.select($"ok", $"sp".as("v")), "ok")
      .filter($"u" < $"v")
      .groupBy($"u", $"v").agg(count(lit(1)).as("m"))
      .localCheckpoint(eager = false) // read by Σm scalar + edge filter
    // threshold = max(floor, ceil(Lift·λ)), λ = Σm / C(|V|,2) — two 1-row
    // scalars, exact long ceil-division, broadcast into the filter.
    val thr = mult.agg(sum($"m").as("slots"))
      .crossJoin(so.select($"sp").distinct().agg(count(lit(1)).as("nv")))
      .select(greatest(lit(CoOrderMinMult),
        coalesce(expr(s"(2 * $CoOrderLift * slots + nv * (nv - 1) - 1)" +
          " div nullif(nv * (nv - 1), 0)"), lit(CoOrderMinMult))).as("thr"))
    val und = mult.crossJoin(broadcast(thr))
      .filter($"m" >= $"thr") // sparse by construction: strong ties only
      .select($"u", $"v")
      .localCheckpoint(eager = false) // read by degs + orientation
    val degs = und.select($"u".as("n")).unionAll(und.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    // Pinned pre-partitioned on src (Pinned doc explains the AQE caveat):
    // both wedge-generation self-join sides key on src, so they read the
    // oriented edges exchange-free; only the closure probe re-keys.
    val e = graft.operators.Pinned.partitionedCheckpoint(
      und
        .join(degs.select($"n".as("u"), $"deg".as("du")), "u")
        .join(degs.select($"n".as("v"), $"deg".as("dv")), "v")
        .select(
          when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"u")
            .otherwise($"v").as("src"),
          when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"v")
            .otherwise($"u").as("dst"),
          when($"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"), $"dv")
            .otherwise($"du").as("ddst")),
      $"src") // read by wedge gen ×2 + closure probe
    val wedges = e.select($"src", $"dst".as("x"), $"ddst".as("dx"))
      .join(e.select($"src", $"dst".as("y"), $"ddst".as("dy")), "src")
      .filter($"dx" < $"dy" || ($"dx" === $"dy" && $"x" < $"y"))
    val tri = wedges
      .join(e.select($"src".as("x"), $"dst".as("y")), Seq("x", "y"), "semi")
      .agg(count(lit(1)).as("n_triangles"))
    val census = degs.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val edges = und.agg(count(lit(1)).as("n_edges"))
    census.crossJoin(edges).crossJoin(tri)
      .select($"n_nodes", $"n_edges", $"n_wedges", $"n_triangles",
        when($"n_wedges" > 0, ratio(lit(3L) * $"n_triangles", $"n_wedges"))
          .as("clustering_coeff"))
  }

  /** Fixed seed panel for the q288/q290 traversals: the first
    * [[SeedPanelK]] suppliers by suppkey — a BOUNDED deterministic
    * panel, not a fraction of the table. This is the scale contract the
    * round-10 `s_suppkey % 25` screen violated: a mod screen selects a
    * fixed FRACTION, so |seeds| grows O(SF) and the traversals'
    * |seeds|·|V| working set grows O(SF²) — ~6.4 G pairs at sf100,
    * infeasible at 100 TB-class SF. With a fixed K the working set is
    * K·|V| = O(SF) — linear, like every other query in the suite. The
    * panel is K ROWS (not a key-range predicate whose population could
    * drift), totally ordered by the unique key, so it is deterministic
    * on both engines; the all-sources form of the same question is the
    * q291 HLL reach sketch, whose state is |V|-sized at ANY seed count. */
  private val SeedPanelK = 40

  /** INTERNAL node encoding for the trade-graph family (round 14): node
    * ids are LONGS — customer ck ↦ 2·ck, supplier sk ↦ 2·sk+1 — not the
    * "c…"/"s…" strings of earlier rounds. Every hop of every traversal
    * shuffles, sorts, and checkpoints (seed, node) pairs, and a fixed
    * 8-byte long beats a variable UTF8 key on all three (an UnsafeRow
    * string field is offset+len+padded bytes ≈ 2–3× wider, and hash/
    * compare are byte loops instead of single long ops). The public
    * string ids are reconstructed ONLY at bounded outputs ([[seedStr]],
    * [[nodeStr]] — ≤K rows or a top-k), so every declared schema and
    * every oracle is unchanged. */
  private def seedStr(c: Column): Column =
    concat(lit("s"), shiftright(c, 1).cast("string"))

  private def nodeStr(c: Column): Column =
    concat(when(c % 2 === 0, lit("c")).otherwise(lit("s")),
      shiftright(c, 1).cast("string"))

  private def seedPanel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.supplier(s, dir)
      .orderBy($"s_suppkey".asc)
      .limit(SeedPanelK)
      .select(($"s_suppkey" * 2 + 1).as("seed"))
  }

  private val SeedPanelSql: String =
    s"SELECT 's' || s_suppkey AS seed FROM supplier ORDER BY s_suppkey LIMIT $SeedPanelK"

  /** The undirected customer↔supplier trade graph as a pinned,
    * src-partitioned ADJACENCY LIST (src, dsts: array<long>) —
    * long-encoded node ids (see above). Round-14 second build rework:
    * the pair-list form cost scan → distinct exchange → symmetrize →
    * repartition exchange (≈1.6 s warm per materialization, ~40 % of
    * each graph query); the adjacency form symmetrizes the RAW pairs
    * first and folds dedup INTO the one groupBy(src) exchange
    * (collect_set), whose own hashpartitioning the checkpoint records
    * directly (Pinned.checkpointAsIs — no redundant repartition).
    * Consumers join on src exchange-free and explode `dsts` AFTER the
    * join, so expansion joins are |V|-row, not |E|-row; `src` doubles
    * as the distinct node list (groupBy key) and `size(dsts)` as the
    * degree — both exchange-FREE where the pair form paid a distinct /
    * a groupBy. collect_set's element order is nondeterministic and no
    * consumer may depend on it (all downstream ops are set-semantics:
    * distinct, anti-join, groupBy, register-max sketch unions).
    *
    * DEGREE PRECONDITION (the price of the adjacency form): collect_set
    * materializes each node's whole neighbor set as ONE array row, so a
    * node's degree must stay far below array-row comfort (~10⁵ longs ≈
    * 1 MB; a 10⁷-neighbor hub is a multi-hundred-MB single row that
    * kills the build where a pair list survives). On the trade graph
    * degrees are SF-CONSTANT — customers hold ≈40 suppliers and
    * suppliers ≈600 customers at every SF, because dims and facts scale
    * together — so the bound holds at any corpus. A power-law graph
    * (social edges, web links) VIOLATES it: use the pair-list build
    * (q290's form) there instead. EnvelopeAuditSpec measures the
    * fixture's max degree against this bound so a graph-shape change
    * fails CI before a build dies. Shared by q288/q291/q294/q301; q290
    * keeps the weighted PAIR build (its per-pair trade counts need the
    * (src,dst) grain). */
  private[graft] def tradeAdjacency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"),
        ($"l_suppkey" * 2 + 1).as("dst"))
    graft.operators.Pinned.checkpointAsIs(
      raw.unionAll(raw.select($"dst".as("src"), $"src".as("dst")))
        .groupBy($"src").agg(collect_set($"dst").as("dsts")), "src")
  }

  /** 3 unrolled BFS hops from `seeds` (a bounded `seed` panel, ≤ 63
    * seeds) over pinned `edges`, with the panel PACKED into ONE 64-bit
    * mask per node — returns the per-seed per-hop first-visit counts
    * (seed, n_hop1, n_hop2, n_hop3), zero-filled for seeds that reach
    * nothing.
    *
    * Optimization-round rework (guide §2.3 "shuffle fewer bytes", taken
    * to its limit) of the (seed, node) PAIR state: the pair form's hop-k
    * expansion exploded Σ_{(seed,node)∈frontier} deg(node) rows — 24 M
    * pair rows at hop 3, sf0.1 — then deduped and anti-joined them
    * against every prior layer. With seed s ↦ bit(s) (rank by numeric
    * seed id over the ≤K-row panel — the no-partition window is bounded
    * by construction), the whole BFS state is |V| rows × one 8-byte
    * mask: a hop explodes Σ_{node∈frontier} deg(node) ≤ 2|E| rows
    * (panel-size-independent), bit_or-folds them per node, and the
    * visited/layer algebra is bitwise — layer_k = expanded & ~visited,
    * visited' = visited | expanded — so the distinct AND the whole
    * anti-join chain disappear. Layer masks are DISJOINT by construction
    * (exactly the BFS first-visit layers, seed-self rows excluded), so
    * n_reachable = Σ_k n_hopk without double counting. The merge is a
    * union + groupBy(node) bit_or (never a full-outer join, whose output
    * partitioning AQE cannot certify for the pin); hops 1–2 pin
    * checkpointAsIs on node, hop 3 stays lazy (single consumer — the
    * census). Requires |panel| ≤ 63 bits ([[SeedPanelK]] = 40; q291's
    * certification panel is 10) — a wider panel would shard into
    * ⌈K/63⌉ mask columns, same algebra. */
  private def bfsHopCounts(seeds: DataFrame, adj: DataFrame,
      panelK: Int): DataFrame = {
    // validate the CALLER's panel width, not just SeedPanelK: q291 passes
    // a ReachPanelK-sized panel, and shiftleft wraps shift amounts mod 64,
    // so a >63-seed panel would silently alias bit masks (advice r19)
    require(panelK <= 63,
      s"seed panel ($panelK) must fit one 64-bit mask")
    val seedIdx = seeds
      .withColumn("bit",
        (row_number().over(Window.orderBy(col("seed"))) - 1).cast("int"))
      .withColumn("m", expr("shiftleft(cast(1 as bigint), bit)"))
    var visited = seedIdx.select(col("seed").as("node"), col("m").as("vm"))
    var frontier = visited.select(col("node"), col("vm").as("fm"))
    var layers = List.empty[(Int, DataFrame)]
    (1 to 3).foreach { hop =>
      // expansion joins the |V|-bounded frontier to the pinned adjacency
      // (exchange-free on the pin key), explodes AFTER the join, and
      // folds the masks by destination — the one irreducible shuffle
      val expanded = frontier.join(adj, frontier("node") === adj("src"))
        .select(explode(col("dsts")).as("node"), col("fm"))
        .groupBy(col("node")).agg(expr("bit_or(fm)").as("em"))
      val mergedLazy = visited
        .select(col("node"), col("vm"), lit(0L).as("em"))
        .unionAll(expanded.select(col("node"), lit(0L).as("vm"), col("em")))
        .groupBy(col("node"))
        .agg(expr("bit_or(vm)").as("vm0"), expr("bit_or(em)").as("em"))
        .select(col("node"),
          col("vm0").bitwiseOR(col("em")).as("vm"),
          col("em").bitwiseAND(bitwise_not(col("vm0"))).as("lm"))
      val merged =
        if (hop < 3) graft.operators.Pinned.checkpointAsIs(mergedLazy, "node")
        else mergedLazy
      visited = merged.select(col("node"), col("vm"))
      frontier = merged.filter(col("lm") =!= 0L)
        .select(col("node"), col("lm").as("fm"))
      layers ::= (hop, merged)
    }
    val tagged = layers.map { case (h, l) =>
      l.filter(col("lm") =!= 0L)
        .select(col("node"), col("lm"), lit(h.toLong).as("hop"))
    }.reduce(_ unionAll _)
    val counts = tagged
      .crossJoin(broadcast(seedIdx.select(col("seed"), col("m"))))
      .filter(col("lm").bitwiseAND(col("m")) =!= 0L)
      .groupBy(col("seed")).agg(
        sum(when(col("hop") === 1L, 1L).otherwise(0L)).as("n_hop1"),
        sum(when(col("hop") === 2L, 1L).otherwise(0L)).as("n_hop2"),
        sum(when(col("hop") === 3L, 1L).otherwise(0L)).as("n_hop3"))
    seeds.join(counts, Seq("seed"), "left")
      .select(col("seed"),
        coalesce(col("n_hop1"), lit(0L)).as("n_hop1"),
        coalesce(col("n_hop2"), lit(0L)).as("n_hop2"),
        coalesce(col("n_hop3"), lit(0L)).as("n_hop3"))
  }

  /** Multi-source 3-hop BFS reachability census — the TRAVERSAL member
    * of the graph family next to q197's fixpoint VALUES and q76's
    * component LABELS: from every seed supplier (the fixed [[seedPanel]]
    * of K suppliers), expand frontiers over the undirected
    * customer↔supplier trade graph and report how many distinct nodes
    * each seed reaches within 3 hops — the "blast radius" question
    * (supply-chain exposure, contagion, account-linking) asked directly.
    * Mechanics: frontier = (seed, node) pairs; each hop is one keyed
    * join against the SAME pinned src-partitioned edge list q197
    * established (Pinned.partitionedCheckpoint — every hop reads it
    * exchange-free), then distinct + ANTI-join against the visited set,
    * so re-reached nodes never re-expand (the frontier stays the BFS
    * frontier, not the walk multiset — on a dense graph the naive
    * re-expansion multiplies by average degree per hop). Hop count is
    * fixed in the PLAN (unrolled), not driver-looped. The oracle unrolls
    * the same three hops as DISTINCT joins and unions them — set
    * semantics make frontier-vs-full-expansion provably identical.
    * Scale: frontier size ≤ K·|V| with K the FIXED seed-panel size —
    * O(SF) linear in the data, verified by the dims-scaled soak (see
    * docs/PLANS.md; the r10 mod-screen form was O(SF²) and the
    * facts-only soak masked it); every join/distinct/anti is keyed;
    * nothing is ever broadcast on the growing side. */
  def bfsReachability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeAdjacency(s, dir)
    // layers are disjoint first-visit sets excluding the seed itself, so
    // the reach count is the plain hop-count sum (the pair form counted
    // visited rows − 1 for the seed row; identical by construction)
    bfsHopCounts(seedPanel(s, dir), edges, SeedPanelK)
      .select(seedStr($"seed").as("seed"),
        ($"n_hop1" + $"n_hop2" + $"n_hop3").as("n_reachable_3hop"))
      .orderBy($"seed")
  }

  /** Harmonic centrality from the [[seedPanel]] (Marchiori & Latora
    * 2000; Boldi & Vigna 2014's preferred closeness variant, public
    * definitions) — the PATH-based centrality the family lacks (q197
    * PageRank and q338 HITS propagate VALUES; nothing yet prices
    * DISTANCE): H(s) = Σ_{v≠s} 1/d(s,v), truncated at the q288 horizon
    * d ≤ 3 (unreachable terms contribute 0 — exactly why harmonic,
    * not classic closeness, survives disconnected graphs). EXACT
    * arithmetic via the lcm(1..3) = 6 trick: 6·H = 6n₁ + 3n₂ + 2n₃
    * over the per-hop first-visit counts — integers end-to-end, one
    * shared divide at the end. Distances come from q288's layered BFS
    * (each anti-joined layer IS the exact d = k set); the oracle
    * instead min-folds hop tags over unrolled DISTINCT expansions —
    * set semantics make first-visit layers ≡ min(hop) provably. A seed
    * reaching nothing keeps zero counts and H = 0 (the left-join
    * spine). Scale: q288's exact shape — K·|V| bounded layers over the
    * pinned adjacency, one conditional-sum census. */
  def harmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeAdjacency(s, dir)
    // the per-hop first-visit counts ARE the d = k sets (the mask layers
    // of bfsHopCounts — disjoint by the bitwise visited algebra, exactly
    // the anti-joined layers of the pair form)
    bfsHopCounts(seedPanel(s, dir), edges, SeedPanelK)
      .withColumn("n_reachable", $"n_hop1" + $"n_hop2" + $"n_hop3")
      .withColumn("h6",
        lit(6L) * $"n_hop1" + lit(3L) * $"n_hop2" + lit(2L) * $"n_hop3")
      .select(seedStr($"seed").as("seed"), $"n_hop1", $"n_hop2", $"n_hop3",
        $"n_reachable", $"h6", ratio($"h6", lit(6L)).as("harmonic"))
      .orderBy($"seed")
  }

  /** Link-prediction census over the [[seedPanel]] pairs (public
    * common-neighbors / Jaccard / preferential-attachment / resource-
    * allocation scores — Liben-Nowell & Kleinberg 2003, Zhou et al.
    * 2009): "which two suppliers that DON'T trade through the same
    * books yet look like they should" — the recommendation question
    * beside the family's centralities. Per unordered panel pair (the
    * K(K−1)/2 spine is FIXED-size): |Γa∩Γb| and degrees exact off the
    * pinned adjacency; Jaccard = ∩/(da+db−∩) one shared divide;
    * PA = da·db exact; RA = Σ_{w∈∩} 1/deg(w) with 1/deg QUANTIZED
    * DYADICALLY as 2^(1−bits(deg)) — every term an exact power of two,
    * so the float SUM is exact and order-independent (exponent span ≤
    * bits(deg_max)+bits(K·deg) ≪ 53; the trick that makes a
    * shuffle-summed float lawful). Pairs are ORDERED on the NUMERIC
    * seed id (the string form 's10' < 's2' would disagree between
    * engines); output keys are the display strings. Scale: K·deg
    * neighbor rows, one keyed self-join bounded by Σ_w (panel-adj
    * choose 2), a K²-row spine. */
  def linkPredictionCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeAdjacency(s, dir)
    val seeds = seedPanel(s, dir)
    val custDeg = edges.select($"src".as("nbr"),
      size($"dsts").cast("long").as("degw"))
    val nbrs = seeds.join(edges, seeds("seed") === edges("src"))
      .select($"seed", explode($"dsts").as("nbr"))
      .join(custDeg, Seq("nbr")) // (seed, nbr, degw); K·deg rows
      .localCheckpoint(eager = false) // both pair sides
    val deg = seeds.join(edges, seeds("seed") === edges("src"))
      .select($"seed", size($"dsts").cast("long").as("deg"))
    val raTerm = ratio(lit(1L),
      expr("shiftleft(cast(1 as bigint), cast(length(bin(degw)) as int) - 1)"))
    val common = nbrs.select($"seed".as("sa"), $"nbr", $"degw")
      .join(nbrs.select($"seed".as("sb"), $"nbr"), Seq("nbr"))
      .filter($"sa" < $"sb")
      .groupBy($"sa", $"sb")
      .agg(count(lit(1)).as("n_common"), sum(raTerm).as("ra"))
    val spine = seeds.select($"seed".as("sa"))
      .crossJoin(broadcast(seeds.select($"seed".as("sb"))))
      .filter($"sa" < $"sb")
    spine
      .join(common, Seq("sa", "sb"), "left")
      .join(deg.select($"seed".as("sa"), $"deg".as("da")), Seq("sa"), "left")
      .join(deg.select($"seed".as("sb"), $"deg".as("db")), Seq("sb"), "left")
      .select(seedStr($"sa").as("seed_a"), seedStr($"sb").as("seed_b"),
        coalesce($"da", lit(0L)).as("deg_a"),
        coalesce($"db", lit(0L)).as("deg_b"),
        coalesce($"n_common", lit(0L)).as("n_common"),
        coalesce($"ra", lit(0.0)).as("ra_dyadic"))
      .withColumn("n_union", $"deg_a" + $"deg_b" - $"n_common")
      .select($"seed_a", $"seed_b", $"deg_a", $"deg_b", $"n_common",
        $"n_union",
        when($"n_union" > 0L, ratio($"n_common", $"n_union")).as("jaccard"),
        ($"deg_a" * $"deg_b").as("pref_attach"), $"ra_dyadic")
      .orderBy($"seed_a", $"seed_b")
  }

  private val BnInf = Long.MaxValue / 4 // exact BIGINT on both engines

  /** Widest-path (bottleneck) census — the VALUE-relaxation traversal
    * next to q288's SET expansion: for each seed supplier, the best
    * achievable bottleneck strength (max over ≤3-hop paths of the MIN
    * edge weight along the path) to every reachable node — the
    * supply-chain robustness question ("how strong is the weakest link
    * on the best route"). Edge weight = lineitem trade volume per
    * (customer, supplier) pair — an exact integer, so the whole DP is
    * integer max/least arithmetic with zero FP drift (the q197
    * portability stance without even needing fixed-point). Relaxation:
    * best₀ = (seed, seed, INF); each hop joins the CURRENT best table
    * against the pinned src-partitioned weighted edges, proposes
    * least(bn, w), and folds max per (seed, node) together with the
    * previous best — Bellman-Ford with hops unrolled in the plan. Unlike
    * q288 there is no visited anti-join: VALUES can improve on revisits
    * (a longer path can carry a wider bottleneck), so re-relaxation is
    * the semantics, bounded by the fixed hop count. Output collapses to
    * the per-seed census (reach count + bottleneck extremes). Scale:
    * best table ≤ K·|V| rows with K the FIXED [[seedPanel]] size —
    * O(SF) linear (the r10 mod-screen form was O(SF²)); every join/agg
    * keyed, nothing growing is broadcast. */
  def widestPathCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .groupBy(($"o_custkey" * 2).as("src"),
        ($"l_suppkey" * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("w"))
    val edges = graft.operators.Pinned.partitionedCheckpoint(
      pairs.unionAll(pairs.select($"dst".as("src"), $"src".as("dst"), $"w")),
      $"src")
    // Round-20 value-packing rework (guide §2.3 "shuffle fewer bytes" —
    // the q288 mask move generalized from SETS to VALUES): the (seed,
    // node) PAIR state made each hop explode Σ_{(seed,node)∈delta}
    // deg(node) proposal ROWS (~24 M at sf0.1 hop 2–3) and fold them in
    // a K·|V|-group aggregate. Seeds are a FIXED panel, so the per-seed
    // bottleneck values pack into ONE fixed K-slot long array per node
    // (slot = rank of seed id, exactly q288's bit assignment; 0 = "no
    // ≤k-hop path yet" — lawful as −∞ because every real value is ≥ 1
    // and the DP is pure least/max: least(0, w) = 0, max(0, x) = x, so
    // slot-wise the array DP computes literally the pair DP's values).
    // State: |V| rows × (8·K+overhead) bytes. A hop explodes
    // Σ_{node∈delta} deg(node) ≤ 2|E| rows REGARDLESS of K (the pair
    // form multiplied by the seed count), proposes zip-least(bns, w),
    // and folds per node with K plain long-max aggregates (fixed-width
    // codegen buffer — no collect_list); the K·|V|-group fold and its
    // row explosion disappear. Seed self-rows keep BnInf in their own
    // slot (greatest(BnInf, ·) = BnInf) and are excluded at the census
    // exactly like the pair form's node ≠ seed filter.
    val K = SeedPanelK
    val seedIdx = seedPanel(s, dir).withColumn("slot",
      (row_number().over(Window.orderBy($"seed")) - 1).cast("int"))
    val initBns = array((0 until K).map(i =>
      when($"slot" === i, lit(BnInf)).otherwise(lit(0L))): _*)
    var best = seedIdx.select($"seed".as("node"), initBns.as("bns"))
    // DELTA relaxation (Bellman–Ford's standard work-skipping), per NODE
    // now: a node re-expands iff ANY slot improved in the previous hop —
    // a superset of the pair form's per-(seed,node) delta, and re-folding
    // an unchanged slot's proposals is a max no-op, so values are
    // unaffected. Each hop: fold ONLY the proposals (the unavoidable
    // Bellman-Ford shuffle, now |V|-grouped), then FULL-OUTER merge into
    // the pinned best on node — the big side reads exchange-free, the
    // proposal side is already node-placed by its own fold. ONE pin per
    // hop carries (node, bns, changed); hop 3 pins nothing (single
    // consumer — the census).
    var delta = best
    (1 to 3).foreach { hop =>
      val prop = delta.join(edges, delta("node") === edges("src"))
        .select($"dst".as("node"),
          transform($"bns", x => least(x, $"w")).as("p"))
        .groupBy($"node")
        .agg(array((0 until K).map(i =>
          max(element_at($"p", i + 1))): _*).as("pbns"))
      val mergedLazy = best.join(prop, Seq("node"), "full_outer")
      val foldBns = when($"bns".isNull, $"pbns")
        .when($"pbns".isNull, $"bns")
        .otherwise(zip_with($"bns", $"pbns", (a, b) => greatest(a, b)))
      if (hop < 3) {
        val merged = graft.operators.Pinned.partitionedCheckpoint(
          mergedLazy.select($"node", foldBns.as("bns"),
            coalesce($"bns".isNull ||
              exists(zip_with($"bns", $"pbns", (a, b) => b > a),
                (c: Column) => c), lit(false)).as("changed")),
          $"node")
        best = merged.select($"node", $"bns")
        delta = merged.filter($"changed").select($"node", $"bns")
      } else
        best = mergedLazy.select($"node", foldBns.as("bns"))
    }
    best
      .select($"node", posexplode($"bns").as(Seq("slot", "bn")))
      .filter($"bn" > 0L)
      .join(broadcast(seedIdx), Seq("slot"))
      .filter($"node" =!= $"seed")
      .groupBy($"seed")
      .agg(count(lit(1)).as("n_reachable"),
        max($"bn").as("max_bottleneck"),
        min($"bn").as("min_bottleneck"))
      .select(seedStr($"seed").as("seed"), $"n_reachable",
        $"max_bottleneck", $"min_bottleneck")
      .orderBy($"seed")
  }

  /** HLL precision for q291's per-node reach sketches: lgConfigK = 9 →
    * 512 registers, ~4.6 % relative standard error, ~0.25 KB dense —
    * the HyperBall working point (the per-hop sketch shuffle and the
    * |V|-row pins are linear in register count, so this halves the
    * query's dominant byte volume vs lgK 10; the 15 % contract band is
    * still ≈3.3σ, and HLL estimates are DETERMINISTIC for a fixed
    * corpus — the band flags are verified TRUE at every gated fixture
    * SF, so the tighter working point risks nothing the gate would
    * catch probabilistically). */
  private val ReachLgK = 9

  /** q291's exact-verification panel: 10 suppliers (the first quarter of
    * [[SeedPanelK]]'s panel). The EXACT 3-hop BFS for the panel is the
    * expensive certification side (K·|V| working set), so it stays
    * smaller than q288's census panel; the SKETCH side is all-nodes
    * regardless. */
  private val ReachPanelK = 10

  /** All-sources 3-hop reach census via per-node HLL sketches — the
    * HyperBall construction (Boldi–Rosa–Vigna's neighborhood-function
    * algorithm, built from public descriptions of the HyperANF/HyperBall
    * papers) and the genuinely 100 TB-shaped form of q288's question:
    * q288 answers "how far does each of K seeds reach" with a K·|V|
    * exact working set; this answers it for EVERY node at once with
    * |V|-sized state at ANY seed count, because each node's reach SET is
    * replaced by a fixed-size mergeable HLL sketch. Iteration k ≥ 2:
    * sk_k(v) = ⋃_{u∈N(v)} sk_{k-1}(u) — one keyed gather join against
    * the pinned src-partitioned adjacency (scatter form: on the
    * symmetrized graph, gather-by-dst ≡ scatter-from-src, so the SAME
    * src pin q288 uses serves exchange-free here too), one
    * hll_union_agg by destination; hop 1 sketches {v} ∪ N(v) straight
    * off the adjacency in its own partitions (zero shuffle). No per-hop
    * self-union and no per-hop pin — see [[reachSketchPanel]] for the
    * identity and the single-consumer laziness argument. Hops unrolled
    * in the plan. Per hop the shuffle is |E| rows × ~0.5 KB sketch —
    * linear in edges, never a pair table.
    *
    * Contract (the q18/q92 bounded-error pattern): the sketch table is
    * certified against the EXACT 3-hop BFS on a fixed 10-supplier panel
    * ([[ReachPanelK]] — bounded, like every panel in this family):
    * per panel seed, |est − exact| ≤ 15 %·exact must hold (estimate
    * includes self, so exact+1), stated literally TRUE by the oracle;
    * with [[ReachLgK]] = 9's ~4.6 % RSE the band is ≈3.3σ, so a false
    * flag indicates a broken union/propagation, not sketch noise —
    * and EnvelopeAuditSpec pins the measured fixture error
    * under 10 %, attributing any margin collapse before this gate.
    * `n_nodes_sketched` = |V| rides along exactly — the |V|-sized-state
    * claim as a checked output, and DataSketches HLL unions are
    * register-max merges (order-insensitive), so the estimates are
    * deterministic under any shuffle layout. */
  def reachSketchCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    reachSketchPanel(s, dir)
      .select($"seed_str".as("seed"), $"n_reachable_3hop",
        $"n_nodes_sketched",
        coalesce(abs($"est" - $"exact_p1") <= lit(0.15) * $"exact_p1",
          $"n_reachable_3hop" === 0)
          .as("sketch_within_15pct"))
      .orderBy($"seed")
  }

  /** q291's certification frame BEFORE the band flag is applied: per
    * panel seed, the exact 3-hop reach, the HLL estimate, and the |V|
    * census — package-private so EnvelopeAuditSpec can measure the
    * ACTUAL max relative error and assert headroom (< 10 %) under the
    * 15 % contract band; a margin collapse (fixture regeneration, a new
    * gated SF, a ReachLgK change) is then attributed by a failing spec
    * BEFORE the oracle's hard `sketch_within_15pct = TRUE` trips with a
    * confusing value-hash diff.
    *
    * Round-15 hop-loop rework (the q288 layer-chaining lesson applied,
    * r14 verdict item 1): the old loop pinned FOUR |V|-row tables (hop-0
    * sketches + one per hop) because each hop referenced sk_{k−1} twice —
    * the edge gather AND a self-union. But on the symmetrized graph,
    * where every tabled node has degree ≥ 1, the self-union is
    * mathematically redundant for k ≥ 2:
    *   ball_k(v) = ⋃_{u∈N(v)} ball_{k−1}(u)
    * (⊇: dist(w,u) ≤ k−1 ⇒ dist(w,v) ≤ k; ⊆: w = v is within k−1 of any
    * neighbor since k ≥ 2, else the first node on a shortest v→w path is
    * a neighbor within k−1 of w). And hop 1 needs no hop-0 table at all:
    * ball_1(v) = {v} ∪ N(v) sketches straight off the pinned adjacency —
    * explode preserves the src placement and the groupBy key IS src, so
    * hop 1 costs ZERO shuffle and zero pin. Every sk_k then has exactly
    * ONE consumer (hop k+1's gather, or the final estimate), so the
    * whole loop is one lazy linear chain — no double-evaluation to pin
    * against. Pins per run: ONE, the (node, double) estimate table
    * (8 B/row, consumed twice: census + panel join). Per-hop cost is the
    * irreducible HyperBall shuffle — |E| exploded sketch rows into the
    * groupBy(node) fold — and the gather join stays exchange-free
    * (sk_{k−1}'s agg output is hash-placed on node; edges are pinned on
    * src). vs r14: −3 sketch pins (write+read each), −3 self-union
    * joins, −1 hop-0 build. */
  private[graft] def reachSketchPanel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeAdjacency(s, dir)
    // ball_1 = self + neighbors, in the adjacency's own partitions
    var sk = edges
      .select($"src".as("node"),
        explode(concat($"dsts", array($"src"))).as("m"))
      .groupBy($"node")
      .agg(hll_sketch_agg($"m", ReachLgK).as("sk"))
    (2 to 3).foreach { _ =>
      // |V|-row exchange-free gather join; the |E|-row sketch stream
      // only exists AFTER the explode, then folds by destination
      sk = sk.join(edges, sk("node") === edges("src"))
        .select($"sk", explode($"dsts").as("node"))
        .groupBy($"node")
        .agg(hll_union_agg($"sk").as("sk"))
    }
    // The only pin: downstream consumes the ESTIMATE twice (the |V|
    // census and the panel join), at 8 B/row instead of the ~0.5 KB
    // sketch — ~60× fewer pinned bytes than any sketch-carrying pin.
    // checkpointAsIs: the hop-3 groupBy(node) already placed the rows.
    val est = graft.operators.Pinned.checkpointAsIs(
      sk.select($"node", hll_sketch_estimate($"sk").as("est")), "node")
    val nNodes = est.agg(count(lit(1)).as("n_nodes_sketched"))
    val seeds = Tables.supplier(s, dir)
      .orderBy($"s_suppkey".asc).limit(ReachPanelK)
      .select(($"s_suppkey" * 2 + 1).as("seed"))
    val exact = bfsHopCounts(seeds, edges, ReachPanelK)
      .select($"seed",
        ($"n_hop1" + $"n_hop2" + $"n_hop3").as("n_reachable_3hop"))
    // LEFT join: a panel supplier with zero trades has no edges, so the
    // edge-derived sketch table has no row for it — an inner join would
    // silently drop the seed while the oracle still emits it with reach
    // 0 and flag TRUE. For such a seed the sketch is vacuously within
    // band (there is nothing to estimate; `est` stays NULL), so the
    // census's flag coalesces to `reach == 0` — TRUE exactly when the
    // absence is legitimate.
    exact.join(est, exact("seed") === est("node"), "left")
      .crossJoin(broadcast(nNodes))
      .select(seedStr($"seed").as("seed_str"), $"n_reachable_3hop",
        ($"n_reachable_3hop" + 1).cast("double").as("exact_p1"),
        $"est", $"n_nodes_sketched")
  }

  /** The q294/q380 seed label domain: nations 0 until LpLabelK. It
    * builds the seed filter and sizes the packed per-node vote counters. */
  val LpLabelK = 5

  /** The most trade-adjacency entries (neighbours listed in `dsts`; a row
    * with none counts one) label propagation gathers to run its rounds on
    * the driver. The bound is a driver-heap budget: an entry is one long
    * shipped by its task (8 B, held twice while the result deserializes),
    * 8 B in the flattened array, 8 B in the sorted id copy and a 4 B
    * neighbour index, ~40 B at the peak. A node adds ~200 B (id, label,
    * vote counters, its output row) but holds tens to hundreds of entries
    * on the trade graph (see [[tradeAdjacency]]). So 1,000,000 entries
    * hold under ~45 MB of driver heap, the budget of
    * [[graft.operators.Fixpoint.LocalRows]]. */
  val LpLocalEntries: Int = 1000000

  /** How the 3 clamped rounds finished: on the driver, with the arrays
    * the census reads, or as distributed layers. */
  private[graft] sealed trait LpLayers

  /** `nodes`: every adjacency `src`; `labeled`/`labels`: the labeled
    * nodes, ascending, and their labels. */
  private[graft] final case class LpLocal(nodes: Array[Long], labeled: Array[Long],
      labels: Array[Long]) extends LpLayers {
    /** `(node, label)`, as the distributed layers' union. */
    def frame(s: SparkSession): DataFrame =
      s.createDataFrame(labeled.indices.map(i => Row(labeled(i), labels(i))).asJava,
        StructType(Seq(StructField("node", LongType), StructField("label", LongType))))

    /** q294's `(kind, label, n_nodes)` census, ordered by kind and label:
      * labeled nodes per (kind, label), unlabeled nodes per kind as −1. */
    def census(s: SparkSession): DataFrame = {
      def kind(v: Long): String = if (v % 2 == 0) "c" else "s"
      val lab = labeled.indices.groupMapReduce(i => (kind(labeled(i)), labels(i)))(_ => 1L)(_ + _)
      val nLab = lab.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
      val unl = nodes.groupMapReduce(kind)(_ => 1L)(_ + _).toSeq.collect {
        case (k, n) if n - nLab.getOrElse(k, 0L) > 0L => ((k, -1L), n - nLab.getOrElse(k, 0L))
      }
      val rows = (lab.toSeq ++ unl).sortBy(_._1).map { case ((k, l), n) => Row(k, l, n) }
      s.createDataFrame(rows.asJava, StructType(Seq(StructField("kind", StringType, false),
        StructField("label", LongType), StructField("n_nodes", LongType, false))))
    }
  }

  private[graft] final case class LpDistributed(labeled: DataFrame) extends LpLayers

  /** q294's layered propagation, factored for reuse: the per-node
    * labeled set (node, label) after the 3 clamped rounds — the census
    * consumer is q294, the modularity scorer q380. Two paths reach it:
    *
    *  - local: when the adjacency holds at most [[LpLocalEntries]] entries
    *    and no null `src` or neighbour, one job gathers it
    *    ([[graft.operators.Fixpoint.gather]]), the seed panel is
    *    collected, and the rounds run on the driver; `(node, label)` comes
    *    back as a local frame.
    *  - distributed: otherwise the rounds run as Spark jobs, below.
    *
    * Each call records a [[graft.operators.Fixpoint.Run]] ("lp"). */
  private[graft] def lpLayersUnion(s: SparkSession, dir: String,
      edges: DataFrame): DataFrame = lpLayersUnion(s, dir, edges, LpLocalEntries)

  /** [[lpLayersUnion]] with the local bound as a parameter: 0 always runs
    * the distributed rounds, `Int.MaxValue` runs them on the driver
    * whenever no key is null. Only bigint node ids (the trade graph's)
    * take the local path. */
  private[graft] def lpLayersUnion(s: SparkSession, dir: String,
      edges: DataFrame, bound: Int): DataFrame = lpLayers(s, dir, edges, bound) match {
    case l: LpLocal => l.frame(s)
    case LpDistributed(labeled) => labeled
  }

  private def lpLayers(s: SparkSession, dir: String, edges: DataFrame,
      bound: Int): LpLayers = {
    import s.implicits._
    import graft.operators.Fixpoint
    val panel = Tables.supplier(s, dir).filter($"s_nationkey" < LpLabelK)
      .select(($"s_suppkey" * 2 + 1).as("node"), $"s_nationkey".cast("long").as("label"))
    val (entries, gathered) = edges.schema("dsts").dataType match {
      case ArrayType(LongType, _) if bound > 0 && edges.schema("src").dataType == LongType =>
        Fixpoint.gather(edges.select($"src", $"dsts"), bound) { (r, out) =>
          if (r.isNullAt(0) || r.isNullAt(1)) -1
          else {
            val a = r.getArray(1)
            val n = a.numElements()
            out += r.getLong(0)
            out += n
            var i = 0
            while (i < n && !a.isNullAt(i)) { out += a.getLong(i); i += 1 }
            if (i < n) -1 else math.max(n, 1)
          }
        }
      case _ => (-1L, None)
    }
    val local = gathered.flatMap { adj =>
      lpLocal(adj, panel.filter($"node".isNotNull).as[(Long, Long)].collect())
    }
    Fixpoint.record(Fixpoint.Run("lp", if (local.isDefined) "local" else "distributed",
      entries, 3))
    local.getOrElse(LpDistributed(lpDistributed(s, edges, panel)))
  }

  /** The 3 clamped rounds over a gathered adjacency (`src`, `n`, then `n`
    * neighbours, per row) and the seed panel, with the distributed rounds'
    * exact rules. None when a `src` repeats or a seed node is seeded twice:
    * the distributed joins multiply such rows, so they run there. */
  private def lpLocal(adj: Array[Long], seeds: Array[(Long, Long)]): Option[LpLocal] = {
    val rowAt = Array.newBuilder[Int]
    var p = 0
    while (p < adj.length) { rowAt += p; p += 2 + adj(p + 1).toInt }
    val rows = rowAt.result()
    val nodes = rows.map(adj(_))
    val sortedNodes = nodes.sorted
    val ids = {
      val all = adj.clone()
      rows.foreach(r => all(r + 1) = adj(r)) // drop the counts, keep every id
      java.util.Arrays.sort(all)
      val b = Array.newBuilder[Long]
      for (i <- all.indices if i == 0 || all(i) != all(i - 1)) b += all(i)
      b.result()
    }
    def at(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    val graphSeeds = seeds.filter(sd => java.util.Arrays.binarySearch(sortedNodes, sd._1) >= 0)
    val repeats = (1 until sortedNodes.length).exists(i => sortedNodes(i) == sortedNodes(i - 1)) ||
      graphSeeds.map(_._1).distinct.length < graphSeeds.length
    if (repeats) None
    else {
      // each id's neighbour indices; ids that are only neighbours have none
      val nbrs = Array.fill(ids.length)(Array.emptyIntArray)
      rows.foreach(r => nbrs(at(adj(r))) = Array.tabulate(adj(r + 1).toInt)(j => at(adj(r + 2 + j))))
      val has = new Array[Boolean](ids.length)
      val label = new Array[Long](ids.length)
      var frontier = graphSeeds.map { case (v, l) =>
        val i = at(v); has(i) = true; label(i) = l; i }
      val votes = new Array[Int](ids.length * LpLabelK)
      val voted = new Array[Boolean](ids.length)
      (1 to 3).foreach { _ =>
        // only the previous round's layer votes; a vote outside the label
        // domain counts for no label, yet its node is still picked
        val touched = Array.newBuilder[Int]
        for (f <- frontier; v <- nbrs(f)) {
          if (!voted(v)) { voted(v) = true; touched += v }
          if (label(f) >= 0 && label(f) < LpLabelK) votes(v * LpLabelK + label(f).toInt) += 1
        }
        frontier = touched.result().filter { v =>
          voted(v) = false
          val fresh = !has(v)
          if (fresh) {
            // highest count, then smallest label
            var best = 0
            for (k <- 1 until LpLabelK) if (votes(v * LpLabelK + k) > votes(v * LpLabelK + best)) best = k
            has(v) = true
            label(v) = best
          }
          java.util.Arrays.fill(votes, v * LpLabelK, (v + 1) * LpLabelK, 0)
          fresh
        }
      }
      val labeled = ids.indices.filter(has).toArray
      Some(LpLocal(nodes, labeled.map(ids), labeled.map(label)))
    }
  }

  /** The distributed rounds. DELTA voting: only
    * the PREVIOUS round's newly-labeled nodes cast votes. Equivalent to
    * voting from the full labeled set because round r labels EVERY
    * unlabeled node with ≥1 labeled neighbor, so a node still unlabeled
    * at round r+1 has no labeled neighbor from rounds < r — votes from
    * older nodes could only land on already-labeled vnodes, which the
    * anti-join discards anyway. This bounds each round's expansion join
    * to frontier·deg instead of |labeled|·deg. checkpointAsIs
    * throughout (round-15): the seed join inherits the adjacency's
    * hash(node) placement, and each round's picks end in their own
    * groupBy(node) exchange carried through the anti-chain. */
  private def lpDistributed(s: SparkSession, edges: DataFrame,
      panel: DataFrame): DataFrame = {
    import s.implicits._
    val nodes = edges.select($"src".as("node"))
    val seeds = nodes.join(panel, Seq("node"))
    var layers = List(graft.operators.Pinned.checkpointAsIs(seeds, "node"))
    (1 to 3).foreach { round =>
      val frontier = layers.head
      // Round-20 vote packing (guide §2.3/§2.4 — the q290 value-array
      // move applied to votes): the (vnode, label) count + second
      // per-node struct-max fold paid TWO keyed aggregates (and two
      // exchanges) per round; with the bounded label domain, ONE
      // vnode-keyed agg folds all 5 label counters map-side and the
      // majority pick becomes a per-row array_max over
      // struct(count, −label) — the IDENTICAL lexicographic tie rule
      // (counts per (vnode, label) are unchanged; a zero counter can
      // never win because every voted node holds ≥1 vote).
      val votes = frontier.join(edges, frontier("node") === edges("src"))
        .select(explode($"dsts").as("vnode"), frontier("label"))
        .groupBy($"vnode")
        .agg(array((0 until LpLabelK).map(i =>
          struct(sum(when($"label" === i, 1L).otherwise(0L)).as("c"),
            lit(-i.toLong).as("nl"))): _*).as("cs"))
      val picks = votes
        .select($"vnode".as("node"), (-array_max($"cs").getField("nl")).as("label"))
      val newlyLazy = layers.foldLeft(picks) { (acc, layer) =>
        acc.join(layer, Seq("node"), "left_anti")
      }
      layers ::= (if (round < 3)
        graft.operators.Pinned.checkpointAsIs(newlyLazy, "node")
      else newlyLazy)
    }
    layers.reduce(_ unionAll _)
  }

  /** Semi-supervised label propagation — the CLASSIFICATION member of
    * the graph family (components assign CONNECTIVITY q76, PageRank
    * VALUES q197, BFS REACH q288; this assigns CLASSES): suppliers in
    * nations 0–4 seed their nation id, and labels spread synchronously
    * over the undirected trade graph for 3 unrolled rounds — each
    * unlabeled node adopts the MAJORITY label among its labeled
    * neighbors (ties → smallest label; labeled nodes never change, the
    * "clamped seeds" variant, so the result is deterministic and
    * round-monotone). On the bipartite graph the rounds alternate
    * frontiers: customers of seed suppliers, then non-seed suppliers,
    * then second-ring customers — genuinely multi-round. Output is the
    * (node-kind, label) census, unlabeled reported as label −1.
    * Scale: state is ONE label per node — |V| rows at ANY seed count
    * (seeding a fraction of a dimension is safe here precisely where
    * q288's per-seed pair state was not; nothing is |seeds|-
    * multiplied). Per round: one keyed join against the pinned
    * src-partitioned edges (exchange-free), a (node, label) count, a
    * struct-max majority pick (groupBy, not a window), then a CHAINED
    * anti-join over the prior LAYERS (the round-14 q288/q290 rework
    * pattern: the labeled set is the disjoint union of per-round layers,
    * each already pinned hash-on-node, so the anti chain is exchange-free
    * in the picks agg's own tasks and the old re-pinned `labeled` union —
    * a full |labeled| checkpoint per round — is gone). The unlabeled
    * census is |nodes per kind| MINUS |labeled per kind| (three tiny
    * aggs), not an anti-join over the union. Pins per run: seeds + rounds
    * 1–2 (round 3's layer has a single consumer). The census output is
    * ≤ kinds·labels rows.
    *
    * Two paths, as [[lpLayersUnion]]'s: with the adjacency within
    * [[LpLocalEntries]] entries the rounds and this census run on the
    * driver from the gathered arrays and come back as a local frame;
    * otherwise the census aggregates the distributed layers. */
  def labelPropagation(s: SparkSession, dir: String): DataFrame =
    labelPropagation(s, dir, LpLocalEntries)

  /** [[labelPropagation]] with the local bound as a parameter, as
    * [[lpLayersUnion]]'s. */
  private[graft] def labelPropagation(s: SparkSession, dir: String,
      bound: Int): DataFrame = {
    import s.implicits._
    val edges = tradeAdjacency(s, dir)
    lpLayers(s, dir, edges, bound) match {
      case l: LpLocal => l.census(s)
      case LpDistributed(labeled) =>
        // symmetric adjacency: src covers every node, already distinct
        val nodes = edges.select($"src".as("node"))
        // lab is ≤ kinds·labels rows but is consumed twice (output + the
        // kind totals) — checkpoint the TINY census, not the big union, so
        // round 3's lazy layer is evaluated exactly once
        def kind(c: Column): Column =
          when(c % 2 === 0, lit("c")).otherwise(lit("s"))
        val lab = labeled
          .groupBy(kind($"node").as("kind"), $"label")
          .agg(count(lit(1)).as("n_nodes"))
          .localCheckpoint(eager = false)
        val labK = lab.groupBy($"kind").agg(sum($"n_nodes").as("n_lab"))
        val unl = nodes
          .groupBy(kind($"node").as("kind"))
          .agg(count(lit(1)).as("n_all"))
          .join(broadcast(labK), Seq("kind"), "left")
          .select($"kind", lit(-1L).as("label"),
            ($"n_all" - coalesce($"n_lab", lit(0L))).as("n_nodes"))
          .filter($"n_nodes" > 0L)
        lab.unionByName(unl).orderBy($"kind", $"label")
    }
  }

  /** Modularity census (Newman & Girvan 2004, public definition) over
    * the q294 label-propagation communities — the subgraph-QUALITY
    * measure beside q319's conductance (conductance scores a given
    * 2-way cut; modularity scores a whole partition against the
    * configuration-model null): Q = Σ_c [ m_c/m − (tot_c/2m)² ] with
    * m_c = intra-community edges and tot_c = degree sum. Everything is
    * EXACT INTEGERS with denominators cleared (the q369 stance):
    * Q·4m² = Σ_c [ 2m·in2_c − tot_c² ] where in2_c counts directed
    * endpoint pairs inside c (= 2·m_c) — folded in decimal(38,0)
    * (2m·in2 ≤ 4m², exact to m ≈ 10¹⁸ edges), surfaced as a digit
    * string, Q itself as the one shared IEEE divide. Unlabeled nodes
    * are SINGLETON communities (the standard convention for
    * unassigned nodes — each contributes −deg², never a fused
    * pseudo-community); labeled communities emit one row each with
    * the global panel riding. Scale: per-node community assignment is
    * one |V| left join; in2 pays the one keyed |E| dst-side join (the
    * q301 assortativity shape — the src side is exchange-free on the
    * adjacency pin); everything after is community-census-sized. */
  def modularityCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val adj = tradeAdjacency(s, dir)
    val asg = lpLayersUnion(s, dir, adj)
    val comm = adj.select($"src".as("node"),
        size($"dsts").cast("long").as("deg"))
      .join(asg, Seq("node"), "left")
      .select($"node", $"deg",
        coalesce($"label", -$"node" - 2L).as("comm"))
      .localCheckpoint(eager = false) // read by tot + both endpoint joins
    val m2df = adj.agg(sum(size($"dsts")).cast("long").as("m2")) // = 2m
    val in2 = adj.select($"src", explode($"dsts").as("dst"))
      .join(comm.select($"node".as("src"), $"comm".as("comm_s")), Seq("src"))
      .join(comm.select($"node".as("dst"), $"comm".as("comm_d")), Seq("dst"))
      .filter($"comm_s" === $"comm_d")
      .groupBy($"comm_s".as("comm")).agg(count(lit(1)).as("in2"))
    val tot = comm.groupBy($"comm")
      .agg(sum($"deg").as("tot"), count(lit(1)).as("n_nodes"))
    val parts = tot.join(in2, Seq("comm"), "left")
      .crossJoin(broadcast(m2df))
      .select($"comm", $"n_nodes",
        coalesce($"in2", lit(0L)).as("in2"), $"tot",
        ($"m2".cast(d38) * coalesce($"in2", lit(0L)) -
          $"tot".cast(d38) * $"tot").as("qpart"))
      .localCheckpoint(eager = false) // read by the global fold + rows
    val glob = parts.agg(sum($"qpart").as("q_num"),
      sum(when($"comm" < 0L, 1L).otherwise(0L)).as("n_singletons"))
    parts.filter($"comm" >= 0L)
      .crossJoin(broadcast(glob))
      .crossJoin(broadcast(m2df))
      .select($"comm".as("label"), $"n_nodes", $"in2", $"tot",
        expr("m2 div 2").as("m_edges"), $"n_singletons",
        $"q_num".cast("string").as("q_num"),
        ($"q_num".cast("double") /
          ($"m2".cast(d38) * $"m2").cast("double")).as("modularity"))
      .orderBy($"label")
  }

  /** Degree assortativity — Newman's degree-correlation coefficient
    * (public network-science definition): the Pearson correlation of
    * endpoint degrees over the directed-symmetric edge list. Negative on
    * this bipartite trade graph (hubs bond to leaves), positive on
    * social-style graphs — the one-number "is this graph hub-and-spoke"
    * diagnostic q198 is for keys. Exact-moment construction (the q195
    * contract): the five sums accumulate in decimal(38,0) (degree
    * products pass 2⁶³ far below 100 TB-class SF — the q197/q203
    * promotion lesson), and the coefficient is ONE IEEE tree over
    * exactly-convertible integers, so it hash-compares despite being a
    * float. Scale (round-14 adjacency form): the SOURCE degree is
    * `size(dsts)` — attached map-side in the same projection that
    * explodes the edge, so the old deg groupBy, its pin, and the
    * src-side join are gone; only the dst-side degree lookup pays the
    * one keyed |E|-row shuffle; everything after is a 1-row fold. */
  def degreeAssortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val adj = tradeAdjacency(s, dir)
    val deg = adj.select($"src".as("dst"), size($"dsts").cast("long").as("dy"))
    val ed = adj
      .select($"src", size($"dsts").cast("long").as("dx"),
        explode($"dsts").as("dst"))
      .join(deg, "dst")
    val m = ed.agg(
      count(lit(1)).as("n"),
      sum($"dx".cast(d38)).as("sx"),
      sum($"dy".cast(d38)).as("sy"),
      sum($"dx".cast(d38) * $"dy").as("sxy"),
      sum($"dx".cast(d38) * $"dx").as("sxx"),
      sum($"dy".cast(d38) * $"dy").as("syy"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    val num = ($"n" * $"sxy" - $"sx" * $"sy").cast("double")
    val denx = ($"n" * $"sxx" - $"sx" * $"sx").cast("double")
    val deny = ($"n" * $"syy" - $"sy" * $"sy").cast("double")
    m.crossJoin(broadcast(nn))
      .select(
        $"n".as("n_dir_edges"),
        $"n_nodes",
        ratio($"sx", $"n").as("mean_deg"),
        when(denx > 0.0 && deny > 0.0, num / sqrt(denx * deny))
          .as("assortativity"))
  }

  /** Partition CONDUCTANCE census — the partition-QUALITY member of the
    * graph family (components label q76, PageRank values q197, labels
    * propagate q294, assortativity correlates q301; this EVALUATES a
    * partition): for each nation's node set S (its suppliers + its
    * customers), φ(S) = cut(S) / min(vol(S), vol(V∖S)) over the
    * undirected trade graph — the standard community-quality measure
    * (Shi–Malik / Kannan-Vempala-Vetta class; low φ = well-separated
    * community, high φ = the partition cuts through dense structure).
    * The whole computation collapses onto ONE bounded census: join the
    * distinct (customer, supplier) edge list to both dimension nations
    * and count per (cust_nation, supp_nation) — ≤|nations|² cells at ANY
    * corpus size — then every cut/volume/internal figure per nation is a
    * conditional sum over broadcast cells (an O(nations²) fold, no
    * second pass over edges). All counts are exact integers; φ is the
    * ONE final IEEE divide of exact integers (the q195 float contract).
    * Nations with zero volume report φ = 0 by guard. */
  def partitionConductance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e0 = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("ck"), $"l_suppkey".as("sk"))
      .distinct()
    val cells = e0
      .join(broadcast(Tables.customer(s, dir)
        .select($"c_custkey".as("ck"), $"c_nationkey".cast("long").as("cn"))), "ck")
      .join(broadcast(Tables.supplier(s, dir)
        .select($"s_suppkey".as("sk"), $"s_nationkey".cast("long").as("sn"))), "sk")
      .groupBy($"cn", $"sn").agg(count(lit(1)).as("c"))
    val nations = Tables.nation(s, dir)
      .select($"n_nationkey".cast("long").as("nk"), $"n_name")
    val tot = cells.agg(sum($"c").as("m")) // |E| undirected
    nations.join(broadcast(cells),
        $"cn" === $"nk" || $"sn" === $"nk", "left")
      .groupBy($"nk", $"n_name")
      .agg(
        coalesce(sum(when($"cn" === $"nk" && $"sn" === $"nk", $"c")), lit(0L))
          .as("n_internal_edges"),
        coalesce(sum(when(($"cn" === $"nk") =!= ($"sn" === $"nk"), $"c")), lit(0L))
          .as("n_cut_edges"),
        (coalesce(sum(when($"cn" === $"nk", $"c")), lit(0L)) +
          coalesce(sum(when($"sn" === $"nk", $"c")), lit(0L)))
          .as("volume"))
      .crossJoin(broadcast(tot))
      .select($"nk".as("nation"), $"n_name",
        $"n_internal_edges", $"n_cut_edges", $"volume",
        when(least($"volume", lit(2L) * $"m" - $"volume") > 0L,
          $"n_cut_edges".cast("double") /
            least($"volume", lit(2L) * $"m" - $"volume").cast("double"))
          .otherwise(lit(0.0)).as("conductance"))
      .orderBy($"nation")
  }

  /** Unrolled peel rounds for [[kcorePeelCensus]]. The fixture trade
    * graph reaches its k-core fixpoint in ONE round at every SF (random
    * bipartite graphs have no deep degeneracy cascade), so 4 unrolled
    * rounds leave the converged flag visibly TRUE with idempotent slack;
    * a real degeneracy-ordered graph (path/tree-like) peels ~diameter/2
    * rounds and a production run driver-gates on the converged flag
    * (the q329 ≤1-row collect gate). The planted-path spec exercises a
    * genuine multi-round cascade this fixture cannot. */
  val KCoreRounds = 4

  /** k-core peel census — iterative degeneracy peeling (Seidman 1983;
    * the distributed formulation is Montresor et al.'s degree-pruning
    * loop): repeatedly delete nodes of induced degree < k until
    * fixpoint, the standard "dense cohesive subgraph" extraction next
    * to q202's triangle view of density. k is DATA-DRIVEN — the lower
    * median of the initial degree distribution, selected exactly on the
    * degree VALUE census (the q309 rank-selection, over a census
    * bounded by the degree domain, not |V|) — because a fixed k is not
    * scale-robust on a graph whose density grows with SF (the q202
    * lift-threshold lesson: self-normalize, don't hardcode).
    *
    * Output: one census row per peel state r = 0..[[KCoreRounds]] —
    * (round, k, n_nodes, n_edges, converged) — where converged compares
    * |S_r| to |S_{r-1}|: survivor sets shrink monotonically, so equal
    * COUNTS prove equal SETS (no set-compare needed) and rounds after
    * the fixpoint are idempotent by construction.
    *
    * Scale shape: the symmetric edge list is pinned hash(src) ONCE
    * (partitionedCheckpoint); each round is one exchange-free
    * groupBy(src) degree count + a broadcast-k filter + two semi-joins
    * of the edge list against the |V|-row survivor set — O(|E|) per
    * round, the standard distributed peel. Survivor/edge states pin
    * lazily so the 5 census reads don't re-run the chain. Every count
    * is an exact long; there are no floats anywhere. */
  def kcorePeelCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The pinned src-keyed ADJACENCY (tradeAdjacency: symmetrize raw
    // pairs, dedup+place in its ONE groupBy exchange). Per-round state
    // is the |V|-row DEGREE TABLE, pinned: it yields the next survivor
    // set (filter), the round's node count (every graph node has
    // deg ≥ 1 initially, so S₀ = d₀'s keys — no distinct), AND the
    // round's edge count (Σdeg = 2|E| — no separate edge-count pass).
    // A peel round re-derives induced degrees from the PINNED adjacency
    // (S_r ⊆ S_{r-1} makes induced(G, S_r) ≡ induced(E_{r-1}, S_r)):
    // one BROADCAST semi against the dim-sized survivor set BEFORE the
    // explode (|V|-row probe), one after on dst (map-side over the
    // exploded stream), then a groupBy(src) landing on the adjacency's
    // own hash placement — ONE map-side pass over the graph and zero
    // |E|-row exchanges per round (the pair-list form with a
    // distinct+repartition build measured 6.3 s; this form ~2.5 s at
    // sf0.1/32c, the q197 build economics). Envelope: the survivor
    // broadcast is |V|-bounded — beyond ~10⁷ nodes drop the hint and
    // let the semis plan as shuffle joins.
    val adj = tradeAdjacency(s, dir)
    def degrees(surv: DataFrame): DataFrame =
      adj.join(broadcast(surv.select($"node".as("src"))), Seq("src"), "semi")
        .select($"src", explode($"dsts").as("dst"))
        .join(broadcast(surv.select($"node".as("dst"))), Seq("dst"), "semi")
        .groupBy($"src").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false)
    val d0 = adj.select($"src", size($"dsts").cast("long").as("c"))
      .localCheckpoint(eager = false) // map-side; read by k + S₀ + census
    // k = lower median degree: cum-count selection over the degree-value
    // census (rows bounded by the degree DOMAIN — the q144 argument)
    val wCum = Window.orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val kPin = d0.groupBy($"c").agg(count(lit(1)).as("n"))
      .withColumn("cum", sum($"n").over(wCum))
      .withColumn("tot", sum($"n").over(wAll))
      .agg(min(when($"cum" * 2 >= $"tot", $"c")).as("k"))
      .localCheckpoint(eager = false) // 1-row, read every round
    // degs(r): induced degrees of round r's survivors; survivors(r) for
    // r ≥ 1 = prior degrees filtered by k. n_nodes(r) still counts the
    // SURVIVOR set (an S_r node can drop to induced degree 0 and leave
    // the degree table while remaining a round-r node).
    var prevDeg = d0
    val states = Seq.newBuilder[(Int, DataFrame, DataFrame)]
    states += ((0, d0.select($"src".as("node")), d0))
    (1 to KCoreRounds).foreach { r =>
      val next = prevDeg
        .crossJoin(broadcast(kPin)).filter($"c" >= $"k")
        .select($"src".as("node"))
        .localCheckpoint(eager = false) // read by 2 semi-joins + census
      val dr = degrees(next)
      states += ((r, next, dr))
      prevDeg = dr
    }
    val rows = states.result().map { case (r, sv, dg) =>
      sv.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(dg.agg(
          coalesce(expr("sum(c) div 2"), lit(0L)).as("n_edges")))
        .select(lit(r.toLong).as("round"), $"n_nodes", $"n_edges")
    }.reduce(_ unionAll _)
    val wr = Window.orderBy($"round") // 5 rows — bounded by KCoreRounds
    rows.crossJoin(broadcast(kPin))
      .withColumn("converged",
        coalesce($"n_nodes" === lag($"n_nodes", 1).over(wr), lit(false)))
      .select($"round", $"k", $"n_nodes", $"n_edges", $"converged")
      .orderBy($"round")
  }

  /** HITS hubs & authorities (Kleinberg 1999) on the DIRECTED bipartite
    * customer→supplier trade graph — the natural HITS instance: hubs =
    * customers whose purchases concentrate on authoritative suppliers,
    * authorities = suppliers endorsed by strong hubs. Two full mutual-
    * reinforcement iterations, a(s) = Σ_{c→s} h(c) then h(c) = Σ_{c→s}
    * a(s), starting from h₀ ≡ [[Scale]] (so the first authority pass is
    * exactly indegree·Scale, folded in without a join).
    *
    * Portability: the textbook L2 normalization is a √ of an order-
    * dependent float sum — unusable under the hash-compare contract.
    * MAX-normalization (scores rescaled so max = [[Scale]]) is the
    * standard integer-friendly variant: every step is an exact integer
    * sum (decimal(38,0) — Σ ≤ |E|·Scale passes 2⁶³ at |E| ≈ 10⁷, the
    * q197 promotion) followed by one integer (score·Scale) div max —
    * truncating division, identical in Spark `div` and DuckDB `//` on
    * non-negative operands — so both engines produce bit-identical
    * longs at any parallelism. Envelope: score·Scale ≤ |E|·10²⁴ stays
    * inside decimal(38,0) to |E| ≈ 10¹⁴ directed edges.
    *
    * Scale shape: the two directed adjacencies pin on their OWN groupBy
    * keys (checkpointAsIs — tradeAdjacency's degree precondition and
    * collect_set caveats apply verbatim); each half-iteration joins the
    * |V|-row score table against its adjacency exchange-free (scores
    * arrive hash-placed by the previous groupBy), explodes AFTER the
    * join, and pays exactly one |E|-row exchange in its groupBy — the
    * q197 iteration contract. Output: top-10 authorities and top-10
    * hubs (string ids rebuilt only at this bounded projection), totally
    * ordered (role, score desc, node). */
  def hitsScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = DecimalType(38, 0)
    val raw = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("ck"), $"l_suppkey".as("sk"))
      .distinct()
      .localCheckpoint(eager = false) // read by both adjacency builds
    val ckAdj = graft.operators.Pinned.checkpointAsIs(
      raw.groupBy($"ck").agg(collect_set($"sk").as("sks")), "ck")
    val skAdj = graft.operators.Pinned.checkpointAsIs(
      raw.groupBy($"sk").agg(collect_set($"ck").as("cks")), "sk")
    // (score·Scale) div max, exact; max is a 1-row broadcast scalar.
    // The raw-score input is pinned first: both the max and the main
    // pass read it, and unpinned the whole upstream iteration chain
    // would re-execute once per read (measured 10.2 s → 2-ish at
    // sf0.1/32c for the full query). Over the empty graph max is NULL
    // and the div propagates NULL (never a zero divisor), so the
    // degenerate case yields no rows rather than an ANSI error.
    def maxNorm(df: DataFrame, key: String, v: String): DataFrame = {
      val pinned = df.localCheckpoint(eager = false) // |V|-row score table
      val m = pinned.agg(max(col(v)).as("m"))
      pinned.crossJoin(broadcast(m))
        .select(col(key), expr(s"CAST(($v * $Scale) div m AS BIGINT)").as(v))
    }
    // Each half-iteration BROADCASTS the |V|-row score table into the
    // exploded adjacency (dim-sized build — the same envelope as the
    // q337 survivor broadcast), so the explode stays map-side over the
    // pinned adjacency and the groupBy that follows lands on the
    // adjacency's own hash placement: zero |E|-row exchanges per step.
    // iteration 1: a₁(s) = indeg(s)·Scale (h₀ ≡ Scale folded in)
    val a1 = maxNorm(
      skAdj.select($"sk", (size($"cks").cast(d38) * lit(Scale)).as("a")),
      "sk", "a")
    val h1 = maxNorm(
      ckAdj.select($"ck", explode($"sks").as("sk"))
        .join(broadcast(a1), "sk")
        .groupBy($"ck").agg(sum($"a".cast(d38)).as("h")),
      "ck", "h")
    // iteration 2
    val a2 = maxNorm(
      skAdj.select($"sk", explode($"cks").as("ck"))
        .join(broadcast(h1), "ck")
        .groupBy($"sk").agg(sum($"h".cast(d38)).as("a")),
      "sk", "a")
    val h2 = maxNorm(
      ckAdj.select($"ck", explode($"sks").as("sk"))
        .join(broadcast(a2), "sk")
        .groupBy($"ck").agg(sum($"a".cast(d38)).as("h")),
      "ck", "h")
    val auth = a2
      .select(lit("authority").as("role"),
        concat(lit("s"), $"sk".cast("string")).as("node"),
        $"a".as("score"))
      .orderBy($"score".desc, $"node".asc).limit(10)
    val hubs = h2
      .select(lit("hub").as("role"),
        concat(lit("c"), $"ck".cast("string")).as("node"),
        $"h".as("score"))
      .orderBy($"score".desc, $"node".asc).limit(10)
    auth.unionAll(hubs).orderBy($"role", $"score".desc, $"node")
  }

  /** Truncated Katz centrality (Katz 1953, public definition) over the
    * trade graph — the WALK-COUNT member beside q197's eigenvector-like
    * PageRank and q401's path-length harmonic: x = Σ_k β^k·(Aᵏ1), here
    * truncated at 3 hops with the DYADIC β = 1/4 so the whole score is
    * exact — katz64 = 16·w₁ + 4·w₂ + w₃ with w_k the k-walk counts
    * (w₁ = degree; w₂ = Σ_nb deg(nb); w₃ = Σ_nb w₂(nb) — walk
    * MULTISETS, backtracking included, the Katz definition), and
    * katz = katz64/64 one power-of-two-exact divide. Each level is one
    * keyed |E| join against the pinned adjacency (the q301/q380
    * shape); the top-10 is a total order (katz64 desc, numeric node id
    * asc). Truncation makes convergence (β < 1/λ_max) a non-issue and
    * keeps every count integer. Envelope: degrees are SF-CONSTANT on
    * the trade graph (see [[tradeAdjacency]]), so w₃ ≤ deg_c·deg_s·deg_c
    * ≈ 10⁷ stays in long at every SF. Star plant (spec): center
    * katz64 = 16·3 + 4·3 + 9 = 69, leaves 31, exactly. Scale: adjacency
    * build + two |E|-keyed joins → |V| rows → top-10. */
  def katzCentrality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val adj = tradeAdjacency(s, dir)
    val deg = adj.select($"src", size($"dsts").cast("long").as("w1"))
    val edges = adj.select($"src", explode($"dsts").as("dst"))
    val w2 = edges
      .join(deg.select($"src".as("dst"), $"w1".as("dw")), Seq("dst"))
      .groupBy($"src").agg(sum($"dw").as("w2"))
      .localCheckpoint(eager = false) // read by the w3 join AND the panel
    val w3 = edges
      .join(w2.select($"src".as("dst"), $"w2".as("dw2")), Seq("dst"))
      .groupBy($"src").agg(sum($"dw2").as("w3"))
    val katz64 = lit(16L) * $"w1" + lit(4L) * $"w2" + $"w3"
    deg.join(w2, Seq("src")).join(w3, Seq("src"))
      .withColumn("katz64", katz64)
      .orderBy($"katz64".desc, $"src".asc).limit(10)
      .select(nodeStr($"src").as("node"), $"src".as("node_id"),
        $"w1".as("degree"), $"w2".as("n_walks_2"), $"w3".as("n_walks_3"),
        $"katz64", ($"katz64".cast("double") / lit(64.0)).as("katz"))
      .orderBy($"katz64".desc, $"node_id".asc)
  }

  /** One unrolled propagation round for the q294 oracle: majority vote
    * by labeled neighbors (row_number ties to smallest label), clamped
    * union with the previous labeled set. */
  private def lpRoundSql(k: Int): String = {
    val prev = s"l${k - 1}"
    s"""v$k AS (
       |  SELECT e.dst AS node, l.label, count(*) AS c
       |  FROM $prev l JOIN und e ON l.node = e.src GROUP BY 1, 2
       |), p$k AS (
       |  SELECT node, label FROM (
       |    SELECT node, label, row_number() OVER (PARTITION BY node
       |      ORDER BY c DESC, label ASC) AS rn FROM v$k) WHERE rn = 1
       |), l$k AS MATERIALIZED (
       |  SELECT node, label FROM $prev
       |  UNION ALL
       |  SELECT node, label FROM p$k
       |  WHERE node NOT IN (SELECT node FROM $prev)
       |)""".stripMargin
  }

  /** One unrolled peel round for the q337 oracle: induced-degree count,
    * threshold filter against the data-driven k, induced edge list. */
  private def kcoreRoundSql(r: Int): String = {
    val pe = if (r == 1) "und" else s"e${r - 1}"
    s"""d$r AS (SELECT src, count(*) AS c FROM $pe GROUP BY 1),
       |s$r AS MATERIALIZED (SELECT src AS node FROM d$r, kv WHERE c >= k),
       |e$r AS MATERIALIZED (
       |  SELECT src, dst FROM $pe
       |  WHERE src IN (SELECT node FROM s$r)
       |    AND dst IN (SELECT node FROM s$r))""".stripMargin
  }

  val declared: Seq[Query] = Seq(
    // distinct symmetric edges → degree → two neighbor-sum joins →
    // the exact 16/4/1 dyadic combination, total-ordered top-10
    Query("q429_katz_centrality", katzCentrality,
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM e0
         |  UNION ALL SELECT dst, src FROM e0
         |), deg AS MATERIALIZED (
         |  SELECT src, CAST(count(*) AS BIGINT) AS w1 FROM und GROUP BY 1
         |), w2 AS MATERIALIZED (
         |  SELECT u.src, CAST(sum(d.w1) AS BIGINT) AS w2
         |  FROM und u JOIN deg d ON d.src = u.dst GROUP BY 1
         |), w3 AS (
         |  SELECT u.src, CAST(sum(x.w2) AS BIGINT) AS w3
         |  FROM und u JOIN w2 x ON x.src = u.dst GROUP BY 1
         |)
         |SELECT (CASE WHEN d.src % 2 = 0 THEN 'c' ELSE 's' END)
         |         || CAST(d.src // 2 AS VARCHAR) AS node,
         |       d.src AS node_id, d.w1 AS degree,
         |       w2.w2 AS n_walks_2, w3.w3 AS n_walks_3,
         |       16 * d.w1 + 4 * w2.w2 + w3.w3 AS katz64,
         |       CAST(16 * d.w1 + 4 * w2.w2 + w3.w3 AS DOUBLE) / 64.0 AS katz
         |FROM deg d JOIN w2 ON w2.src = d.src JOIN w3 ON w3.src = d.src
         |ORDER BY katz64 DESC, node_id ASC LIMIT 10""".stripMargin),
    Query("q337_kcore_peel_census", kcorePeelCensus,
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT 2 * o_custkey AS src, 2 * l_suppkey + 1 AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM e0
         |  UNION ALL SELECT dst, src FROM e0
         |), dc AS (
         |  SELECT c, count(*) AS n
         |  FROM (SELECT count(*) AS c FROM und GROUP BY src) GROUP BY 1
         |), kv AS MATERIALIZED (
         |  SELECT CAST(min(CASE WHEN 2 * cum >= tot THEN c END) AS BIGINT) AS k
         |  FROM (SELECT c, sum(n) OVER (ORDER BY c) AS cum,
         |               sum(n) OVER () AS tot FROM dc)
         |), s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM und),
         |${kcoreRoundSql(1)}, ${kcoreRoundSql(2)}, ${kcoreRoundSql(3)},
         |${kcoreRoundSql(4)}, cen AS (
         |  SELECT 0 AS round, (SELECT count(*) FROM s0) AS n_nodes,
         |         (SELECT count(*) // 2 FROM und) AS n_edges
         |  UNION ALL SELECT 1, (SELECT count(*) FROM s1),
         |         (SELECT count(*) // 2 FROM e1)
         |  UNION ALL SELECT 2, (SELECT count(*) FROM s2),
         |         (SELECT count(*) // 2 FROM e2)
         |  UNION ALL SELECT 3, (SELECT count(*) FROM s3),
         |         (SELECT count(*) // 2 FROM e3)
         |  UNION ALL SELECT 4, (SELECT count(*) FROM s4),
         |         (SELECT count(*) // 2 FROM e4)
         |)
         |SELECT CAST(round AS BIGINT) AS round, (SELECT k FROM kv) AS k,
         |       CAST(n_nodes AS BIGINT) AS n_nodes,
         |       CAST(n_edges AS BIGINT) AS n_edges,
         |       coalesce(n_nodes = lag(n_nodes) OVER (ORDER BY round), FALSE)
         |         AS converged
         |FROM cen ORDER BY round""".stripMargin),
    Query("q338_hits_scores", hitsScores,
      // HUGEINT sums mirror the Spark side's decimal(38,0); each
      // normalization is the same (score·Scale) // max truncating
      // division over non-negative integers, so scores are bit-identical.
      s"""WITH p AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), a1r AS (
         |  SELECT sk, CAST(count(*) AS HUGEINT) * $Scale AS a FROM p GROUP BY 1
         |), a1 AS MATERIALIZED (
         |  SELECT sk, CAST((a * $Scale) // (SELECT max(a) FROM a1r) AS BIGINT) AS a
         |  FROM a1r
         |), h1r AS (
         |  SELECT ck, sum(CAST(a AS HUGEINT)) AS h
         |  FROM p JOIN a1 USING (sk) GROUP BY 1
         |), h1 AS MATERIALIZED (
         |  SELECT ck, CAST((h * $Scale) // (SELECT max(h) FROM h1r) AS BIGINT) AS h
         |  FROM h1r
         |), a2r AS (
         |  SELECT sk, sum(CAST(h AS HUGEINT)) AS a
         |  FROM p JOIN h1 USING (ck) GROUP BY 1
         |), a2 AS MATERIALIZED (
         |  SELECT sk, CAST((a * $Scale) // (SELECT max(a) FROM a2r) AS BIGINT) AS a
         |  FROM a2r
         |), h2r AS (
         |  SELECT ck, sum(CAST(a AS HUGEINT)) AS h
         |  FROM p JOIN a2 USING (sk) GROUP BY 1
         |), h2 AS (
         |  SELECT ck, CAST((h * $Scale) // (SELECT max(h) FROM h2r) AS BIGINT) AS h
         |  FROM h2r
         |)
         |SELECT * FROM (
         |  (SELECT 'authority' AS role, 's' || sk AS node, a AS score
         |   FROM a2 ORDER BY a DESC, node LIMIT 10)
         |  UNION ALL
         |  (SELECT 'hub' AS role, 'c' || ck AS node, h AS score
         |   FROM h2 ORDER BY h DESC, node LIMIT 10))
         |ORDER BY role, score DESC, node""".stripMargin),
    // full-replica oracle: cut/volume/internal are conditional integer
    // sums over the (cn, sn) cell census; φ is the one IEEE divide of
    // exact integers — both engines re-derive it identically
    Query("q319_partition_conductance", partitionConductance,
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), cells AS MATERIALIZED (
        |  SELECT CAST(c_nationkey AS BIGINT) AS cn,
        |         CAST(s_nationkey AS BIGINT) AS sn, count(*) AS c
        |  FROM e0 JOIN customer ON ck = c_custkey
        |          JOIN supplier ON sk = s_suppkey
        |  GROUP BY 1, 2
        |), tot AS (SELECT sum(c) AS m FROM cells),
        |per AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS nation, n_name,
        |         CAST(coalesce(sum(CASE WHEN cn = n_nationkey AND sn = n_nationkey THEN c END), 0) AS BIGINT) AS n_internal_edges,
        |         CAST(coalesce(sum(CASE WHEN (cn = n_nationkey) <> (sn = n_nationkey) THEN c END), 0) AS BIGINT) AS n_cut_edges,
        |         CAST(coalesce(sum(CASE WHEN cn = n_nationkey THEN c END), 0)
        |              + coalesce(sum(CASE WHEN sn = n_nationkey THEN c END), 0) AS BIGINT) AS volume
        |  FROM nation LEFT JOIN cells ON cn = n_nationkey OR sn = n_nationkey
        |  GROUP BY 1, 2
        |)
        |SELECT nation, n_name, n_internal_edges, n_cut_edges, volume,
        |       CASE WHEN least(volume, 2 * (SELECT CAST(m AS BIGINT) FROM tot) - volume) > 0
        |            THEN CAST(n_cut_edges AS DOUBLE)
        |                 / CAST(least(volume, 2 * (SELECT CAST(m AS BIGINT) FROM tot) - volume) AS DOUBLE)
        |            ELSE 0.0 END AS conductance
        |FROM per ORDER BY nation""".stripMargin),
    Query("q301_degree_assortativity", degreeAssortativity,
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM pairs
         |  UNION ALL
         |  SELECT dst AS src, src AS dst FROM pairs
         |), deg AS MATERIALIZED (
         |  SELECT src AS node, count(*) AS deg FROM und GROUP BY 1
         |), ed AS (
         |  SELECT dx.deg AS x, dy.deg AS y
         |  FROM und e JOIN deg dx ON e.src = dx.node
         |             JOIN deg dy ON e.dst = dy.node
         |), m AS (
         |  SELECT count(*) AS n,
         |         CAST(sum(x) AS HUGEINT) AS sx,
         |         CAST(sum(y) AS HUGEINT) AS sy,
         |         sum(CAST(x AS HUGEINT) * y) AS sxy,
         |         sum(CAST(x AS HUGEINT) * x) AS sxx,
         |         sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM ed
         |), nn AS (SELECT count(*) AS n_nodes FROM deg)
         |SELECT CAST(m.n AS BIGINT) AS n_dir_edges,
         |       (SELECT CAST(n_nodes AS BIGINT) FROM nn) AS n_nodes,
         |       CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE) AS mean_deg,
         |       CASE WHEN CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE) > 0
         |             AND CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE) > 0
         |            THEN CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
         |                 / sqrt(CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
         |                        * CAST(m.n * m.syy - m.sy * m.sy AS DOUBLE))
         |       END AS assortativity
         |FROM m""".stripMargin),
    // q294's propagation replay, then modularity as pure integer SQL:
    // singleton communities keyed by the node itself ('N' || node),
    // labeled ones by 'L' || label — only labeled rows surface
    Query("q380_modularity_census", modularityCensus,
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM pairs
         |  UNION ALL
         |  SELECT dst AS src, src AS dst FROM pairs
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT src AS node FROM und
         |), l0 AS MATERIALIZED (
         |  SELECT n.node, CAST(s_nationkey AS BIGINT) AS label
         |  FROM nodes n JOIN supplier ON n.node = 's' || s_suppkey
         |  WHERE s_nationkey < 5
         |), ${lpRoundSql(1)}, ${lpRoundSql(2)}, ${lpRoundSql(3)},
         |deg AS (
         |  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |  FROM und GROUP BY 1
         |), comm AS MATERIALIZED (
         |  SELECT d.node, d.deg, l.label,
         |         CASE WHEN l.label IS NOT NULL THEN 'L' || l.label
         |              ELSE 'N' || d.node END AS comm
         |  FROM deg d LEFT JOIN l3 l ON l.node = d.node
         |), m2t AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und),
         |in2t AS (
         |  SELECT a.comm, CAST(count(*) AS BIGINT) AS in2
         |  FROM und e
         |  JOIN comm a ON a.node = e.src
         |  JOIN comm b ON b.node = e.dst
         |  WHERE a.comm = b.comm
         |  GROUP BY 1
         |), tott AS (
         |  SELECT comm, max(label) AS label,
         |         CAST(sum(deg) AS BIGINT) AS tot,
         |         CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM comm GROUP BY 1
         |), parts AS MATERIALIZED (
         |  SELECT t.comm, t.label, t.n_nodes,
         |         CAST(coalesce(i.in2, 0) AS BIGINT) AS in2, t.tot,
         |         CAST(m2 AS HUGEINT) * coalesce(i.in2, 0)
         |           - CAST(t.tot AS HUGEINT) * t.tot AS qpart
         |  FROM tott t LEFT JOIN in2t i ON i.comm = t.comm, m2t
         |), gt AS (
         |  SELECT CAST(sum(qpart) AS HUGEINT) AS q_num,
         |         ${sumLongSql("CASE WHEN label IS NULL THEN 1 ELSE 0 END")}
         |           AS n_singletons
         |  FROM parts
         |)
         |SELECT label, n_nodes, in2, tot,
         |       m2 // 2 AS m_edges, n_singletons,
         |       CAST(q_num AS VARCHAR) AS q_num,
         |       CAST(q_num AS DOUBLE)
         |         / CAST(CAST(m2 AS HUGEINT) * m2 AS DOUBLE) AS modularity
         |FROM parts, gt, m2t
         |WHERE label IS NOT NULL
         |ORDER BY label""".stripMargin),
    Query("q294_label_propagation", labelPropagation,
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM pairs
         |  UNION ALL
         |  SELECT dst AS src, src AS dst FROM pairs
         |), nodes AS MATERIALIZED (
         |  SELECT DISTINCT src AS node FROM und
         |), l0 AS MATERIALIZED (
         |  SELECT n.node, CAST(s_nationkey AS BIGINT) AS label
         |  FROM nodes n JOIN supplier ON n.node = 's' || s_suppkey
         |  WHERE s_nationkey < 5
         |), ${lpRoundSql(1)}, ${lpRoundSql(2)}, ${lpRoundSql(3)}
         |SELECT kind, label, n_nodes FROM (
         |  SELECT substr(node, 1, 1) AS kind, label, count(*) AS n_nodes
         |  FROM l3 GROUP BY 1, 2
         |  UNION ALL
         |  SELECT substr(node, 1, 1) AS kind, CAST(-1 AS BIGINT) AS label,
         |         count(*) AS n_nodes
         |  FROM nodes WHERE node NOT IN (SELECT node FROM l3)
         |  GROUP BY 1
         |)
         |ORDER BY kind, label""".stripMargin),
    Query("q291_reach_sketch_census", reachSketchCensus,
      // exact 3-hop reach for the 10-seed panel (the q288 unrolled
      // DISTINCT-hop form), |V| from the edge list, and the sketch
      // tolerance flag stated literally TRUE — the q18/q92 contract:
      // DuckDB cannot rebuild a DataSketches HLL, but it can state the
      // bound the estimate must satisfy.
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |), und AS MATERIALIZED (
         |  SELECT src, dst FROM pairs
         |  UNION ALL
         |  SELECT dst AS src, src AS dst FROM pairs
         |), seeds AS (
         |  SELECT 's' || s_suppkey AS seed FROM supplier ORDER BY s_suppkey LIMIT $ReachPanelK
         |), hop0 AS (SELECT seed, seed AS node FROM seeds),
         |hop1 AS (SELECT DISTINCT h.seed, e.dst AS node
         |         FROM hop0 h JOIN und e ON h.node = e.src),
         |hop2 AS (SELECT DISTINCT h.seed, e.dst AS node
         |         FROM hop1 h JOIN und e ON h.node = e.src),
         |hop3 AS (SELECT DISTINCT h.seed, e.dst AS node
         |         FROM hop2 h JOIN und e ON h.node = e.src),
         |reach AS (
         |  SELECT seed, node FROM hop0
         |  UNION SELECT seed, node FROM hop1
         |  UNION SELECT seed, node FROM hop2
         |  UNION SELECT seed, node FROM hop3
         |), nn AS (SELECT count(DISTINCT src) AS n FROM und)
         |SELECT seed, CAST(count(*) - 1 AS BIGINT) AS n_reachable_3hop,
         |       (SELECT CAST(n AS BIGINT) FROM nn) AS n_nodes_sketched,
         |       TRUE AS sketch_within_15pct
         |FROM reach
         |GROUP BY seed
         |ORDER BY seed""".stripMargin),
    Query("q290_widest_path_census", widestPathCensus,
      s"""WITH pairs AS MATERIALIZED (
         |  SELECT 'c' || o_custkey AS src, 's' || l_suppkey AS dst,
         |         count(*) AS w
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2
         |), und AS MATERIALIZED (
         |  SELECT src, dst, w FROM pairs
         |  UNION ALL
         |  SELECT dst AS src, src AS dst, w FROM pairs
         |), seeds AS (
         |  $SeedPanelSql
         |), b0 AS (
         |  SELECT seed, seed AS node, CAST($BnInf AS BIGINT) AS bn FROM seeds
         |), r1 AS (
         |  SELECT b.seed, e.dst AS node, max(least(b.bn, e.w)) AS bn
         |  FROM b0 b JOIN und e ON b.node = e.src GROUP BY 1, 2
         |), b1 AS (
         |  SELECT seed, node, CAST(max(bn) AS BIGINT) AS bn
         |  FROM (SELECT * FROM b0 UNION ALL SELECT * FROM r1) GROUP BY 1, 2
         |), r2 AS (
         |  SELECT b.seed, e.dst AS node, max(least(b.bn, e.w)) AS bn
         |  FROM b1 b JOIN und e ON b.node = e.src GROUP BY 1, 2
         |), b2 AS (
         |  SELECT seed, node, CAST(max(bn) AS BIGINT) AS bn
         |  FROM (SELECT * FROM b1 UNION ALL SELECT * FROM r2) GROUP BY 1, 2
         |), r3 AS (
         |  SELECT b.seed, e.dst AS node, max(least(b.bn, e.w)) AS bn
         |  FROM b2 b JOIN und e ON b.node = e.src GROUP BY 1, 2
         |), b3 AS (
         |  SELECT seed, node, CAST(max(bn) AS BIGINT) AS bn
         |  FROM (SELECT * FROM b2 UNION ALL SELECT * FROM r3) GROUP BY 1, 2
         |)
         |SELECT seed, count(*) AS n_reachable,
         |       CAST(max(bn) AS BIGINT) AS max_bottleneck,
         |       CAST(min(bn) AS BIGINT) AS min_bottleneck
         |FROM b3
         |WHERE node <> seed
         |GROUP BY 1
         |ORDER BY 1""".stripMargin),
    // the distinct trade pairs as neighbor sets; pairs keyed on the
    // NUMERIC seed id; the dyadic 1/deg makes the RA float sum exact
    Query("q411_link_prediction", linkPredictionCensus,
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), seeds AS (
        |  SELECT s_suppkey AS k FROM supplier ORDER BY s_suppkey
        |  LIMIT $SeedPanelK
        |), cdeg AS MATERIALIZED (
        |  SELECT c, CAST(count(*) AS BIGINT) AS degw FROM pairs GROUP BY 1
        |), nbrs AS MATERIALIZED (
        |  SELECT s.k, p.c, d.degw
        |  FROM seeds s JOIN pairs p ON p.sp = s.k
        |  JOIN cdeg d ON d.c = p.c
        |), deg AS (
        |  SELECT k, CAST(count(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1
        |), common AS (
        |  SELECT a.k AS ka, b.k AS kb, CAST(count(*) AS BIGINT) AS n_common,
        |         sum(CAST(1 AS DOUBLE)
        |             / CAST((CAST(1 AS BIGINT)
        |                     << (CAST(length(bin(a.degw)) AS INT) - 1))
        |                    AS DOUBLE)) AS ra
        |  FROM nbrs a JOIN nbrs b ON a.c = b.c AND a.k < b.k
        |  GROUP BY 1, 2
        |), spine AS (
        |  SELECT a.k AS ka, b.k AS kb FROM seeds a, seeds b WHERE a.k < b.k
        |)
        |SELECT 's' || sp.ka AS seed_a, 's' || sp.kb AS seed_b,
        |       coalesce(da.deg, 0) AS deg_a, coalesce(db.deg, 0) AS deg_b,
        |       coalesce(c.n_common, 0) AS n_common,
        |       coalesce(da.deg, 0) + coalesce(db.deg, 0)
        |         - coalesce(c.n_common, 0) AS n_union,
        |       CASE WHEN coalesce(da.deg, 0) + coalesce(db.deg, 0)
        |                 - coalesce(c.n_common, 0) > 0 THEN
        |         ${ratioSql("coalesce(c.n_common, 0)",
             "coalesce(da.deg, 0) + coalesce(db.deg, 0) - coalesce(c.n_common, 0)")}
        |       END AS jaccard,
        |       coalesce(da.deg, 0) * coalesce(db.deg, 0) AS pref_attach,
        |       coalesce(c.ra, 0.0) AS ra_dyadic
        |FROM spine sp
        |LEFT JOIN common c ON c.ka = sp.ka AND c.kb = sp.kb
        |LEFT JOIN deg da ON da.k = sp.ka
        |LEFT JOIN deg db ON db.k = sp.kb
        |ORDER BY seed_a, seed_b""".stripMargin),
    // q288's unrolled DISTINCT hops with hop tags min-folded into the
    // BFS distance (a walk of length d exists for every node at
    // distance d, so min(hop) ≡ the layered first-visit), then the
    // exact 6·H census
    Query("q401_harmonic_centrality", harmonicCentrality,
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), und AS MATERIALIZED (
        |  SELECT src, dst FROM pairs
        |  UNION ALL
        |  SELECT dst AS src, src AS dst FROM pairs
        |), seeds AS (
        |  $SeedPanelSql
        |), hop0 AS (SELECT seed, seed AS node FROM seeds),
        |hop1 AS MATERIALIZED (
        |  SELECT DISTINCT h.seed, e.dst AS node
        |  FROM hop0 h JOIN und e ON h.node = e.src),
        |hop2 AS MATERIALIZED (
        |  SELECT DISTINCT h.seed, e.dst AS node
        |  FROM hop1 h JOIN und e ON h.node = e.src),
        |hop3 AS (
        |  SELECT DISTINCT h.seed, e.dst AS node
        |  FROM hop2 h JOIN und e ON h.node = e.src),
        |dists AS (
        |  SELECT seed, node, min(hop) AS d FROM (
        |    SELECT seed, node, 1 AS hop FROM hop1
        |    UNION ALL SELECT seed, node, 2 AS hop FROM hop2
        |    UNION ALL SELECT seed, node, 3 AS hop FROM hop3)
        |  WHERE node <> seed
        |  GROUP BY 1, 2
        |), cnt AS (
        |  SELECT seed,
        |         ${sumLongSql("CASE WHEN d = 1 THEN 1 ELSE 0 END")} AS n_hop1,
        |         ${sumLongSql("CASE WHEN d = 2 THEN 1 ELSE 0 END")} AS n_hop2,
        |         ${sumLongSql("CASE WHEN d = 3 THEN 1 ELSE 0 END")} AS n_hop3
        |  FROM dists GROUP BY 1
        |)
        |SELECT s.seed,
        |       coalesce(n_hop1, 0) AS n_hop1,
        |       coalesce(n_hop2, 0) AS n_hop2,
        |       coalesce(n_hop3, 0) AS n_hop3,
        |       coalesce(n_hop1, 0) + coalesce(n_hop2, 0) + coalesce(n_hop3, 0)
        |         AS n_reachable,
        |       6 * coalesce(n_hop1, 0) + 3 * coalesce(n_hop2, 0)
        |         + 2 * coalesce(n_hop3, 0) AS h6,
        |       ${ratioSql(
             "6 * coalesce(n_hop1, 0) + 3 * coalesce(n_hop2, 0) + 2 * coalesce(n_hop3, 0)",
             "6")} AS harmonic
        |FROM seeds s LEFT JOIN cnt ON s.seed = cnt.seed
        |ORDER BY s.seed""".stripMargin),
    Query("q288_bfs_reachability", bfsReachability,
      // unrolled DISTINCT hops ∪-folded: set semantics make this
      // provably identical to the Spark side's frontier-minus-visited
      // optimization (both compute "distinct nodes within 3 hops").
      // MATERIALIZED on the edge CTEs — the q202 lesson: DuckDB inlines
      // multiply-referenced CTEs and the trade-pair join would re-expand
      // once per hop.
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), und AS MATERIALIZED (
        |  SELECT src, dst FROM pairs
        |  UNION ALL
        |  SELECT dst AS src, src AS dst FROM pairs
        |), seeds AS (
        |  $SeedPanelSql
        |), hop0 AS (SELECT seed, seed AS node FROM seeds),
        |hop1 AS (SELECT DISTINCT h.seed, e.dst AS node
        |         FROM hop0 h JOIN und e ON h.node = e.src),
        |hop2 AS (SELECT DISTINCT h.seed, e.dst AS node
        |         FROM hop1 h JOIN und e ON h.node = e.src),
        |hop3 AS (SELECT DISTINCT h.seed, e.dst AS node
        |         FROM hop2 h JOIN und e ON h.node = e.src),
        |reach AS (
        |  SELECT seed, node FROM hop0
        |  UNION SELECT seed, node FROM hop1
        |  UNION SELECT seed, node FROM hop2
        |  UNION SELECT seed, node FROM hop3
        |)
        |SELECT seed, CAST(count(*) - 1 AS BIGINT) AS n_reachable_3hop
        |FROM reach
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),
    Query("q202_triangle_census", triangleCensus,
      // MATERIALIZED on every multiply-referenced CTE: DuckDB inlines CTE
      // references by default, so `e` (read 3x) re-expands und -> mult ->
      // the 6M-row (ok,sp) self-join on every reference — combinatorial
      // re-evaluation that is invisible at sf0.01 but turns the sf1 oracle
      // from ~3 s into >10 min. The hint pins each stage to one evaluation
      // without changing results.
      s"""WITH so AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sp FROM lineitem
         |), mult AS MATERIALIZED (
         |  SELECT a.u, b.v, count(*) AS m
         |  FROM (SELECT ok, sp AS u FROM so) a
         |  JOIN (SELECT ok, sp AS v FROM so) b USING (ok)
         |  WHERE a.u < b.v
         |  GROUP BY 1, 2
         |), thr AS (
         |  SELECT greatest($CoOrderMinMult, coalesce(
         |    (2 * $CoOrderLift * slots + nv * (nv - 1) - 1)
         |      // nullif(nv * (nv - 1), 0), $CoOrderMinMult)) AS thr
         |  FROM (SELECT coalesce(sum(m), 0) AS slots FROM mult),
         |       (SELECT count(DISTINCT sp) AS nv FROM so)
         |), und AS MATERIALIZED (SELECT u, v FROM mult, thr WHERE m >= thr
         |), degs AS MATERIALIZED (
         |  SELECT n, count(*) AS deg FROM (
         |    SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
         |  GROUP BY 1
         |), e AS MATERIALIZED (
         |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
         |         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
         |         CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS ddst
         |  FROM (SELECT u, v, da.deg AS du, db.deg AS dv
         |        FROM und
         |        JOIN degs da ON und.u = da.n
         |        JOIN degs db ON und.v = db.n)
         |), wedges AS (
         |  SELECT a.src, a.x, b.y
         |  FROM (SELECT src, dst AS x, ddst AS dx FROM e) a
         |  JOIN (SELECT src, dst AS y, ddst AS dy FROM e) b USING (src)
         |  WHERE a.dx < b.dy OR (a.dx = b.dy AND a.x < b.y)
         |), tri AS (
         |  SELECT count(*) AS n_triangles FROM wedges
         |  WHERE EXISTS (SELECT 1 FROM e
         |                WHERE e.src = wedges.x AND e.dst = wedges.y)
         |), census AS (
         |  SELECT count(*) AS n_nodes,
         |         CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
         |  FROM degs
         |), edges AS (SELECT count(*) AS n_edges FROM und)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |       CASE WHEN n_wedges > 0
         |            THEN ${ratioSql("3 * n_triangles", "n_wedges")} END AS clustering_coeff
         |FROM census CROSS JOIN edges CROSS JOIN tri""".stripMargin),
    Query("q197_pagerank_fixed_point", pageRank,
      // Same MATERIALIZED rationale as q202: e is read by deg/n and all
      // three contribution joins; inlined it would rebuild the 6M-row
      // orders⋈lineitem edge list per reference.
      """WITH e0 AS MATERIALIZED (
        |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |), e AS MATERIALIZED (
        |  SELECT src, dst FROM e0
        |  UNION ALL SELECT dst, src FROM e0
        |), deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |n AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
        |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM n),
        |c1 AS (SELECT e.dst AS node, sum(r0.r // deg.d) AS s
        |       FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
        |       GROUP BY 1),
        |r1 AS (SELECT n.node,
        |              CAST(150000000000 + (85 * coalesce(c1.s, 0)) // 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN c1 ON n.node = c1.node),
        |c2 AS (SELECT e.dst AS node, sum(r1.r // deg.d) AS s
        |       FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
        |       GROUP BY 1),
        |r2 AS (SELECT n.node,
        |              CAST(150000000000 + (85 * coalesce(c2.s, 0)) // 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN c2 ON n.node = c2.node),
        |c3 AS (SELECT e.dst AS node, sum(r2.r // deg.d) AS s
        |       FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
        |       GROUP BY 1),
        |r3 AS (SELECT n.node,
        |              CAST(150000000000 + (85 * coalesce(c3.s, 0)) // 100 AS BIGINT) AS r
        |       FROM n LEFT JOIN c3 ON n.node = c3.node)
        |SELECT node, r AS pr FROM r3
        |ORDER BY pr DESC, node ASC LIMIT 20""".stripMargin))
}
