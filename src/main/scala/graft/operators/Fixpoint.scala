package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{coalesce, col, lit, min, sum}
import org.apache.spark.sql.types.{DataType, DecimalType, IntegerType, LongType, StructField, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Connected components by min-label propagation — the one loop behind
  * q76/q174/q328 (LSH near-dup clusters), q345/q361 (DBSCAN cores) and
  * q359 (entity canonicalization). The fixpoint is unique (every component
  * carries its minimum node id), so how it is reached changes only the
  * cost, never the result. Two paths reach it:
  *
  *  - local: when the self-looped edge relation holds at most
  *    [[LocalRows]] rows, one job gathers it and a min-id union-find on the
  *    driver finishes; the labels come back as a local frame.
  *  - distributed: otherwise each round sets label(v) to the min label
  *    over {v} ∪ neighbors(v), optionally followed by one pointer jump
  *    label(v) ← label(label(v)), until the labels stop falling.
  *
  * Each call appends a [[Fixpoint.Run]] (loop, path, entries, rounds) that
  * [[graft.Probe]] reads back with [[Fixpoint.drainRuns]]; label
  * propagation ([[graft.queries.Graph.lpLayersUnion]]) records its calls
  * here too and shares [[gather]]. */
object Fixpoint {

  private val D38 = DecimalType(38, 0)

  /** The most self-looped edge rows the local path gathers. The bound is a
    * driver-heap budget: a gathered row is two longs (16 B) and its node
    * costs ~150 B more on the way back (ids, union-find parent, the `Row`
    * and its `LocalRelation` copy), so 250,000 rows hold under ~45 MB of
    * driver heap. */
  val LocalRows: Int = 250000

  /** One loop call: `loop` is "minLabel" or "lp" (label propagation,
    * [[graft.queries.Graph.lpLayersUnion]]); `path` is "local" or
    * "distributed"; `entries` the entries [[gather]] counted (self-looped
    * edge rows for minLabel, adjacency entries for lp): more than the bound
    * when the input was too large, -1 when nothing was gathered (or, for
    * lp, a row held a null); `rounds` the rounds run (the union-find runs
    * none). */
  case class Run(loop: String, path: String, entries: Long, rounds: Int) {
    override def toString: String = s"$loop:$path:$entries:$rounds"
  }

  private val KeptRuns = 64
  private val runs = scala.collection.mutable.Queue.empty[Run]

  private[graft] def record(r: Run): Unit = runs.synchronized {
    runs.enqueue(r)
    if (runs.size > KeptRuns) runs.dequeue()
  }

  /** The runs recorded since the last drain, oldest first (at most 64). */
  def drainRuns(): Seq[Run] = runs.synchronized(runs.dequeueAll(_ => true).toSeq)

  /** `edges(src, dst)` must be symmetric and `nodes(node)` must hold every
    * endpoint; the kernel adds the self-loops. Returns `(node, lab)`. */
  def minLabel(edges: DataFrame, nodes: DataFrame, jump: Boolean): DataFrame =
    minLabel(edges, nodes, jump, LocalRows)

  /** [[minLabel]] with the local bound as a parameter: 0 always runs the
    * distributed rounds, `Int.MaxValue` always finishes on the driver.
    * Only int and bigint node ids take the local path.
    *
    * Gate: the label sum as decimal(38,0), monotone decreasing and
    * wrap-free (a BIGINT sum wraps at ~10 max-long labels, and a wrapped
    * "increase" would stop before the fixpoint with no error); `coalesce`
    * makes an empty node set sum to 0. It is the round's only action: the
    * round's labels are a lazy localCheckpoint that the gate materializes.
    *
    * `jump` is valid for every caller (self-loops make every label a node
    * with a row) but costs one more join and exchange per round. Measured
    * with `graft.Probe`, sf0.1, 4 cores, all rounds distributed: q345's
    * long core chains need 91 Spark jobs with it and 136 without;
    * q76/q174/q359 (cliques and short chains) converge in the same rounds
    * either way, so it only adds jobs (26/29/33 against 23/27/30; q76
    * 2.65–2.95 s against 1.82–2.17 s). Each call site fixes `jump` for its
    * graph shape.
    *
    * Measured SLOWER, kept out: fusing the sum into the checkpoint job as
    * an Observation metric (the listener bus delivers it ~100 ms late per
    * round: q361 4.4→6.1 s, q359 2.5→3.1 s); pinning edges and labels
    * hash-placed via `Pinned.partitionedCheckpoint`/`checkpointAsIs`
    * (2.5–3.5×: q345 5.4→13.2 s, q359 3.9→5.8 s — their AQE-off compile
    * runs every round at the static partition width instead of ~1 task);
    * a second jump per round on q345 (its pin costs more than the ~3
    * rounds it saves). */
  private[graft] def minLabel(edges: DataFrame, nodes: DataFrame, jump: Boolean,
      localRows: Int): DataFrame = {
    val ed = edges.select(col("src"), col("dst"))
      .unionByName(nodes.select(col("node").as("src"), col("node").as("dst")))
    val nodeType = nodes.schema("node").dataType
    val int = nodeType == IntegerType
    val (edgeRows, gathered) =
      if (localRows <= 0 || (!int && nodeType != LongType)) (-1L, None)
      else gather(ed, localRows) { (r, out) =>
        if (r.isNullAt(0) || r.isNullAt(1)) 0
        else {
          if (int) { out += r.getInt(0); out += r.getInt(1) }
          else { out += r.getLong(0); out += r.getLong(1) }
          1
        }
      }
    gathered match {
      case Some(pairs) =>
        record(Run("minLabel", "local", edgeRows, 0))
        unionFind(ed, pairs, nodeType)
      case None =>
        var labels = nodes.select(col("node"), col("node").as("lab"))
          .localCheckpoint(eager = false)
        def labelSum(): java.math.BigDecimal = labels
          .agg(coalesce(sum(col("lab").cast(D38)), lit(BigDecimal(0)).cast(D38)))
          .head.getDecimal(0)
        var rounds = 0
        var prevSum: java.math.BigDecimal = null
        var curSum = labelSum()
        while (prevSum == null || curSum.compareTo(prevSum) < 0) {
          labels = round(ed, labels, jump).localCheckpoint(eager = false)
          rounds += 1
          prevSum = curSum
          curSum = labelSum()
        }
        record(Run("minLabel", "distributed", edgeRows, rounds))
        labels
    }
  }

  /** Gathers `df` to the driver in one job when its rows count at most
    * `bound` entries. `encode` appends one row's longs to the builder and
    * returns the entries the row counts, or a negative number when the row
    * cannot be gathered (a null key). Each task ships at most `bound`
    * entries: past the bound, or at a row it cannot encode, it ships only
    * its count. The driver stops keeping parts once the total passes the
    * bound. Returns the entries counted (more than `bound` when `df` is too
    * large, -1 at a row that cannot be encoded) and, when they fit, the
    * encoded longs, part by part in the order the tasks finished.
    *
    * It plans no `limit`: a `limit` + `collect` runs several jobs as it
    * scales up the partitions it reads, and its whole-stage class missed
    * the codegen cache on every run. */
  private[graft] def gather(df: DataFrame, bound: Int)(
      encode: (InternalRow, mutable.ArrayBuilder.ofLong) => Int)
      : (Long, Option[Array[Long]]) = {
    val parts = mutable.ArrayBuffer.empty[Array[Long]]
    var entries = 0L
    df.sparkSession.sparkContext.runJob(df.queryExecution.toRdd,
      (rows: Iterator[InternalRow]) => {
        val out = new mutable.ArrayBuilder.ofLong
        var n = 0L
        while (n >= 0 && n <= bound && rows.hasNext) {
          val e = encode(rows.next(), out)
          n = if (e < 0) -1 else n + e
        }
        (n, if (n < 0 || n > bound) null else out.result())
      },
      (_: Int, part: (Long, Array[Long])) =>
        if (entries >= 0 && entries <= bound) {
          entries = if (part._1 < 0) -1 else entries + part._1
          if (entries >= 0 && entries <= bound) parts += part._2
        })
    (entries, if (entries >= 0 && entries <= bound) Some(Array.concat(parts.toSeq: _*)) else None)
  }

  /** Min-id union-find over the gathered (src, dst) pairs: ids are indexed
    * in ascending order and a union always links the larger root under the
    * smaller, so every root is its set's minimum id. */
  private def unionFind(ed: DataFrame, pairs: Array[Long], nodeType: DataType): DataFrame = {
    val ids = pairs.distinct.sorted
    def at(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    val parent = Array.tabulate(ids.length)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (e <- pairs.indices by 2) {
      val (ra, rb) = (find(at(pairs(e))), find(at(pairs(e + 1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val box: Long => Any = if (nodeType == IntegerType) _.toInt else identity
    val out = ids.indices.map(i => Row(box(ids(i)), box(ids(find(i)))))
    ed.sparkSession.createDataFrame(out.asJava, StructType(Seq(
      StructField("node", nodeType), StructField("lab", nodeType))))
  }

  /** One round over the self-looped edges `ed`: a keyed `min` over the
    * edge join, then (with `jump`) the label-of-label self-join. */
  private[graft] def round(ed: DataFrame, labels: DataFrame,
      jump: Boolean): DataFrame = {
    val propagated = ed.join(labels, col("dst") === col("node"))
      .groupBy(col("src")).agg(min(col("lab")).as("lab"))
      .select(col("src").as("node"), col("lab"))
    if (!jump) propagated
    else propagated.as("l")
      .join(propagated.select(col("node").as("ld"), col("lab").as("ll")).as("r"),
        col("l.lab") === col("r.ld"))
      .select(col("l.node").as("node"), col("r.ll").as("lab"))
  }
}
