package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, lit, min, sum}
import org.apache.spark.sql.types.DecimalType

/** Connected components by min-label propagation — the one loop behind
  * q76/q174/q328 (LSH near-dup clusters), q345/q361 (DBSCAN cores) and
  * q359 (entity canonicalization). Each round sets label(v) to the min
  * label over {v} ∪ neighbors(v), optionally followed by one pointer jump
  * label(v) ← label(label(v)). The fixpoint is unique (every component
  * carries its minimum node id), so the round shape changes only the round
  * count, never the result. */
object Fixpoint {

  private val D38 = DecimalType(38, 0)

  /** `edges(src, dst)` must be symmetric and `nodes(node)` must hold every
    * endpoint; the kernel adds the self-loops. Returns `(node, lab)`.
    *
    * Gate: the label sum as decimal(38,0), monotone decreasing and
    * wrap-free (a BIGINT sum wraps at ~10 max-long labels, and a wrapped
    * "increase" would stop before the fixpoint with no error); `coalesce`
    * makes an empty node set sum to 0. It is the round's only action: the
    * round's labels are a lazy localCheckpoint that the gate materializes.
    *
    * `jump` is valid for every caller (self-loops make every label a node
    * with a row) but costs one more join and exchange per round. Measured
    * with `graft.Probe`, sf0.1, 4 cores: q345's long core chains need 91
    * Spark jobs with it and 136 without; q76/q174/q359 (cliques and short
    * chains) converge in the same rounds either way, so it only adds jobs
    * (26/29/33 against 23/27/30; q76 2.65–2.95 s against 1.82–2.17 s).
    * Each call site fixes `jump` for its graph shape.
    *
    * Measured SLOWER, kept out: fusing the sum into the checkpoint job as
    * an Observation metric (the listener bus delivers it ~100 ms late per
    * round: q361 4.4→6.1 s, q359 2.5→3.1 s); pinning edges and labels
    * hash-placed via `Pinned.partitionedCheckpoint`/`checkpointAsIs`
    * (2.5–3.5×: q345 5.4→13.2 s, q359 3.9→5.8 s — their AQE-off compile
    * runs every round at the static partition width instead of ~1 task);
    * a second jump per round on q345 (its pin costs more than the ~3
    * rounds it saves). */
  def minLabel(edges: DataFrame, nodes: DataFrame, jump: Boolean): DataFrame = {
    val ed = edges.select(col("src"), col("dst"))
      .unionByName(nodes.select(col("node").as("src"), col("node").as("dst")))
    var labels = nodes.select(col("node"), col("node").as("lab"))
      .localCheckpoint(eager = false)
    def labelSum(): java.math.BigDecimal = labels
      .agg(coalesce(sum(col("lab").cast(D38)), lit(BigDecimal(0)).cast(D38)))
      .head.getDecimal(0)
    var prevSum: java.math.BigDecimal = null
    var curSum = labelSum()
    while (prevSum == null || curSum.compareTo(prevSum) < 0) {
      labels = round(ed, labels, jump).localCheckpoint(eager = false)
      prevSum = curSum
      curSum = labelSum()
    }
    labels
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
