package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `array<float>` columns.
  *
  * The engine's similarity/dedup hot loop (SURVEY.md §2.B "similarity
  * search"): evaluated once per candidate pair, so it must live inside
  * whole-stage codegen. The higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0d, _+_)` in
  * [[graft.operators.VectorOps.dotF]]) allocates a lambda frame per element;
  * this expression compiles to a tight primitive loop over the two
  * `ArrayData` buffers — no boxing, no allocation.
  *
  * Arithmetic contract (identical to the HOF form and the DuckDB oracle):
  * each product is computed in FLOAT, then accumulated left-to-right into a
  * DOUBLE — bit-deterministic on any engine and any partitioning. Trailing
  * elements of the longer input are ignored (fixture embeddings are
  * fixed-length; `zip_with` would null-poison instead, so don't feed
  * ragged pairs to either form).
  *
  * Null elements: a null slot inside either array (within the compared
  * prefix) makes the result NULL — the same null-poisoning the HOF form
  * has (`zip_with` product of a null is null; `aggregate`'s `+` then
  * poisons the sum), so the two formulations stay interchangeable. The
  * guard is explicit because `ArrayData.getFloat` on a null slot would
  * otherwise read an undefined value rather than fail.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // AbstractDataType is private[sql]; the inferred Seq[ArrayType] conforms.
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def dataType: DataType = DoubleType

  // A null ELEMENT yields a null result even when both array inputs are
  // non-null, so this must stay nullable regardless of child nullability:
  // with non-nullable children, nullSafeCodeGen would otherwise emit
  // `${ev.isNull} = true` against isNull=FalseLiteral (`false = true;`,
  // a codegen compile error), and the interpreted path would return null
  // from a declared-non-null expression — undefined under UnsafeProjection.
  override def nullable: Boolean = true

  override def prettyName: String = "graft_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += (x.getFloat(i) * y.getFloat(i)).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val bad = ctx.freshName("hasNullElem")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |boolean $bad = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) { $bad = true; break; }
         |  $acc += (double) ($x.getFloat($i) * $y.getFloat($i));
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration for graft's native expressions, and the JVM's codegen
  * cache size.
  *
  * Configure with `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.functions.GraftExtensions`); callers that
  * may run in a foreign session should dispatch through
  * [[graft.operators.VectorOps.dot]], which falls back to the HOF
  * formulation when the function isn't registered.
  *
  * Applying the extension also sizes Spark's whole-stage codegen cache to
  * [[GraftExtensions.CodegenCacheEntries]] unless the JVM already names a
  * size. That cache is one per JVM, sized once from the active session's
  * conf when `CodeGenerator` initializes, so the size is a JVM default:
  * `withExtensions` runs before `getOrCreate` builds its `SparkConf`,
  * which reads `spark.*` system properties. An explicit `-D` or builder
  * `.config(...)` of the same key still wins. Installing the extension
  * through `spark.sql.extensions` applies it after the `SparkConf` is
  * built, too late to size the cache.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    System.getProperties.putIfAbsent(
      GraftExtensions.CodegenCacheKey, GraftExtensions.CodegenCacheEntries.toString)
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.CosineTopKStrategy)
  }
}

object GraftExtensions {
  private[graft] val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Room for every class the 440 declared queries generate, so a pass
    * over any mix of them, up to the whole suite, compiles only the
    * classes a query generates afresh on each run.
    * Spark's default of 100 is fewer than one benchmark workload cycles
    * through (~130 classes on query-floor, ~159 on iterative-loops), so
    * its LRU missed on every access and each pass recompiled.
    *
    * Measured with `graft.Probe` over all 440 queries at sf0.01 (one warm
    * and one timed run each, local[4], -Xmx3g): 6,625 distinct classes,
    * 326 of them regenerated by the timed runs of 49 queries. Holding all
    * of them left 411 MB of heap after a full GC and 289 MB of metaspace,
    * against 206 MB and 235 MB with 100 entries (which compiled 11,478).
    * So a full cache costs ~31 KB of heap and ~8 KB of metaspace a class,
    * about 250 MB of heap at 8192 entries. */
  val CodegenCacheEntries = 8192
}

object GraftFunctions {
  val vecDotName = "graft_vec_dot"
  val intDotName = "graft_ivec_dot"
  val intSqDistName = "graft_ivec_sqdist"
  val quantizeI8Name = "graft_quantize_i8"
  val extractListingsName = "graft_extract_listings"
  val bloomAggName = "graft_bloom_agg"
  val bloomProbeName = "graft_bloom_might_contain"
  val cmsEstimateName = "graft_cms_estimate"
  val cmsInnerProductName = "graft_cms_inner_product"

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier(vecDotName),
      new ExpressionInfo(classOf[FloatVecDot].getName, vecDotName),
      (children: Seq[Expression]) => FloatVecDot(children(0), children(1))),
    (FunctionIdentifier(intDotName),
      new ExpressionInfo(classOf[IntVecDot].getName, intDotName),
      (children: Seq[Expression]) => IntVecDot(children(0), children(1))),
    (FunctionIdentifier(intSqDistName),
      new ExpressionInfo(classOf[IntVecSqDist].getName, intSqDistName),
      (children: Seq[Expression]) => IntVecSqDist(children(0), children(1))),
    (FunctionIdentifier(quantizeI8Name),
      new ExpressionInfo(classOf[QuantizeInt8].getName, quantizeI8Name),
      (children: Seq[Expression]) => QuantizeInt8(children(0))),
    (FunctionIdentifier(extractListingsName),
      new ExpressionInfo(classOf[ExtractListingsExpr].getName, extractListingsName),
      (children: Seq[Expression]) => ExtractListingsExpr(children(0), children(1))),
    // Catalyst's bloom build/probe pair, registered under graft names:
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // runtime join pruning but exposes no SQL surface — the registration
    // makes the primitive a first-class operator (q168). Callers pass
    // xxhash64(key) (LongType contract, same as the injected filters).
    (FunctionIdentifier(bloomAggName),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        bloomAggName),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2))),
    (FunctionIdentifier(bloomProbeName),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        bloomProbeName),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))),
    // Probe side for Spark's native count_min_sketch aggregate: the build
    // exists in the public FunctionRegistry but the estimate has no SQL or
    // Column surface at all — this closes the pair (q292).
    (FunctionIdentifier(cmsEstimateName),
      new ExpressionInfo(classOf[CmsEstimate].getName, cmsEstimateName),
      (children: Seq[Expression]) => CmsEstimate(children(0), children(1))),
    // Inner-product (join-size) estimate over two sketches from the same
    // family — the second probe the native build lacks (q308).
    (FunctionIdentifier(cmsInnerProductName),
      new ExpressionInfo(classOf[CmsInnerProduct].getName, cmsInnerProductName),
      (children: Seq[Expression]) => CmsInnerProduct(children(0), children(1))))
}
