package graft

import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType, StructType}

/** Smoke: every declared query runs at sf0.001 and the flagship returns
  * rows (the driver's t1 check). Correctness is the DuckDB oracle gate
  * (driver t2 / tools/check.py), not this suite. */
class QueriesSmokeSpec extends SparkSpec {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("registry holds 440 distinct names with oracle SQL and rejects a duplicate name") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.size === 440)
    assert(names.distinct.size === 440)
    assert(SparkEntry.declared.forall(_.oracle.trim.nonEmpty))
    val q = SparkEntry.declared.head
    val e = intercept[IllegalArgumentException](
      SparkEntry.register(Seq(q, SparkEntry.declared(1), q.copy(oracle = "SELECT 1"))))
    assert(e.getMessage.contains(q.name))
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001 with deterministic schema") {
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0)
      assert(df.columns.distinct.length === df.columns.length, "duplicate column names break the oracle compare")
      // Scalar-outputs-only rule (the q149/q142/q170/q180 lesson): the
      // driver lexsorts the result frame before hashing, and pandas cannot
      // sort array/map/struct cells — any nested output type errs in the
      // correctness gate. Declared queries must array_join/to_json nested
      // values into scalars in the final projection.
      val nested = df.schema.fields.filter(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => true
        case _ => false
      })
      assert(nested.isEmpty,
        s"declared output must be scalar-only (driver hash safety); nested columns: ${nested.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}")
      // No-decimal-outputs rule (the q308 lesson): the driver's hash
      // canonicalization diverges on decimal-typed cells (Decimal object
      // vs numeric rendering) even when values are identical on both
      // engines. Decimal arithmetic INSIDE a query is fine and often
      // required (the q197/q203 2^63 promotions); the final projection
      // must cast sums to BIGINT (exact to 9.2e18) or render as string.
      val decimals = df.schema.fields.filter(_.dataType.isInstanceOf[DecimalType])
      assert(decimals.isEmpty,
        s"declared output must not carry DECIMAL columns (driver hash safety — cast to BIGINT or string): ${decimals.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}")
    }
  }
}
