package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.TextOps
import graft.operators.TextOps.{MinhashA, MinhashB, MinhashPrime, ShingleC1, ShingleC2}

/** The MinHash-LSH key path as Catalyst higher-order functions: the
  * formulation the compiled kernel (graft.functions.MinhashKernel) replaced,
  * and the reference it must match bit for bit. */
object MinhashReference {
  def tokenHashes(toks: Column): Column =
    transform(toks, t => conv(substring(md5(t), 1, 10), 16, 10).cast("long"))

  def shingleHashes3(td: Column): Column =
    when(size(td) >= 3,
      transform(sequence(lit(1), size(td) - 2), i =>
        (element_at(td, i) * lit(ShingleC1)
          + element_at(td, i + 1) * lit(ShingleC2)
          + element_at(td, i + 2)) % lit(MinhashPrime)))
      .otherwise(array().cast("array<bigint>"))

  def shingleHashes2(td: Column): Column =
    when(size(td) >= 2,
      transform(sequence(lit(1), size(td) - 1), i =>
        (element_at(td, i) * lit(ShingleC1)
          + element_at(td, i + 1)) % lit(MinhashPrime)))
      .otherwise(array().cast("array<bigint>"))

  def minhashSignature(hashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map(j =>
      array_min(transform(hashes, h =>
        (lit(MinhashA(j)) * h + lit(MinhashB(j))) % lit(MinhashPrime)))): _*)

  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(
        b.as("band"),
        md5(concat_ws(",", transform(sequence(lit(1), lit(rowsPerBand)), r =>
          element_at(sig, b * rowsPerBand + r).cast("string")))).as("bkey")))
}

class MinhashKernelSpec extends SparkSpec {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  /** Runs `body` once with whole-stage codegen and once fully interpreted. */
  private def bothPaths(body: String => Unit): Unit = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    body("codegen")
    try {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "NO_CODEGEN")
      body("interpreted")
    } finally keys.foreach(spark.conf.unset)
  }

  private val token: Gen[String] = Gen.frequency(
    6 -> Gen.alphaLowerStr.map(_.take(7)),
    1 -> Gen.const(""),
    2 -> Gen.oneOf("ñandú", "日本語", "naïve", "Ωmega", "😀", "straße"),
    1 -> Gen.const(null))

  test("MinHash-LSH kernel matches the higher-order-function chain element for element") {
    val arrays: Gen[Seq[String]] = Gen.frequency(
      1 -> Gen.const(null),
      8 -> Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, token)))
    val fixed: Seq[Seq[String]] = Seq(null, Seq(), Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("", "é", ""), Seq("a", null, "c", "d"), Seq(null, null, null))
    val rows = (fixed ++ samples(arrays, 60)).zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    val schema = StructType(Seq(StructField("id", LongType), StructField("toks", ArrayType(StringType))))
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val pairs: Seq[(String, Column, Column)] = Seq(
      ("th", TextOps.tokenHashes($"toks"), MinhashReference.tokenHashes($"toks")),
      ("hs", TextOps.shingleHashes3($"th"), MinhashReference.shingleHashes3($"th")),
      ("hs2", TextOps.shingleHashes2($"th"), MinhashReference.shingleHashes2($"th")),
      ("sig", TextOps.minhashSignature($"hs", 12), MinhashReference.minhashSignature($"hs", 12)),
      ("bk", TextOps.lshBands($"sig", 4, 3), MinhashReference.lshBands($"sig", 4, 3)))
    bothPaths { mode =>
      // each function sees the native output of the stage before it, so a
      // mismatch names the first function that differs
      val out = pairs.foldLeft(docs) { case (df, (name, native, ref)) =>
        df.withColumn(s"ref_$name", ref).withColumn(name, native)
      }.orderBy($"id")
      val got = out.collect()
      assert(got.length === rows.length)
      for ((name, _, _) <- pairs) {
        assert(out.schema(name) === out.schema(s"ref_$name").copy(name = name), s"$mode $name")
        got.foreach { r =>
          assert(r.getAs[AnyRef](name) === r.getAs[AnyRef](s"ref_$name"),
            s"$mode $name toks=${r.getAs[Seq[String]]("toks")}")
        }
      }
    }
  }

  test("MinHash signature and band keys match the chain on partly-null inputs") {
    val longs: Gen[Seq[java.lang.Long]] = Gen.choose(0, 14).flatMap(n => Gen.listOfN(n,
      Gen.frequency(4 -> Gen.choose(0L, MinhashPrime - 1).map(Long.box),
        1 -> Gen.const(null: java.lang.Long))))
    val rows = (Seq(null, Seq(), Seq.fill(12)(null: java.lang.Long)) ++ samples(longs, 40))
      .zipWithIndex.map { case (a, i) => Row(i.toLong, a) }
    val schema = StructType(Seq(StructField("id", LongType), StructField("a", ArrayType(LongType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    bothPaths { mode =>
      val got = df.select($"a",
          TextOps.minhashSignature($"a", 12), MinhashReference.minhashSignature($"a", 12),
          TextOps.shingleHashes3($"a"), MinhashReference.shingleHashes3($"a"))
        .collect()
      got.foreach(r => assert(r.get(1) === r.get(2) && r.get(3) === r.get(4), s"$mode $r"))
      // band keys read entries 1..12; shorter arrays fail element_at under ANSI
      val full = df.filter(size($"a") >= 12 || $"a".isNull)
        .select($"a", TextOps.lshBands($"a", 4, 3), MinhashReference.lshBands($"a", 4, 3))
        .collect()
      assert(full.nonEmpty)
      full.foreach(r => assert(r.get(1) === r.get(2), s"$mode $r"))
    }
  }
}
