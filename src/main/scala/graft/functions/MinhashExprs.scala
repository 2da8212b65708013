package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.TextOps

/** Compiled MinHash-LSH key kernel: token digests → shingle digests →
  * MinHash signature → LSH band keys, the per-row hot loop of the dedup
  * pipeline (q41/q76/q174/...).
  *
  * Each expression is one primitive loop over the row's array, shared by
  * the interpreted and the generated path (the [[QuantizeInt8]] shape):
  * codegen calls the same static kernel, so the projection stays inside
  * whole-stage codegen. The `transform`/`aggregate` chains these replace
  * are `CodegenFallback` and interpreted per element with a lambda frame;
  * measured at sf0.01 on 4 cores (500 docs, 27,165 tokens) the chain built
  * in 86–154 ms, planned in 27–60 ms and ran as one 531–808 ms task.
  *
  * Results, types and nulls are bit-identical to those chains (kept in the
  * tests as the reference): a null token digests to null, a shingle or a
  * band entry touching a null is null or skipped exactly as there, and a
  * null input array gives what the chain gives under either ANSI setting.
  */
object MinhashKernel {
  private val P = TextOps.MinhashPrime
  private val A = TextOps.MinhashA.toArray
  private val B = TextOps.MinhashB.toArray
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** 40-bit digest of one token: the first 5 bytes of its UTF-8 md5, i.e.
    * the first 10 hex characters read as an integer. */
  private def digest40(s: UTF8String): Long = {
    val d = md5.get.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 5) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def tokenDigests(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) out.setNullAt(i) else out.setLong(i, digest40(toks.getUTF8String(i)))
      i += 1
    }
    out
  }

  /** k-token shingle digests (k = 2 or 3): (h1*C1 + h2) or
    * (h1*C1 + h2*C2 + h3), mod P; a null token nulls every shingle it is in.
    * A null array or one shorter than k yields an empty array. */
  def shingles(td: ArrayData, k: Int): ArrayData = {
    val m = if (td == null) 0 else math.max(td.numElements() - k + 1, 0)
    val out = UnsafeArrayData.createFreshArray(m, 8)
    var i = 0
    while (i < m) {
      var anyNull = false
      var j = 0
      while (j < k) { if (td.isNullAt(i + j)) anyNull = true; j += 1 }
      if (anyNull) out.setNullAt(i)
      else {
        val h =
          if (k == 3) td.getLong(i) * TextOps.ShingleC1 + td.getLong(i + 1) * TextOps.ShingleC2 +
            td.getLong(i + 2)
          else td.getLong(i) * TextOps.ShingleC1 + td.getLong(i + 1)
        out.setLong(i, h % P)
      }
      i += 1
    }
    out
  }

  /** Entry j is min((A_j*h + B_j) mod P) over the non-null digests h, null
    * when there are none (also for a null array). */
  def signature(hs: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    val n = if (hs == null) 0 else hs.numElements()
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        seen = true
        val h = hs.getLong(i)
        var j = 0
        while (j < numHashes) {
          val v = (A(j) * h + B(j)) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    val out = UnsafeArrayData.createFreshArray(numHashes, 8)
    var j = 0
    while (j < numHashes) {
      if (seen) out.setLong(j, mins(j)) else out.setNullAt(j)
      j += 1
    }
    out
  }

  /** Band b's key is the lowercase hex md5 of its `rowsPerBand` signature
    * entries in decimal, comma-joined, nulls skipped (`concat_ws`); entries
    * past the end of the signature count as null. */
  def bands(sig: ArrayData, numBands: Int, rowsPerBand: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Any](numBands)
    val sb = new java.lang.StringBuilder
    var b = 0
    while (b < numBands) {
      sb.setLength(0)
      var first = true
      var r = 0
      while (r < rowsPerBand) {
        val i = b * rowsPerBand + r
        if (i < n && !sig.isNullAt(i)) {
          if (!first) sb.append(',')
          sb.append(sig.getLong(i))
          first = false
        }
        r += 1
      }
      out(b) = new GenericInternalRow(Array[Any](b, hex(md5.get.digest(sb.toString.getBytes(UTF_8)))))
      b += 1
    }
    new GenericArrayData(out)
  }

  private val HexDigits = "0123456789abcdef".getBytes(UTF_8)

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** A kernel expression over one array input: `kernelJava` names the static
  * [[MinhashKernel]] call for both paths. */
abstract class MinhashKernelExpr extends UnaryExpression with ExpectsInputTypes {
  protected def kernel(x: ArrayData): ArrayData
  protected def kernelJava(x: String): String
  protected def call(method: String, x: String, args: Int*): String =
    (x +: args.map(_.toString)).mkString(s"graft.functions.MinhashKernel.$method(", ", ", ")")

  override protected def nullSafeEval(v: Any): Any = kernel(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, kernelJava)
}

/** A kernel that maps a null input to a non-null result, as the chain it
  * replaces does: the kernel receives null. */
abstract class TotalMinhashKernelExpr extends MinhashKernelExpr {
  override def eval(input: InternalRow): Any = kernel(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = ${kernelJava(s"(${c.isNull} ? null : ${c.value})")};
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** `array<string>` tokens → `array<bigint>` 40-bit digests. */
case class TokenDigests(child: Expression) extends MinhashKernelExpr {
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_token_digests"
  override protected def kernel(x: ArrayData): ArrayData = MinhashKernel.tokenDigests(x)
  override protected def kernelJava(x: String): String = call("tokenDigests", x)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `array<bigint>` token digests → `array<bigint>` k-token shingle digests.
  * Never null, but declared nullable like the `when(size(...))` chain. */
case class ShingleDigests(child: Expression, k: Int) extends TotalMinhashKernelExpr {
  require(k == 2 || k == 3, s"shingle width $k: only 2 and 3 have constants")
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = s"graft_shingle${k}_digests"
  override protected def kernel(x: ArrayData): ArrayData = MinhashKernel.shingles(x, k)
  override protected def kernelJava(x: String): String = call("shingles", x, k)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `array<bigint>` shingle digests → `array<bigint>` of `numHashes` mins. */
case class MinhashSignature(child: Expression, numHashes: Int) extends TotalMinhashKernelExpr {
  require(numHashes >= 0 && numHashes <= TextOps.MinhashA.size,
    s"$numHashes hash functions: the family has ${TextOps.MinhashA.size}")
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_signature"
  override protected def kernel(x: ArrayData): ArrayData = MinhashKernel.signature(x, numHashes)
  override protected def kernelJava(x: String): String = call("signature", x, numHashes)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `array<bigint>` signature → `array<struct<band:int, bkey:string>>`. */
case class LshBands(child: Expression, numBands: Int, rowsPerBand: Int)
    extends TotalMinhashKernelExpr {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bkey", StringType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_lsh_bands"
  override protected def kernel(x: ArrayData): ArrayData =
    MinhashKernel.bands(x, numBands, rowsPerBand)
  override protected def kernelJava(x: String): String = call("bands", x, numBands, rowsPerBand)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
