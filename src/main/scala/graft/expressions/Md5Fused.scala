package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared per-task MD5 machinery for the fused digest expressions below.
  *
  * The un-fused forms evaluated, PER TOKEN, an interpreted `transform`
  * lambda chain of md5 (hex-string alloc) → substring (slice alloc) →
  * conv (per-char radix parse) — three UTF8String allocations and two
  * interpreted HOF dispatches per token per word, which profiling showed
  * dominating the signature stages (optimization guide §1/§4: eliminate
  * non-codegen expression chains in the hot path). The fused expressions
  * compute the SAME values straight from the digest bytes: hex chars
  * [2i, 2i+1] of md5's output are exactly byte i, so
  * `conv(substring(hex, 8c+1, 8), 16, 10)` == big-endian unsigned int of
  * bytes [4c, 4c+4) and `conv(substring(hex, 4c+1, 4), 16, 10)` ==
  * big-endian unsigned short of bytes [2c, 2c+2). Equivalence to the
  * un-fused pipelines is pinned in DedupSpec / TextFunctionsSpec, null
  * elements included.
  *
  * One deliberate divergence: a NULL input array gives a NULL signature
  * (Spark's null-intolerant unary rule), where the minhash HOF forms give
  * a non-null array of `numHashes` nulls (`transform(null)` feeds each
  * `array_min` a null inside a non-null `array(...)`). A document with
  * no tokens has no signature; `numHashes` null entries would instead
  * hash to the same band key for every such document, making them all
  * LSH candidates of each other. DedupSpec pins both sides. */
object Md5Fused {
  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Big-endian unsigned 32-bit word c (0 or 1) of the digest. */
  @inline private def word32(d: Array[Byte], c: Int): Long = {
    val o = c * 4
    (((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
      ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL))
  }

  /** 64-bit simhash over the tokens' md5 words: votes over bits 0-31 of
    * digest words 0 (lo) and 1 (hi); null tokens vote like a zero hash
    * (the [[SimhashWord]] null rule). Returns (sh_lo, sh_hi). */
  def simhashSig(a: ArrayData): InternalRow = {
    val md = mdLocal.get()
    val n = a.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      var lo = 0L
      var hi = 0L
      if (!a.isNullAt(i)) {
        md.reset()
        val d = md.digest(a.getUTF8String(i).getBytes)
        lo = word32(d, 0)
        hi = word32(d, 1)
      }
      var j = 0
      while (j < 32) {
        if (((lo >>> j) & 1L) != 0L) votes(j) += 1 else votes(j) -= 1
        if (((hi >>> j) & 1L) != 0L) votes(32 + j) += 1 else votes(32 + j) -= 1
        j += 1
      }
      i += 1
    }
    var shLo = 0L
    var shHi = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) >= 0) shLo |= (1L << j)
      if (votes(32 + j) >= 0) shHi |= (1L << j)
      j += 1
    }
    new GenericInternalRow(Array[Any](shLo, shHi))
  }

  /** MinHash over md5 chunk hashes: for seed s in [0, numHashes/8), hash
    * every element as md5("s:" || e) and take, per 16-bit chunk c in
    * [0, 8), the minimum big-endian unsigned short of digest bytes
    * [2c, 2c+2) — value-identical to
    * [[graft.functions.TextFunctions.minhashSignatureMd5Chunked]]'s
    * `array_min(transform(digests, conv(substring(d, 4c+1, 4), 16, 10)))`.
    * Null elements are skipped (array_min's null rule); an empty or
    * all-null input yields all-null entries, as array_min over an empty
    * transform does. */
  def minhashMd5Chunked(a: ArrayData, numHashes: Int): ArrayData = {
    val md = mdLocal.get()
    val nSeeds = numHashes / 8
    val n = a.numElements()
    val out = new Array[Any](numHashes)
    var s = 0
    while (s < nSeeds) {
      val prefix = UTF8String.fromString(s + ":").getBytes
      val mins = new Array[Long](8)
      java.util.Arrays.fill(mins, Long.MaxValue)
      var any = false
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          any = true
          md.reset()
          md.update(prefix)
          val d = md.digest(a.getUTF8String(i).getBytes)
          var c = 0
          while (c < 8) {
            val v = (((d(2 * c) & 0xffL) << 8) | (d(2 * c + 1) & 0xffL))
            if (v < mins(c)) mins(c) = v
            c += 1
          }
        }
        i += 1
      }
      var c = 0
      while (c < 8) {
        out(s * 8 + c) = if (any) mins(c) else null
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused two-level xxhash64 MinHash: array<string> elements →
  * array<bigint> of `numHashes` values — value-identical to
  * [[graft.functions.TextFunctions.minhashSignatureXx]]'s
  * `array_min(transform(xxhash64(e), h => xxhash64(lit(i), h)))`
  * pipeline (per element ONE string hash, then k long re-hashes through
  * Spark's own XXH64 statics; a null element hashes like the XxHash64
  * expression's skipped-null, i.e. the base hash stays at the seed). A
  * NULL array gives NULL, the one divergence (see [[Md5Fused]]). */
case class MinhashXx(child: Expression, numHashes: Int)
    extends UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_xx"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return new GenericArrayData(Array.fill[Any](numHashes)(null))
    // per-seed first-level constants: xxhash64(lit(i), h) folds the int
    // literal first — hashLong(h, hashInt(i, 42))
    val seedOf = Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      // XxHash64 skips null children: base hash stays at the seed
      val b =
        if (a.isNullAt(i)) 42L
        else {
          val s = a.getUTF8String(i)
          XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
            s.numBytes, 42L)
        }
      var k = 0
      while (k < numHashes) {
        val v = XXH64.hashLong(b, seedOf(k))
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(Long.box(_): Any))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val expr = ctx.addReferenceObj("minhashXx", this,
      classOf[MinhashXx].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)" +
        s" $expr.nullSafeEval($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashXx =
    copy(child = newChild)
}

/** Fused 64-bit SimHash signature: array<string> tokens →
  * struct<sh_lo: bigint, sh_hi: bigint>, one MD5 per token, no hex
  * strings — value-identical to the md5/conv/substring +
  * [[SimhashWord]] pipeline (see [[Md5Fused]]). */
case class SimhashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("sh_lo", LongType, nullable = false),
    StructField("sh_hi", LongType, nullable = false)))
  override def prettyName: String = "graft_simhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    Md5Fused.simhashSig(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.Md5Fused.simhashSig($c);")

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

/** Fused md5-chunked MinHash signature: array<string> elements →
  * array<bigint> of `numHashes` 16-bit minhash values — value-identical
  * to [[graft.functions.TextFunctions.minhashSignatureMd5ChunkedHof]]
  * except on a NULL array (see [[Md5Fused]]). */
case class MinhashMd5Chunked(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes % 8 == 0, s"numHashes=$numHashes must be a multiple of 8")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_md5_chunked"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    Md5Fused.minhashMd5Chunked(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.Md5Fused.minhashMd5Chunked($c, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinhashMd5Chunked =
    copy(child = newChild)
}
