package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native md5-sketch kernels for the recipe-eval queries
  * (q_llm_minhash_eval / q_llm_simhash_eval): ONE pass over a document's
  * gram array computing every permutation/bit at once, replacing the
  * explode + groupBy + 32/60 separate codegen'd md5-expression
  * aggregates. The md5 stream, prefix widths and min/sign rules are
  * BIT-IDENTICAL to the Column formulations they replace (pinned in
  * Md5SketchSpec); the DuckDB oracles replay the same sketches
  * independently. Shared plumbing: one thread-local MessageDigest, gram
  * bytes encoded once per gram (the Column form re-encoded the gram for
  * every one of the 32 concat+md5 expressions and allocated a 32-hex
  * string per hash). */
private[expressions] object Md5Sketch {
  val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val HexChars = "0123456789abcdef".getBytes("US-ASCII")

  /** First 16 hex chars (8 bytes) of the digest as an ASCII UTF8String. */
  def hex16(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** All-perms md5 MinHash signature over a gram array: element p =
  * min over grams of substring(md5(concat(gram, '|p')), 1, 16) — the
  * exact q_llm_minhash_eval aggregate, computed row-locally. The min is
  * tracked on the raw 8-byte prefixes compared UNSIGNED (hex encoding
  * is monotonic in unsigned byte order, so this equals the string min).
  * Empty or null gram arrays yield NULL — callers filter, matching the
  * explode's drop of gramless docs. Null grams are skipped (aggregate
  * min semantics). */
case class MinhashMd5Sig(child: Expression, perms: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_md5_sig requires array<string>, got $other")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_md5_sig"

  override def nullSafeEval(input: Any): Any =
    MinhashMd5Sig.compute(input.asInstanceOf[ArrayData], perms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expressions.MinhashMd5Sig.compute($c, $perms);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinhashMd5Sig =
    copy(child = newChild)
}

object MinhashMd5Sig {
  // "|p" suffixes, precomputed for any perms count seen (tiny).
  private val seps = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def sepsFor(perms: Int): Array[Array[Byte]] =
    seps.computeIfAbsent(perms,
      p => Array.tabulate(p)(i => s"|$i".getBytes("UTF-8")))

  /** Returns null for an empty array (the explode-drop contract). */
  def compute(arr: ArrayData, perms: Int): ArrayData = {
    val n = arr.numElements()
    val sep = sepsFor(perms)
    val mins = new Array[Array[Byte]](perms)
    val md = Md5Sketch.digest.get()
    var g = 0
    var any = false
    while (g < n) {
      if (!arr.isNullAt(g)) {
        any = true
        val bytes = arr.getUTF8String(g).getBytes
        var p = 0
        while (p < perms) {
          md.reset()
          md.update(bytes)
          md.update(sep(p))
          val d = md.digest()
          val cur = mins(p)
          if (cur == null || unsignedLess8(d, cur)) {
            val keep = new Array[Byte](8)
            System.arraycopy(d, 0, keep, 0, 8)
            mins(p) = keep
          }
          p += 1
        }
      }
      g += 1
    }
    if (!any) return null
    new GenericArrayData(mins.map(Md5Sketch.hex16))
  }

  private def unsignedLess8(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 8) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    false
  }
}

/** md5 SimHash fingerprint over a gram array: per gram h = the first 15
  * hex chars of md5(gram) as a 60-bit integer; bit b of the output is 1
  * when Σ_grams (±1 by bit b of h) is positive — the exact
  * q_llm_simhash_eval aggregate, computed row-locally. Empty/null
  * arrays yield NULL (explode-drop contract); null grams are skipped. */
case class SimhashMd5Fp(child: Expression, bits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _ if bits < 1 || bits > 60 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_md5_fp supports 1 to 60 bits, got $bits")
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_md5_fp requires array<string>, got $other")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_md5_fp"

  override def nullSafeEval(input: Any): Any = {
    val v = SimhashMd5Fp.compute(input.asInstanceOf[ArrayData], bits)
    if (v == java.lang.Long.MIN_VALUE) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expressions.SimhashMd5Fp.compute($c, $bits);
         |if (${ev.value} == java.lang.Long.MIN_VALUE) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashMd5Fp =
    copy(child = newChild)
}

object SimhashMd5Fp {
  /** Long.MinValue encodes "no grams" (never a legal fingerprint: bits
    * ≤ 63 and bit 63 is only set when some gram voted, in which case
    * the value differs from MinValue by the lower bits... bits here is
    * ≤ 60, so fingerprints are non-negative and MinValue is safely out
    * of range). */
  def compute(arr: ArrayData, bits: Int): Long = {
    val n = arr.numElements()
    val sums = new Array[Int](bits)
    val md = Md5Sketch.digest.get()
    var any = false
    var g = 0
    while (g < n) {
      if (!arr.isNullAt(g)) {
        any = true
        val d = md5Of(md, arr.getUTF8String(g).getBytes)
        // First 15 hex chars = the top 60 bits of the big-endian first
        // 8 bytes, i.e. BE64 >>> 4 — identical to
        // conv(substring(md5(g), 1, 15), 16, 10).
        var be = 0L
        var i = 0
        while (i < 8) { be = (be << 8) | (d(i) & 0xffL); i += 1 }
        val h = be >>> 4
        var b = 0
        while (b < bits) {
          sums(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      g += 1
    }
    if (!any) return java.lang.Long.MIN_VALUE
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (sums(b) > 0) fp += (1L << b)
      b += 1
    }
    fp
  }

  private def md5Of(md: java.security.MessageDigest,
                    bytes: Array[Byte]): Array[Byte] = {
    md.reset()
    md.update(bytes)
    md.digest()
  }
}
