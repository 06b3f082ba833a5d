package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The text-kernel core: the only code that reads a string's hash codes,
  * weighs positions, finds the `split(text, ' ')` words and hashes a code
  * range with the cross-engine portable hash
  * ([[graft.queries.Parity.strHash]]):
  *
  *   h(s) = ( Σ_{i=1..len} code(s_i) · ((1103515245·i + 12345) mod M) ) mod M,
  *   M = 2³¹−1
  *
  * `code` is the char-at-i value: what `ascii(substr(s, i, 1))` returns
  * for BMP strings and what DuckDB's `ord(s[i])` computes for ASCII. Every
  * portable-hash kernel (portable_hash, portable_ngram_hashes, minhash_sig,
  * ngram_bucket_counts, simhash16, chargram3_hashes, winnow_fingerprints)
  * is a short loop over [[codes]], [[words]], [[hash]] and
  * [[windowHashes]]. */
object TextKernel {
  private final val M = 2147483647L

  /** The portable hash's weight of 1-based position `pos`. */
  private def weight(pos: Long): Long = (1103515245L * pos + 12345L) % M

  // weights of positions 1..256, enough for the words, n-grams and windows
  // the kernels hash; a longer range computes the rest
  private val Weights: Array[Long] = Array.tabulate(256)(i => weight(i + 1L))

  /** The hash codes of `s`: its bytes when one scan finds them all ASCII,
    * else its UTF-16 chars (the two agree on ASCII text). */
  def codes(s: UTF8String): Array[Char] = {
    val nb = s.numBytes
    var i = 0
    while (i < nb) {
      if (s.getByte(i) < 0) return s.toString.toCharArray
      i += 1
    }
    val out = new Array[Char](nb)
    i = 0
    while (i < nb) { out(i) = s.getByte(i).toChar; i += 1 }
    out
  }

  /** Portable hash of the codes `[from, until)`, positions counted from 1.
    * Each term is below 2¹⁶·2³¹ = 2⁴⁷, so a range of at most 256 codes
    * sums below 2⁵⁵ and is reduced once; a longer one is reduced after
    * every term. Either way the residue is the definition's. */
  def hash(c: Array[Char], from: Int, until: Int): Long = {
    var acc = 0L
    var i = from
    if (until - from <= Weights.length) {
      while (i < until) { acc += c(i) * Weights(i - from); i += 1 }
      acc % M
    } else {
      while (i < until) { acc = (acc + c(i) * weight(i - from + 1L)) % M; i += 1 }
      acc
    }
  }

  /** [[hash]] of every window of `width` consecutive codes, in order. */
  def windowHashes(c: Array[Char], width: Int): Array[Long] = {
    require(width <= Weights.length, s"window width $width > ${Weights.length}")
    val out = new Array[Long](math.max(c.length - width + 1, 0))
    var j = 0
    while (j < out.length) {
      var acc = 0L
      var p = 0
      while (p < width) { acc += c(j + p) * Weights(p); p += 1 }
      out(j) = acc % M
      j += 1
    }
    out
  }

  /** Word boundaries of `split(text, ' ')`, in one scan: every 0x20 starts
    * a new word and empty words count, so there is one word more than
    * spaces. Word k is `[b(k), b(k + 1) - 1)`; `b` has one entry more than
    * there are words, the last being `c.length + 1`. */
  def words(c: Array[Char]): Array[Int] = {
    var b = new Array[Int](16)
    var k = 1
    var i = 0
    while (i < c.length) {
      if (c(i) == ' ') {
        if (k + 1 == b.length) b = java.util.Arrays.copyOf(b, 2 * b.length)
        b(k) = i + 1
        k += 1
      }
      i += 1
    }
    b(k) = c.length + 1
    java.util.Arrays.copyOf(b, k + 1)
  }

  /** Portable hash of every n consecutive words joined by one space, which
    * is the text's own substring from the first word's start to the last
    * word's end. Empty when there are fewer than n words. */
  def ngramHashes(c: Array[Char], n: Int): Array[Long] = {
    val b = words(c)
    val grams = b.length - n
    if (grams <= 0) return Array.emptyLongArray
    val out = new Array[Long](grams)
    var k = 0
    while (k < grams) { out(k) = hash(c, b(k), b(k + n) - 1); k += 1 }
    out
  }
}

/** Base of the native string kernels: a null-intolerant function of one
  * string, which the interpreted path and generated code both evaluate
  * through [[kernel]]. A kernel supplies its `prettyName`, its `dataType`
  * and [[kernel]]. */
abstract class StringKernelExpr extends UnaryExpression {

  /** The kernel's value for one non-null input. */
  def kernel(s: UTF8String): Any

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName expects string, got $t")
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this)
    defineCodeGen(ctx, ev, c => s"(${CodeGenerator.boxedType(dataType)}) $self.kernel($c)")
  }
}
