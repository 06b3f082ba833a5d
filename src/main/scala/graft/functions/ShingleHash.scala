package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-3-shingle hasher: one pass over the UTF-8 bytes emits the
  * 64-bit hash of every 3-word shingle as `array<long>`.
  *
  * Why native: the Column formulation
  * (`split` → `transform(xxhash64)` → `transform(sequence, combine)`)
  * allocates three arrays per document (words, word hashes, shingle
  * hashes) and boxes every element; this is the scan-side hot loop of the
  * whole Jaccard dedup family (q32/q59/q62/q102/q108), which hashes every
  * shingle of every document. Here it is one registerized pass: split on
  * the space byte (0x20 never occurs inside a UTF-8 multibyte sequence, so
  * byte-level splitting is exact for all inputs), FNV-1a per word,
  * hash-combine + splitmix64 finalize per shingle — a single long[] is the
  * only allocation.
  *
  * Word semantics match `split(text, ' ')` with Spark's default limit:
  * every space starts a new segment and empty segments (adjacent /
  * leading / trailing spaces) count as words. Fewer than 3 words → empty
  * array (explode then yields no rows, replacing the old size>=3 filter).
  *
  * The hash VALUES are internal — only doc-level pair counts ever surface,
  * so the oracle compares results, not hashes; any well-distributed 64-bit
  * hash is parity-safe (collisions ~n²/2⁶⁴, negligible both engines). */
final case class ShingleHashExpr(child: Expression,
                                 distinct: Boolean = false)
  extends StringKernelExpr {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String =
    if (distinct) "shingle_hashes_distinct" else "shingle_hashes"

  override def kernel(s: UTF8String): Any = {
    val hs = ShingleHashExpr.shingles(s)
    ArrayData.toArrayData(if (distinct) ShingleHashExpr.distinctSorted(hs) else hs)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashExpr =
    copy(child = newChild)
}

object ShingleHashExpr {
  private final val FnvInit = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L
  private final val Golden = 0x9e3779b97f4a7c15L

  private def shingles(s: UTF8String): Array[Long] = {
    val nb = s.numBytes
    var words = 1
    var i = 0
    while (i < nb) { if (s.getByte(i) == 0x20) words += 1; i += 1 }
    if (words < 3) return Array.emptyLongArray
    val wh = new Array[Long](words)
    var w = 0
    var h = FnvInit
    i = 0
    while (i < nb) {
      val b = s.getByte(i)
      if (b == 0x20) { wh(w) = h; w += 1; h = FnvInit }
      else h = (h ^ (b & 0xffL)) * FnvPrime
      i += 1
    }
    wh(w) = h
    val out = new Array[Long](words - 2)
    var k = 0
    while (k < words - 2) {
      var x = wh(k)
      x ^= wh(k + 1) + Golden + (x << 12) + (x >>> 4)
      x ^= wh(k + 2) + Golden + (x << 12) + (x >>> 4)
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      out(k) = x ^ (x >>> 31)
      k += 1
    }
    out
  }

  /** Per-document dedup of [[shingles]] (SET semantics): sort + compact
    * the hash array in place — O(k log k) on a few hundred longs per row.
    * This is the Jaccard family's distinct-(doc_id, shingle) step executed
    * AT THE SCAN, so the pipeline never pays a cluster-wide `distinct()`
    * shuffle of the raw exploded shingles (at 100 TB that shuffle is the
    * single biggest movement of the dedup pipeline; per-row dedup is free
    * parallelism). Output order is sorted, which downstream aggregation
    * does not observe. */
  private def distinctSorted(raw: Array[Long]): Array[Long] = {
    if (raw.length < 2) return raw
    java.util.Arrays.sort(raw)
    var n = 1
    var k = 1
    while (k < raw.length) {
      if (raw(k) != raw(n - 1)) { raw(n) = raw(k); n += 1 }
      k += 1
    }
    if (n == raw.length) raw else java.util.Arrays.copyOf(raw, n)
  }
}

object ShingleHash {
  /** Column-API entry point: `array<long>` of word-3-gram hashes. */
  def of(c: Column): Column =
    Bridge.column(ShingleHashExpr(Bridge.expression(c)))

  /** Column-API entry point: DISTINCT word-3-gram hashes per document —
    * use when downstream treats shingles as a set (Jaccard), saving the
    * post-explode distinct shuffle. */
  def distinctOf(c: Column): Column =
    Bridge.column(ShingleHashExpr(Bridge.expression(c), distinct = true))
}
