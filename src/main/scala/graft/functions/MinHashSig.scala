package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native K-permutation MinHash signature over word n-grams (r19): the
  * whole per-document signature — portable n-gram hashes
  * ([[TextKernel.ngramHashes]], bit-identical to [[PortableNgramHashExpr]])
  * fed through the affine permutation family `(a_k·h + b_k) mod p`,
  * tracking the K minima — in one projection.
  *
  * Why: the composed form
  * (`explode(portable_ngram_hashes(text)) → groupBy(doc_id).agg(K min
  * buffers)`) emits one row per n-gram instance and pays a doc_id
  * exchange for a purely row-local function of the text. The kernel
  * turns the signature front of setup_mh12 / q33 / q115 / q162 into a
  * map-side projection: no explode, no exchange before the band join.
  *
  * Bit-identical to the composed form: each permutation value is
  * `(a_k·h + b_k) % p` in Long arithmetic (h < 2³¹ and the house family's
  * a_k ≤ 590 keep the product far from overflow); duplicate n-grams
  * cannot change a min. A document with fewer than n words returns an
  * EMPTY array — the composed form emits no row for it (explode of an
  * empty array), so callers filter `size(ms) > 0` to reproduce the
  * absence. */
final case class MinHashSigExpr(child: Expression, n: Int,
                                as: Seq[Long], bs: Seq[Long], p: Long)
  extends StringKernelExpr {

  require(n >= 1 && p > 0 && as.nonEmpty && as.length == bs.length,
    s"minhash_sig: bad parameters n=$n p=$p k=${as.length}/${bs.length}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  @transient private lazy val asArr = as.toArray
  @transient private lazy val bsArr = bs.toArray

  override def kernel(s: UTF8String): Any = {
    val hs = TextKernel.ngramHashes(TextKernel.codes(s), n)
    if (hs.isEmpty) return ArrayData.toArrayData(hs)
    val a = asArr
    val b = bsArr
    val mins = Array.fill(a.length)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      var j = 0
      while (j < a.length) {
        val v = (a(j) * hs(i) + b(j)) % p
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSig {
  /** Column-API entry point: the K-minima signature as `array<long>`,
    * empty for a document with fewer than n words (callers filter
    * `size(ms) > 0`). */
  def of(c: Column, n: Int, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    Bridge.column(MinHashSigExpr(Bridge.expression(c), n, as, bs, p))
}
