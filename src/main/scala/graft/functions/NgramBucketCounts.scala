package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native hashed-feature bucket counter (r19): the DSIR per-document
  * feature vector — for every word n-gram of `split(text, ' ')`, bucket
  * `portable_ngram_hash % buckets` and count occurrences — in one
  * projection, emitted as `array<struct<b, c>>` of the nonempty buckets in
  * ascending bucket order.
  *
  * Why: the composed form (`explode(portable_ngram_hashes) → pmod →
  * groupBy(doc_id, …, b).count()`) pays one row per n-gram INSTANCE and
  * a corpus exchange to compute what is a row-local function of the
  * text. With the kernel, the per-doc feature rows come out of the scan
  * already aggregated — the marginals aggregation downstream is
  * map-side-combinable over ≤`buckets` rows per document, and the DSIR
  * score join keys on the same rows. Consumers: q143/q150's
  * [[graft.queries.SelectionOps.dsirScores]].
  *
  * Bit-identical to the composed form: the n-gram hashes are
  * [[TextKernel.ngramHashes]], as in [[PortableNgramHashExpr]]; the hash
  * is nonnegative (< 2³¹) so `% buckets` equals `pmod`; counts are exact;
  * a document with fewer than n words returns an EMPTY array (the
  * composed explode emitted no rows). Emission order (ascending bucket) is
  * not observable — every consumer aggregates or joins on the bucket. */
final case class NgramBucketCountsExpr(child: Expression, n: Int, buckets: Int)
  extends StringKernelExpr {

  require(n >= 1 && buckets >= 1 && buckets <= (1 << 20),
    s"ngram_bucket_counts: bad parameters n=$n buckets=$buckets")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "ngram_bucket_counts"

  override def kernel(s: UTF8String): Any = {
    val hs = TextKernel.ngramHashes(TextKernel.codes(s), n)
    val cnt = new Array[Long](buckets)
    var nonEmpty = 0
    var i = 0
    while (i < hs.length) {
      val b = (hs(i) % buckets).toInt
      if (cnt(b) == 0) nonEmpty += 1
      cnt(b) += 1L
      i += 1
    }
    val out = new Array[Any](nonEmpty)
    var j = 0
    i = 0
    while (i < buckets) {
      if (cnt(i) != 0) {
        val row = new GenericInternalRow(2)
        row.setLong(0, i.toLong); row.setLong(1, cnt(i))
        out(j) = row; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NgramBucketCountsExpr =
    copy(child = newChild)
}

object NgramBucketCounts {
  /** Column-API entry point: nonempty (bucket, count) pairs, empty for a
    * document with fewer than n words. */
  def of(c: Column, n: Int, buckets: Int): Column =
    Bridge.column(NgramBucketCountsExpr(Bridge.expression(c), n, buckets))
}
