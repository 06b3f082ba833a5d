package graft.functions

import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Native top-k aggregate: `top_k_by_score(score, id, k)` keeps the k best
  * (score, id) pairs per group in a bounded heap and returns them as an
  * array<struct<score,id>> sorted best-first.
  *
  * Why an aggregate and not a window: the window formulation
  * (`row_number() over (partition by g order by score desc) <= k`) SORTS
  * every group's full row set after a full-width shuffle. This aggregate is
  * map-side combinable — each partition reduces a group's rows to at most k
  * pairs BEFORE the shuffle, so the exchange carries k·|groups| tuples no
  * matter how many rows feed it. That is the difference between shuffling
  * 100 TB and shuffling kilobytes for a top-k-per-key at scale.
  *
  * Ordering is total and deterministic: higher score wins; equal scores
  * break toward the SMALLER id (mirrors `ORDER BY score DESC, id` oracles).
  * Null scores/ids are skipped. */
final case class TopKByScore(scoreExpr: Expression, idExpr: Expression,
                             kExpr: Expression,
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  private lazy val k: Int = {
    val v = kExpr.eval(InternalRow.empty)
    require(v != null, "top_k_by_score: k must be a literal")
    val n = v.asInstanceOf[Number].intValue()
    require(n > 0, s"top_k_by_score: k must be positive, got $n")
    n
  }

  // "worst pair first" ordering so the PriorityQueue's head (max under this
  // ordering) is the eviction candidate: worse = lower score, then larger id
  private val worstFirst: Ordering[(Double, Long)] =
    Ordering.fromLessThan { (a, b) =>
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](worstFirst)

  override def update(buf: mutable.PriorityQueue[(Double, Long)],
                      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val s = scoreExpr.eval(input)
    val i = idExpr.eval(input)
    if (s != null && i != null) {
      val pair = (s.asInstanceOf[Double], i.asInstanceOf[Long])
      if (buf.size < k) buf.enqueue(pair)
      else if (worstFirst.lt(pair, buf.head)) { buf.dequeue(); buf.enqueue(pair) }
    }
    buf
  }

  override def merge(buf: mutable.PriorityQueue[(Double, Long)],
                     other: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    other.foreach { pair =>
      if (buf.size < k) buf.enqueue(pair)
      else if (worstFirst.lt(pair, buf.head)) { buf.dequeue(); buf.enqueue(pair) }
    }
    buf
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    // under worstFirst, "less" = better, so ascending sort IS best-first
    val best = buf.toArray.sorted(worstFirst)
    new GenericArrayData(best.map { case (s, i) => InternalRow(s, i) }.toArray[Any])
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.enqueue((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr, kExpr)
  override def checkInputDataTypes(): TypeCheckResult =
    (scoreExpr.dataType, idExpr.dataType, kExpr.dataType) match {
      case (DoubleType, LongType, IntegerType) if kExpr.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (s, i, kt) => TypeCheckResult.TypeCheckFailure(
        s"top_k_by_score expects (double, bigint, int literal), got ($s, $i, $kt)")
    }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "top_k_by_score"

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1), kExpr = newChildren(2))
}

object TopKByScore {
  /** Column-API entry point: `topK(col("score"), col("id"), 3)`. */
  def topK(score: Column, id: Column, k: Int): Column =
    Bridge.column(TopKByScore(Bridge.expression(score), Bridge.expression(id),
      Bridge.expression(org.apache.spark.sql.functions.lit(k)))
      .toAggregateExpression())
}
