package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the cross-engine token hash
  * ([[graft.queries.Parity.strHash]]), defined in [[TextKernel]].
  *
  * Why native: the Column formulation (`aggregate(sequence(1, length(s)),
  * …, ascii(substr(s, i, 1)))`) allocates an index array per row and makes
  * `substr` re-scan the string per character — O(len²) work per token. The
  * dedup/fingerprint family (q33/q34/q40) hashes every shingle of every
  * document, so this loop IS their hot path. Here it is one registerized
  * O(len) pass inside whole-stage codegen, bit-identical to the Column
  * form. */
final case class PortableHashExpr(child: Expression) extends StringKernelExpr {
  override def dataType: DataType = LongType
  override def prettyName: String = "portable_hash"

  override def kernel(s: UTF8String): Any = {
    val c = TextKernel.codes(s)
    TextKernel.hash(c, 0, c.length)
  }

  override protected def withNewChildInternal(newChild: Expression): PortableHashExpr =
    copy(child = newChild)
}

object PortableHash {
  /** Column-API entry point. */
  def hash(c: Column): Column =
    Bridge.column(PortableHashExpr(Bridge.expression(c)))
}
