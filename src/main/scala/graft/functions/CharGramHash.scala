package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native character-3-gram hasher for the language-ID profile (q37): per
  * sliding window of 3 characters, the PORTABLE token hash
  * [[graft.queries.Parity.strHash]] of that trigram
  * ([[TextKernel.windowHashes]]).
  *
  * Why native: the Column form (`transform(sequence, substr)`) allocates a
  * UTF8String per trigram — ~2000 small allocations per document on the
  * scan side of BOTH the train and test branches. Here the scan emits one
  * long[] per document and the downstream join/groupBy key is an 8-byte
  * long instead of a string.
  *
  * Cross-engine: for a fixed length of 3 the positional weights are
  * constants, spelled out in the oracle SQL
  * (`ord(substring(text,i,k))::BIGINT * w_k`), so profiles and tiebreaks
  * (ORDER BY cnt DESC, t) order identically in Spark and DuckDB. */
final case class CharGramHashExpr(child: Expression) extends StringKernelExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "chargram3_hashes"

  override def kernel(s: UTF8String): Any =
    ArrayData.toArrayData(TextKernel.windowHashes(TextKernel.codes(s), 3))

  override protected def withNewChildInternal(newChild: Expression): CharGramHashExpr =
    copy(child = newChild)
}

object CharGramHash {
  /** Column-API entry point: `array<long>` of portable char-3-gram hashes. */
  def of(c: Column): Column =
    Bridge.column(CharGramHashExpr(Bridge.expression(c)))
}
