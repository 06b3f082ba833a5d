package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing fingerprinter (Schleimer et al., the q40 semantics):
  * char 5-gram portable hashes, 4-gram window minima, distinct minima per
  * document, emitted as `array<long>`.
  *
  * Why native: the declarative form explodes one 5-char string per
  * character position, runs [[PortableHashExpr]] per gram, then pays a
  * per-document window sort for the 4-window minimum and a distinct
  * shuffle on (doc, fingerprint). All of that is a strictly local,
  * sequential computation per document — here it is one pass: hash each
  * gram in O(5), slide the 4-window minimum, dedup into a small open set.
  * The downstream plan starts from the fingerprint ARRAY (explode → agg),
  * so the corpus-wide shuffles carry only fingerprints.
  *
  * Bit-parity: gram hash = (strHash(gram) · 2654435761) mod 1000003 with
  * strHash the [[TextKernel.windowHashes]] of the grams (positions restart
  * at 1 per gram). */
final case class WinnowExpr(child: Expression) extends StringKernelExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override def kernel(s: UTF8String): Any = {
    val c = TextKernel.codes(s)
    if (c.length < 8) return ArrayData.toArrayData(Array.emptyLongArray)
    val hg = TextKernel.windowHashes(c, 5)
    var g = 0
    while (g < hg.length) { hg(g) = (hg(g) * 2654435761L) % 1000003L; g += 1 }
    // sliding 4-window min + dedup (fingerprint domain is [0, 1000003))
    val seen = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var j = 0
    while (j <= hg.length - 4) {
      var m = hg(j)
      if (hg(j + 1) < m) m = hg(j + 1)
      if (hg(j + 2) < m) m = hg(j + 2)
      if (hg(j + 3) < m) m = hg(j + 3)
      if (seen.add(m)) out += m
      j += 1
    }
    ArrayData.toArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowExpr =
    copy(child = newChild)
}

object Winnow {
  /** Column-API entry point: distinct winnowing fingerprints per string. */
  def of(c: Column): Column =
    Bridge.column(WinnowExpr(Bridge.expression(c)))
}
