package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram PORTABLE hasher (r18): for every n consecutive words
  * of `split(text, ' ')`, the cross-engine [[graft.queries.Parity.strHash]]
  * of the space-joined n-gram string — without materializing a single
  * n-gram string ([[TextKernel.ngramHashes]]).
  *
  * Where [[ShingleHashExpr]] (any well-distributed hash, values never
  * surface) serves the Jaccard family, THIS kernel serves the paths whose
  * hash VALUES are part of the computation the oracle replays: the
  * MinHash signatures (q33/q115/q162 — the min over hashed shingles IS
  * the signature) and the DSIR feature buckets (q143/q150 — the bucket id
  * is strHash(bigram) mod B). Bit-identical by construction to
  * `strHash(concat_ws(" ", w_k, …, w_{k+n-1}))` over
  * `split(text, " ")`: word segmentation splits on every 0x20 byte
  * (empty segments count, exactly like the Column form and DuckDB's
  * string_split), and each n-gram hashes with positions 1..len of the
  * joined string, the separator spaces hashing as code 32 at their joined
  * positions. Fewer than n words → empty array (the callers' old
  * size-guard filters become no-ops). */
final case class PortableNgramHashExpr(child: Expression, n: Int)
  extends StringKernelExpr {

  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "portable_ngram_hashes"

  override def kernel(s: UTF8String): Any =
    ArrayData.toArrayData(TextKernel.ngramHashes(TextKernel.codes(s), n))

  override protected def withNewChildInternal(newChild: Expression): PortableNgramHashExpr =
    copy(child = newChild)
}

object PortableNgramHash {
  /** Column-API entry point: `array<long>` of portable n-gram hashes. */
  def of(c: Column, n: Int): Column =
    Bridge.column(PortableNgramHashExpr(Bridge.expression(c), n))
}
