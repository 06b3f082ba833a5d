package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions, so SQL users
  * get them too:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *   SELECT vector_dot(a.embedding, b.embedding) FROM ...
  *
  * For an already-running session use [[GraftExtensions.install]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def function(name: String, cls: Class[_ <: Expression], arity: Int)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (children: Seq[Expression]) => {
        require(children.length == arity,
          s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}")
        build(children)
      })

  /** The SQL functions: name, expression class, arity, constructor. */
  private val functions = Seq(
    function("vector_dot", classOf[VectorDotExpr], 2)(c => VectorDotExpr(c(0), c(1))),
    function("top_k_by_score", classOf[TopKByScore], 3)(c => TopKByScore(c(0), c(1), c(2))),
    function("portable_hash", classOf[PortableHashExpr], 1)(c => PortableHashExpr(c(0))),
    function("shingle_hashes", classOf[ShingleHashExpr], 1)(c => ShingleHashExpr(c(0))),
    function("winnow_fingerprints", classOf[WinnowExpr], 1)(c => WinnowExpr(c(0))))

  /** Imperative registration on an existing session. */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
