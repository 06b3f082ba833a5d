package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._

/** ScalaCheck properties: every native text kernel against a plain-Scala
  * model built on `String.charAt` and `String.split(" ", -1)` alone — no
  * Spark expression and no kernel code — over adversarial text (surrogate
  * pairs, mixed ASCII/non-ASCII, runs of spaces, leading and trailing
  * spaces, tabs, empty strings, fewer words than the n-gram width), on the
  * whole-stage codegen path and on the interpreted (`NO_CODEGEN`) path. */
class TextKernelPropsSpec extends AnyFunSuite with SparkSpec {

  // ---- the model --------------------------------------------------------

  private val M = 2147483647L

  /** The portable token hash, as SparkOpsSpec states it. */
  private def strHash(str: String): Long = {
    var acc = 0L
    var i = 1
    while (i <= str.length) {
      val w = (1103515245L * i + 12345L) % M
      acc = (acc + str.charAt(i - 1).toLong * w) % M
      i += 1
    }
    acc
  }

  private def words(t: String): Seq[String] = t.split(" ", -1).toSeq

  private def ngrams(t: String, n: Int): Seq[Long] =
    words(t).sliding(n).filter(_.length == n).map(g => strHash(g.mkString(" "))).toSeq

  private def minhash(t: String, n: Int, as: Seq[Long], bs: Seq[Long], p: Long): Seq[Long] = {
    val hs = ngrams(t, n)
    if (hs.isEmpty) Nil
    else as.zip(bs).map { case (a, b) => hs.map(h => (a * h + b) % p).min }
  }

  private def buckets(t: String, n: Int, b: Int): Seq[(Long, Long)] =
    ngrams(t, n).groupBy(_ % b).toSeq.map { case (k, v) => (k, v.length.toLong) }.sortBy(_._1)

  private def simhash(t: String): Long = {
    val ws = words(t).filter(_.nonEmpty)
    if (ws.isEmpty) -1L
    else {
      val hw = ws.map(w => (strHash(w) * 2654435761L) % 65536L)
      (0 until 16).map { b =>
        if (hw.map(h => 2 * ((h >> b) & 1L) - 1).sum > 0) 1L << b else 0L
      }.sum
    }
  }

  private def chargrams(t: String): Seq[Long] =
    (0 to t.length - 3).map(i => strHash(t.substring(i, i + 3)))

  private def winnow(t: String): Seq[Long] =
    if (t.length < 8) Nil
    else {
      val hg = (0 to t.length - 5).map(g => (strHash(t.substring(g, g + 5)) * 2654435761L) % 1000003L)
      hg.sliding(4).map(_.min).toSeq.distinct
    }

  /** FNV-1a over each word's UTF-8 bytes, combined per 3 consecutive words
    * and finalized with splitmix64. */
  private def shingles(t: String): Seq[Long] = {
    val wh = words(t).map { w =>
      w.getBytes(UTF_8).foldLeft(0xcbf29ce484222325L)((h, b) => (h ^ (b & 0xffL)) * 0x100000001b3L)
    }
    wh.sliding(3).filter(_.length == 3).map { g =>
      var x = g(0)
      x ^= g(1) + 0x9e3779b97f4a7c15L + (x << 12) + (x >>> 4)
      x ^= g(2) + 0x9e3779b97f4a7c15L + (x << 12) + (x >>> 4)
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }.toSeq
  }

  // ---- adversarial text -------------------------------------------------

  private val genChar: Gen[String] = Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf("-", ".", ",", "'", "~", "\u007f"),
    2 -> Gen.oneOf("é", "ü", "ï", "ß", "ç", "α", "ж"),
    1 -> Gen.oneOf("日", "本", "語", "テ", "ス"),
    // supplementary code points: a surrogate pair each in UTF-16
    1 -> Gen.oneOf(0x1F600, 0x1D11E, 0x10348, 0x20BB7).map(cp => new String(Character.toChars(cp))))

  private val genWord: Gen[String] =
    Gen.choose(1, 9).flatMap(k => Gen.listOfN(k, genChar).map(_.mkString))

  private val genAsciiWord: Gen[String] =
    Gen.choose(1, 9).flatMap(k => Gen.listOfN(k, Gen.alphaLowerChar).map(_.mkString))

  private val genSep: Gen[String] = Gen.frequency(
    8 -> " ", 2 -> "  ", 1 -> "   ", 1 -> "\t", 1 -> " \t ")

  private def genText(word: Gen[String], maxWords: Int): Gen[String] = for {
    k <- Gen.choose(0, maxWords)
    ws <- Gen.listOfN(k, word)
    seps <- Gen.listOfN(k, genSep)
    lead <- Gen.oneOf("", "", " ", "  ")
    trail <- Gen.oneOf("", "", " ", "  ")
  } yield lead + ws.zip(seps).map { case (w, s) => w + s }.mkString.dropRight(1) + trail

  private val genDoc: Gen[String] = Gen.frequency(
    1 -> Gen.oneOf("", " ", "   ", "\t", "a", "ab", "a b", " a", "a ", "😀", "😀😀 😀"),
    2 -> genText(genWord, 3),
    4 -> genText(genWord, 40),
    3 -> genText(genAsciiWord, 40),
    1 -> Gen.listOfN(60, genChar).map(_.mkString))

  /** One batch: documents (a few null) plus the plan-time parameters. */
  private case class Batch(docs: Seq[String], n: Int, b: Int)

  private val genBatch: Gen[Batch] = for {
    k <- Gen.choose(1, 30)
    docs <- Gen.listOfN(k, Gen.frequency(30 -> genDoc, 1 -> Gen.const(null: String)))
    n <- Gen.choose(1, 4)
    b <- Gen.oneOf(1, 7, 1024)
  } yield Batch(docs, n, b)

  // ---- kernels under test -----------------------------------------------

  private val as = (0 until 12).map(k => 53L * k + 7L)
  private val bs = (0 until 12).map(k => 97L * k + 13L)
  private val P = 99991L

  private def longs(v: Any): Any = v match {
    case null => null
    case xs: scala.collection.Seq[_] => xs.map {
      case r: Row => (r.getLong(0), r.getLong(1))
      case x => x
    }.toList
    case x => x
  }

  /** name → (kernel column, model); the model sees a non-null document. */
  private val kernels: Seq[(String, (Column, Batch) => Column, (String, Batch) => Any)] = Seq(
    ("portable_hash", (c, _) => PortableHash.hash(c), (t, _) => strHash(t)),
    ("portable_ngram_hashes", (c, x) => PortableNgramHash.of(c, x.n), (t, x) => ngrams(t, x.n)),
    ("minhash_sig", (c, x) => MinHashSig.of(c, x.n, as, bs, P), (t, x) => minhash(t, x.n, as, bs, P)),
    ("ngram_bucket_counts", (c, x) => NgramBucketCounts.of(c, x.n, x.b),
      (t, x) => buckets(t, x.n, x.b)),
    ("simhash16", (c, _) => SimHash16.of(c), (t, _) => simhash(t)),
    ("chargram3_hashes", (c, _) => CharGramHash.of(c), (t, _) => chargrams(t)),
    ("winnow_fingerprints", (c, _) => Winnow.of(c), (t, _) => winnow(t)),
    ("shingle_hashes", (c, _) => ShingleHash.of(c), (t, _) => shingles(t)))

  private def prop(kernel: (Column, Batch) => Column,
                   model: (String, Batch) => Any, codegen: Boolean): Prop =
    Prop.forAll(genBatch) { x =>
      val s = spark; import s.implicits._
      // an RDD source, not a LocalRelation: the optimizer would fold the
      // projection over a local relation and bypass generated code
      val df = s.sparkContext.parallelize(x.docs.zipWithIndex, 2).toDF("text", "i")
        .select(col("i"), kernel(col("text"), x).as("k"))
      val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      val got = df.collect().map(r => r.getInt(0) -> longs(r.get(1))).toMap
      val bad = x.docs.indices.filter { i =>
        val t = x.docs(i)
        got(i) != (if (t == null) null else model(t, x))
      }
      (stages.nonEmpty == codegen) :| s"whole-stage codegen = ${stages.nonEmpty}" &&
        bad.isEmpty :| bad.map { i =>
          val t = x.docs(i)
          s"n=${x.n} b=${x.b} text=${if (t == null) "null" else t.map(_.toInt.toHexString).mkString("[", " ", "]")}: " +
            s"kernel ${got(i)} vs model ${if (t == null) null else model(t, x)}"
        }.mkString("\n")
    }

  for ((name, kernel, model) <- kernels; codegen <- Seq(true, false)) {
    test(s"$name equals its plain-Scala model (${if (codegen) "codegen" else "NO_CODEGEN"})") {
      withCodegen(codegen) {
        val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(25),
          prop(kernel, model, codegen))
        assert(r.passed, Pretty.pretty(r, Pretty.Params(1)))
      }
    }
  }
}
