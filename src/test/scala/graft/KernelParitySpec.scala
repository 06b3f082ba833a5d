package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity guards for the native kernels against their declarative
  * Column formulations — a kernel change that drifts from the composed
  * form would silently alter gate results, so the equivalence itself is
  * pinned here on randomized inputs. */
class KernelParitySpec extends AnyFunSuite with SparkSpec {

  // deterministic pseudo-random ASCII corpus: words of 1-7 chars, 0-60
  // words per doc, plus crafted edge cases (empty words via double spaces,
  // leading/trailing spaces, short strings)
  private def corpus: Seq[String] = {
    var seed = 987654321L
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound + bound) % bound).toInt
    }
    val rand = (0 until 40).map { _ =>
      val nWords = next(60)
      (0 until nWords).map { _ =>
        val len = 1 + next(7)
        (0 until len).map(_ => ('a' + next(26)).toChar).mkString
      }.mkString(" ")
    }
    rand ++ Seq("", "a", "a b", "a b c", "a  b  c", " lead", "trail ",
      "x y z w v u t", "abcdefgh", "same same same same")
  }

  test("winnow kernel is bit-identical to the declarative formulation") {
    val s = spark; import s.implicits._
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // declarative reference: gram strHash, 4-window min, distinct
    val grams = docs.filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), length(col("text")) - lit(4)),
          i => col("text").substr(i, lit(5)))))
      .withColumnRenamed("col", "g")
      .withColumn("hg",
        (graft.queries.Parity.strHash(col("g")) * lit(2654435761L)) % 1000003L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, 3)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val expected = grams
      .withColumn("wm", min(col("hg")).over(w))
      .withColumn("maxp", max(col("pos")).over(wAll))
      .filter(col("pos") <= col("maxp") - 3)
      .select(col("doc_id"), col("wm")).distinct()
      .as[(Long, Long)].collect().toSet
    val got = docs
      .select(col("doc_id"),
        explode(graft.functions.Winnow.of(col("text"))).as("wm"))
      .as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("shingle kernel: count and distinctness invariants vs split()") {
    val s = spark; import s.implicits._
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val counts = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("nw"),
        size(graft.functions.ShingleHash.of(col("text"))).as("nsh"))
      .as[(Long, Int, Int)].collect()
    counts.foreach { case (id, nw, nsh) =>
      assert(nsh == math.max(0, nw - 2), s"doc $id: $nw words, $nsh shingles")
    }
    // distinct cardinality equals distinct string-shingle cardinality
    // (no kernel hash collisions on this corpus)
    val strDistinct = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("w")) - lit(3)),
        i => concat_ws(" ",
          element_at(col("w"), i + lit(1)),
          element_at(col("w"), i + lit(2)),
          element_at(col("w"), i + lit(3))))).as("sh"))
      .distinct().groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val hashDistinct = docs
      .select(col("doc_id"),
        explode(graft.functions.ShingleHash.of(col("text"))).as("sh"))
      .distinct().groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(hashDistinct == strDistinct)
  }

  test("chargram kernel matches the portable strHash of substr trigrams") {
    val s = spark; import s.implicits._
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val kernel = docs.filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        posexplode(graft.functions.CharGramHash.of(col("text"))))
      .withColumnRenamed("col", "h")
      .as[(Long, Int, Long)].collect().toSet
    val reference = docs.filter(length(col("text")) >= 3)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), length(col("text")) - lit(2)),
          i => graft.queries.Parity.strHash(col("text").substr(i, lit(3))))))
      .withColumnRenamed("col", "h")
      .as[(Long, Int, Long)].collect().toSet
    assert(kernel == reference)
  }

  test("shingle distinct kernel = set of the plain kernel's hashes") {
    val s = spark; import s.implicits._
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val plain = docs.select(col("doc_id"),
        explode(graft.functions.ShingleHash.of(col("text"))).as("h"))
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val dedup = docs.select(col("doc_id"),
        explode(graft.functions.ShingleHash.distinctOf(col("text"))).as("h"))
      .as[(Long, Long)].collect()
    // distinct variant emits each hash exactly once...
    assert(dedup.distinct.length == dedup.length)
    // ...and exactly the set the plain kernel produces
    assert(dedup.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap == plain)
  }

  test("jaccard length bound drops no qualifying pair (exactness)") {
    // jaccardPairs prunes candidates with t·max(|A|,|B|) > min(|A|,|B|)
    // inside the self-join; this pins that the bound is EXACT by comparing
    // against the unfiltered formulation on real data at sf0.001.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val filtered = graft.queries.DedupOps.jaccardPairs(docs, 0.5)
      .select("d1", "d2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: same index, no length predicate, sizes joined post-agg
    val sh0 = docs.select(col("doc_id"),
      explode(graft.functions.ShingleHash.distinctOf(col("text"))).as("s"))
    val cap = docs.agg(greatest(lit(5L),
      floor(count(lit(1)) / lit(100)).cast("long")).as("cap"))
    val hot = sh0.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(cap)).filter(col("df") > col("cap")).select(col("s"))
    val sh = sh0.join(broadcast(hot), Seq("s"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val reference = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("d1", "d2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(filtered == reference)
    assert(reference.nonEmpty, "fixture must exercise the pair path")
  }

  test("pair emitter = index self-join: identical pair-row multiset (r19)") {
    // the posting-list kernel replaced the shN ⋈ shN self-join inside
    // jaccardPairsBuild; this pins the EMITTED pair rows (pre-aggregation,
    // as a multiset) against the join form on real data with the skew
    // fixture's hot prefix planted, in both execution paths.
    val docs0 = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = docs0.select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(lit("common portal header shared across every page "), col("text")))
        .otherwise(col("text")).as("text"))
    val sh0 = docs.select(col("doc_id"),
      explode(graft.functions.ShingleHash.distinctOf(col("text"))).as("s"))
    val cap = docs.agg(greatest(lit(5L),
      floor(count(lit(1)) / lit(100)).cast("long")).as("cap"))
    val hot = sh0.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(cap)).filter(col("df") > col("cap")).select(col("s"))
    val sh = sh0.join(broadcast(hot), Seq("s"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shN = sh.join(sizes, Seq("doc_id"))
    val ltV = 0.5 - 1e-4
    def multiset(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(identity).view.mapValues(_.length).toMap
    def viaKernel() = multiset(shN.groupBy(col("s"))
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ps"))
      .select(explode(graft.functions.JaccardPairEmit.of(col("ps"), ltV)).as("p"))
      .select(col("p.d1"), col("p.d2"), col("p.n1"), col("p.n2")).collect())
    val lt = lit(ltV)
    val viaJoin = multiset(shN.as("a").join(shN.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * lt <= col("b.n") && col("b.n") * lt <= col("a.n"))
      .select(col("a.doc_id"), col("b.doc_id"), col("a.n"), col("b.n"))
      .collect())
    assert(viaJoin.nonEmpty, "fixture must exercise the pair path")
    assert(viaKernel() == viaJoin)
    withCodegen(false) { assert(viaKernel() == viaJoin) }
  }

  test("pair emitter unit semantics: ordering, bound boundary, degenerate lists") {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    def list(entries: (Long, Long)*): ArrayData =
      new GenericArrayData(entries.map { case (d, n) =>
        val r = new GenericInternalRow(2); r.setLong(0, d); r.setLong(1, n); r
      }.toArray[Any])
    def emit(lt: Double, entries: (Long, Long)*): Seq[(Long, Long, Long, Long)] = {
      val out = graft.functions.JaccardPairEmitExpr.emit(list(entries: _*), lt)
      (0 until out.numElements()).map { i =>
        val r = out.getStruct(i, 4)
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    }
    // canonical order (d1 < d2) regardless of arrival order
    assert(emit(0.0, (7L, 3L), (2L, 5L)) == Seq((2L, 7L, 5L, 3L)))
    // boundary: the bound is <=, exactly like the Column form
    assert(emit(0.5, (1L, 2L), (2L, 4L)) == Seq((1L, 2L, 2L, 4L))) // 4*0.5 == 2
    assert(emit(0.5, (1L, 2L), (2L, 5L)) == Seq.empty)             // 5*0.5 > 2
    // empty / singleton lists emit nothing
    assert(emit(0.5) == Seq.empty)
    assert(emit(0.5, (1L, 9L)) == Seq.empty)
    // three docs: all C(3,2) pairs in sorted order
    assert(emit(0.0, (3L, 1L), (1L, 1L), (2L, 1L)) ==
      Seq((1L, 2L, 1L, 1L), (1L, 3L, 1L, 1L), (2L, 3L, 1L, 1L)))
  }

  test("minhash signature kernel is bit-identical to the exploded formulation") {
    val s = spark; import s.implicits._
    val texts = corpus ++ Seq("héllo wörld mixed ascii words", "çé ü xx",
      "   ", "a b", "one two three four")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val MhP = 99991L
    val MhK = 12
    // the r18 composed form, rebuilt expression-by-expression
    val reference: Map[Long, Seq[Long]] = {
      val sh = docs.select(col("doc_id"),
        explode(graft.functions.PortableNgramHash.of(col("text"), 3)).as("sid"))
      val minCols = (0 until MhK).map(k =>
        min((lit(53L * k + 7L) * col("sid") + lit(97L * k + 13L)) % MhP).as(s"m$k"))
      sh.groupBy(col("doc_id"))
        .agg(minCols.head, minCols.tail: _*)
        .select(col("doc_id"),
          array((0 until MhK).map(k => col(s"m$k")): _*).as("ms"))
        .as[(Long, Seq[Long])].collect().toMap
    }
    def kernel(): Map[Long, Seq[Long]] = docs
      .select(col("doc_id"), graft.functions.MinHashSig.of(col("text"), 3,
        (0 until MhK).map(k => 53L * k + 7L),
        (0 until MhK).map(k => 97L * k + 13L), MhP).as("ms"))
      .filter(size(col("ms")) > 0)
      .as[(Long, Seq[Long])].collect().toMap
    assert(reference.nonEmpty)
    assert(kernel() == reference)
    withCodegen(false) { assert(kernel() == reference) }
    // <3-word docs exercised and absent in both forms
    val short = docs.filter(size(split(col("text"), " ")) < 3)
      .select(col("doc_id")).as[Long].collect()
    assert(short.nonEmpty && short.forall(id => !reference.contains(id)))
  }

  test("ngram bucket counts kernel = exploded pmod groupBy, exactly") {
    val s = spark; import s.implicits._
    val texts = corpus ++ Seq("héllo wörld mixed", "çé ü", " ", "solo")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val B = 1024
    val reference: Map[(Long, Long), Long] = docs
      .select(col("doc_id"),
        explode(graft.functions.PortableNgramHash.of(col("text"), 2)).as("bh"))
      .select(col("doc_id"), pmod(col("bh"), lit(B.toLong)).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .as[(Long, Long, Long)].collect()
      .map { case (d, b, c) => (d, b) -> c }.toMap
    def kernel(): Map[(Long, Long), Long] = docs
      .select(col("doc_id"),
        explode(graft.functions.NgramBucketCounts.of(col("text"), 2, B)).as("bc"))
      .select(col("doc_id"), col("bc.b"), col("bc.c"))
      .as[(Long, Long, Long)].collect()
      .map { case (d, b, c) => (d, b) -> c }.toMap
    assert(reference.nonEmpty)
    assert(kernel() == reference)
    withCodegen(false) { assert(kernel() == reference) }
  }

  test("simhash16 kernel is bit-identical to the exploded formulation") {
    val s = spark; import s.implicits._
    // corpus + non-ASCII words + documents with NO nonempty words (the
    // composed form emits no signature row for those; the kernel returns
    // −1 and the caller's `sh >= 0` filter reproduces the absence)
    val texts = corpus ++ Seq("héllo wörld mixed ascii", "çé ü",
      "   ", " ", "a héllo b", "naïve approach to naïve bayes")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val reference: Map[Long, Long] = {
      val h = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .select(col("doc_id"),
          ((graft.queries.Parity.strHash(col("w")) * lit(2654435761L)) % 65536L).as("hw"))
      val bitCols = (0 until 16).map { b =>
        when(sum(shiftright(col("hw"), b) % 2 * lit(2) - lit(1)) > 0,
          lit(1L << b)).otherwise(lit(0L)).as(s"p$b")
      }
      h.groupBy(col("doc_id"))
        .agg(bitCols.head, bitCols.tail: _*)
        .withColumn("sh", (0 until 16).map(b => col(s"p$b")).reduce(_ + _))
        .select(col("doc_id"), col("sh"))
        .as[(Long, Long)].collect().toMap
    }
    def kernel(): Map[Long, Long] = docs
      .select(col("doc_id"), graft.functions.SimHash16.of(col("text")).as("sh"))
      .filter(col("sh") >= 0)
      .as[(Long, Long)].collect().toMap
    assert(reference.nonEmpty)
    assert(kernel() == reference)
    withCodegen(false) { assert(kernel() == reference) }
    // the no-word documents really are exercised and really are absent
    val noWord = docs.filter(trim(col("text")) === "")
      .select(col("doc_id")).as[Long].collect()
    assert(noWord.nonEmpty && noWord.forall(id => !reference.contains(id)))
  }
}
