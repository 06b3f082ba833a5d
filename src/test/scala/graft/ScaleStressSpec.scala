package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the honest-scaling construction behind SCALE_STRESS_r07.json:
  * the ×f corpus must behave as f INDEPENDENT corpora at the 3-shingle
  * level, or the measured exponents would be an artifact of replicated
  * text inflating pair mass quadratically. */
class ScaleStressSpec extends AnyFunSuite with SparkSpec {

  // the ScaleStress mangle, inlined for a 3-copy corpus over tiny docs
  private def mangled(i: Int) = {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    if (i == 0) docs
    else docs.select(
      col("doc_id") + lit(i * ScaleStress.OffsetUnit) as "doc_id",
      array_join(
        transform(split(col("text"), " "),
          (w, idx) => when(pmod(idx, lit(3)) === lit(i % 3),
            concat(w, lit(s"·c$i"))).otherwise(w)),
        " ") as "text")
  }

  private def shingles(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"), explode(expr(
      """transform(sequence(0, size(split(text,' ')) - 3),
        |  k -> concat_ws(' ', slice(split(text,' '), k + 1, 3)))""".stripMargin))
      .as("sh"))

  test("copies share zero 3-shingles with the original and each other") {
    // copies 1..4 cover both distinct (i%3 differs) and colliding
    // (1%3 == 4%3) rewrite phases — the suffix must disambiguate the latter
    val copies = (0 to 4).map(i => shingles(mangled(i)).withColumn("copy", lit(i)))
    val all = copies.reduce(_ unionByName _).cache()
    try {
      val cross = all.as("a").join(all.as("b"),
        col("a.sh") === col("b.sh") && col("a.copy") < col("b.copy"))
      assert(cross.count() == 0)
      // sanity: WITHIN a copy the shingle multiset is intact (same count
      // as the original's), so intra-copy dup structure is preserved
      val perCopy = all.groupBy("copy").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(perCopy.values.toSet.size == 1)
    } finally { all.unpersist(); () }
  }

  test("events copies are disjoint user populations with identical structure") {
    // the r8 events construction: copy i offsets user_id/event_id by
    // i·10⁸ and keeps (ts, event_type, value) byte-identical. The
    // properties the measured exponents rest on: (a) copies share no
    // keys, so no cross-copy session/group interaction exists; (b)
    // de-offsetting a copy reproduces the base exactly, so per-copy
    // session and window structure equals the base corpus's.
    val s = spark; import s.implicits._
    val base = Seq(
      (1L, "2024-01-15 10:00:00", 7L, "click", 1.5),
      (2L, "2024-01-15 10:04:00", 7L, "purchase", 2.0),
      (3L, "2024-01-16 09:00:00", 9L, "signup", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    def copy(i: Int) =
      if (i == 0) base
      else base.select(
        col("event_id") + lit(i * ScaleStress.OffsetUnit) as "event_id",
        col("ts"),
        col("user_id") + lit(i * ScaleStress.OffsetUnit) as "user_id",
        col("event_type"), col("value"))
    val all = (0 to 2).map(copy).reduce(_ unionByName _)
    // (a) disjoint keys across copies
    assert(all.select("user_id").distinct().count() == 2 * 3)
    assert(all.select("event_id").distinct().count() == 3 * 3)
    // (b) de-offset copy 2 == base, row for row
    val deoff = copy(2).select(
      (col("event_id") - 2 * ScaleStress.OffsetUnit).as("event_id"), col("ts"),
      (col("user_id") - 2 * ScaleStress.OffsetUnit).as("user_id"),
      col("event_type"), col("value"))
    assert(deoff.except(base).count() == 0 && base.except(deoff).count() == 0)
  }

  test("the offset-headroom guard fires when base ids exceed the unit") {
    // synthesize a tier whose doc_id sits above the 1e8 copy-offset unit:
    // the guard must refuse to build (silently merged copies would void
    // every measured exponent), and must NAME the offending column
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory(Paths.get("target"), "offguard")
    val base = "/root/testdata/sf0.001"
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings"))
      Files.createSymbolicLink(
        dir.resolve(s"$t.parquet"), Paths.get(s"$base/$t.parquet"))
    Tables.documents(spark, base)
      .withColumn("doc_id", col("doc_id") + lit(ScaleStress.OffsetUnit))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      ScaleStress.assertOffsetHeadroom(spark, dir.toString)
    }
    assert(e.getMessage.contains("documents.doc_id"))
    // and the real tiers all have headroom
    ScaleStress.assertOffsetHeadroom(spark, base)
  }

  test("rel copies: disjoint order bands, exact ×f grouped aggregates") {
    // the r9 relational construction: copy i offsets ONLY the order id by
    // i·OffsetUnit. Properties the measured q1/q47/q48/q50/q54/q74
    // exponents rest on: (a) orderkey bands are disjoint while every other
    // key is untouched (FK joins into unscaled dims stay valid); (b)
    // de-offsetting a copy reproduces the base exactly; (c) grouping keys
    // are copy-invariant, so grouped sums/counts scale EXACTLY ×f with a
    // constant group count — scaled cost is the algorithm's, not a
    // group-explosion artifact.
    val s = spark; import s.implicits._
    val base = Seq(
      (1L, 7L, "F", "1996-01-05", 100.0),
      (2L, 7L, "O", "1996-02-11", 250.0),
      (3L, 9L, "F", "1995-07-01", 40.0))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_totalprice")
    def copy(i: Int) =
      if (i == 0) base
      else base.withColumn("o_orderkey",
        col("o_orderkey") + lit(i * ScaleStress.OffsetUnit))
    val all = (0 to 2).map(copy).reduce(_ unionByName _)
    // (a) disjoint order ids, shared everything else
    assert(all.select("o_orderkey").distinct().count() == 3 * 3)
    assert(all.select("o_custkey").distinct().count() == 2)
    // (b) de-offset copy 2 == base, row for row
    val deoff = copy(2).withColumn("o_orderkey",
      col("o_orderkey") - lit(2 * ScaleStress.OffsetUnit))
    assert(deoff.except(base).count() == 0 && base.except(deoff).count() == 0)
    // (c) grouped aggregates scale exactly ×3: same groups, count ×3,
    // sum ×3, max invariant (the q1/q47 shapes)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("t"),
        max(col("o_totalprice")).as("m"))
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val (b, a3) = (agg(base), agg(all))
    assert(a3.keySet == b.keySet)
    for ((k, (n, t, m)) <- b)
      assert(a3(k) == ((3 * n, 3 * t, m)), s"group $k")
  }

  test("the REAL docs construction yields disjoint copies at sf0.001") {
    // end-to-end through ScaleStress.buildDir itself (the docs/events/
    // embeddings family), closing the same spec-mirror drift class the
    // rel test below closes: the invariants must hold on the actual dir.
    val base = "/root/testdata/sf0.001"
    val dir = ScaleStress.buildDir(spark, base, 2)
    val bDocs = Tables.documents(spark, base)
    val sDocs = Tables.documents(spark, dir)
    // ×2 rows, fully disjoint doc_ids (copy 1 offsets by OffsetUnit)
    assert(sDocs.count() == 2 * bDocs.count())
    assert(sDocs.select("doc_id").distinct().count() ==
      2 * bDocs.select("doc_id").distinct().count())
    // zero shared 3-shingles between the two copies ON THE REAL DIR —
    // the property every dedup exponent rests on
    val sh = sDocs.select(
        (col("doc_id") >= ScaleStress.OffsetUnit).as("copy"),
        explode(expr(
          """transform(sequence(0, size(split(text,' ')) - 3),
            |  k -> concat_ws(' ', slice(split(text,' '), k + 1, 3)))"""
            .stripMargin)).as("sh"))
    assert(sh.filter(col("copy")).select("sh")
      .intersect(sh.filter(!col("copy")).select("sh")).count() == 0)
    // events: disjoint user populations, ×2 rows; embeddings: ×2 vec_ids
    val bEv = Tables.events(spark, base)
    val sEv = Tables.events(spark, dir)
    assert(sEv.count() == 2 * bEv.count())
    assert(sEv.select("user_id").distinct().count() ==
      2 * bEv.select("user_id").distinct().count())
    assert(Tables.embeddings(spark, dir).select("vec_id").distinct().count() ==
      2 * Tables.embeddings(spark, base).select("vec_id").distinct().count())
  }

  test("the REAL rel construction yields exact ×2 aggregates at sf0.001") {
    // end-to-end through ScaleStress.buildRelDir itself, not an inlined
    // mirror of it (the r9 ADVICE's lesson: a spec that copies the
    // construction can drift from it while both stay green) — the ×f
    // invariant must hold on the actual dir the exponents are measured
    // against. Uses factor 2 at sf0.001: rel_x2 is not a factor the
    // sf0.1 measurement runs use, so no cached measurement corpus is
    // clobbered (and the _READY marker records the base, so a later
    // sf0.1 run at factor 2 would rebuild rather than reuse this one).
    val base = "/root/testdata/sf0.001"
    val dir = ScaleStress.buildRelDir(spark, base, 2)
    // decimal-cast sums: exact at any multiplicity, independent of the
    // tier's physical column type
    def q1Style(d: String) = Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(20,2)")).as("qty"),
        max(col("l_extendedprice").cast("decimal(20,2)")).as("mx"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDecimal(3), r.getDecimal(4)))).toMap
    val (b, s2) = (q1Style(base), q1Style(dir))
    assert(s2.keySet == b.keySet) // constant group count
    for ((k, (n, qty, mx)) <- b) {
      assert(s2(k)._1 == 2 * n, s"count $k")
      assert(s2(k)._2.compareTo(qty.add(qty)) == 0, s"sum $k")
      assert(s2(k)._3.compareTo(mx) == 0, s"max $k")
    }
    // the join alignment: lineitem copy i joins orders copy i, so the
    // orders⋈lineitem row count scales exactly ×2 as well
    def joined(d: String) = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(joined(dir) == 2 * joined(base))
  }

  test("the rel offset-headroom guard fires when order ids exceed the unit") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory(Paths.get("target"), "reloffguard")
    val base = "/root/testdata/sf0.001"
    Files.createSymbolicLink(
      dir.resolve("lineitem.parquet"), Paths.get(s"$base/lineitem.parquet"))
    Tables.orders(spark, base)
      .withColumn("o_orderkey", col("o_orderkey") + lit(ScaleStress.OffsetUnit))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val e = intercept[IllegalArgumentException] {
      ScaleStress.assertRelOffsetHeadroom(spark, dir.toString)
    }
    assert(e.getMessage.contains("orders.o_orderkey"))
    // and the real tiers all have headroom
    ScaleStress.assertRelOffsetHeadroom(spark, base)
  }

  test("every 3-word window of a mangled copy covers a rewritten position") {
    // the disjointness mechanism: with every 3rd word rewritten, no
    // 3-window can consist of original words only
    val sh = shingles(mangled(2)).select("sh").collect().map(_.getString(0))
    assert(sh.nonEmpty)
    assert(sh.forall(_.contains("·c2")))
  }

  test("resample verdict kills a transient top-factor sample but not genuine superlinearity") {
    // the r11 incident shape: lo=3.39 s at ×30, first ×100 sample 18.45 s
    // (transient, exp 1.41), re-measure 6.21 s — min-combined exponent
    // falls back under the line
    val transient = ScaleStress.resampleVerdict(
      "q147_pq_codes", "docs", 3.39, Seq(18.45, 6.21), 30, 100)
    assert(transient.contains(""""above_line":false"""))
    assert(ScaleStress.topDecadeExp(3.39, 18.45, 30, 100) > ScaleStress.ExpLine)
    assert(ScaleStress.topDecadeExp(3.39, 6.21, 30, 100) < ScaleStress.ExpLine)
    // a genuinely quadratic gate stays above the line on BOTH samples —
    // the resample must not launder it (sec ∝ factor²: 9 s at ×30 → 100 s
    // at ×100, with the re-measure agreeing)
    val real = ScaleStress.resampleVerdict(
      "qX", "docs", 9.0, Seq(100.0, 98.0), 30, 100)
    assert(real.contains(""""above_line":true"""))
    // both exponents are recorded either way (borderline pairs stay visible)
    assert(transient.contains(""""exp_base":""") && transient.contains(""""exp_min":"""))
    // the API never takes more than the median-of-three's samples; an
    // even size >= 4 would silently use the upper median (ADVICE r12 #5)
    intercept[IllegalArgumentException] {
      ScaleStress.resampleVerdict("qE", "docs", 1.0, Seq(4.0, 2.3, 3.0, 2.9), 30, 100)
    }
  }

  test("borderline hi pair verdict uses the median of three, not the min") {
    // ADVICE r11 #1 shape: the re-measure is warm-state advantaged, so
    // one flattered low sample must not decide a borderline pair. With
    // lo=1.0 over [30,100]: first sample 4.0 (exp 1.15), re-measure 2.3
    // (exp 0.69 — inside the ±0.1 band of the 0.75 line, so the harness
    // takes a third), third 3.0 (exp 0.91). Median 3.0 → above the line.
    val eMin = ScaleStress.topDecadeExp(1.0, 2.3, 30, 100)
    assert(math.abs(eMin - ScaleStress.ExpLine) <= ScaleStress.ExpBand)
    val v = ScaleStress.resampleVerdict("qB", "docs", 1.0, Seq(4.0, 2.3, 3.0), 30, 100)
    assert(v.contains(""""exp_med":"""))
    assert(v.contains(""""above_line":true"""))
    // min alone would have called it under the line — the bias the
    // median rule exists to remove
    assert(eMin < ScaleStress.ExpLine)
  }

  test("lo-point resample raises the exponent conservatively on just-under-line pairs") {
    // ADVICE r11 #2 shape: a transient inflating the fLo sample deflates
    // the exponent below the line with no resample. lo0=2.0 (inflated),
    // hi=4.6 → exp 0.69, just under; quiet re-measure lo1=1.0 → min(lo)
    // RAISES the exponent to 1.27 — superlinearity unmasked.
    val e0 = ScaleStress.topDecadeExp(2.0, 4.6, 30, 100)
    assert(e0 < ScaleStress.ExpLine && e0 > ScaleStress.ExpLine - ScaleStress.ExpBand)
    val unmasked = ScaleStress.resampleLoVerdict("qL", "docs", 2.0, 1.0, 4.6, 30, 100)
    assert(unmasked.contains(""""above_line_lo_min":true"""))
    // a re-measure that AGREES with the first lo sample leaves the pair
    // under the line — no false finding from the band rule
    val confirmed = ScaleStress.resampleLoVerdict("qL", "docs", 2.0, 1.95, 4.6, 30, 100)
    assert(confirmed.contains(""""above_line_lo_min":false"""))
    assert(confirmed.contains(""""exp_lo_min":""") && confirmed.contains(""""exp_first":"""))
  }

  test("triage pairs are per-gate top decades, not the family's") {
    // q34's shape: timed only through x30 while the family runs to x100 —
    // its pair must be its OWN (10,30), not the family's (30,100);
    // single-factor gates and zero-lo gates are dropped
    val timed = Seq(
      ("qA", "docs", 1, 1.0), ("qA", "docs", 10, 2.0),
      ("qA", "docs", 30, 5.0), ("qA", "docs", 100, 9.0),
      ("q34", "docs", 1, 3.0), ("q34", "docs", 10, 9.9), ("q34", "docs", 30, 21.4),
      ("qSingle", "docs", 100, 4.0),
      ("qZeroLo", "docs", 30, 0.0), ("qZeroLo", "docs", 100, 2.0),
      ("qRel", "rel", 30, 1.0), ("qRel", "rel", 100, 2.0))
    val docs = ScaleStress.topDecadePairs(timed, "docs")
    assert(docs == Seq(("q34", 10, 30, 9.9, 21.4), ("qA", 30, 100, 5.0, 9.0)))
    assert(ScaleStress.topDecadePairs(timed, "rel") == Seq(("qRel", 30, 100, 1.0, 2.0)))
    // the drops are no longer silent: one ledger row per family names
    // each dropped gate with its reason (VERDICT r12 minor #1), and a
    // clean family still emits the (empty) row
    assert(ScaleStress.topDecadeDroppedRow(timed, "docs") ==
      """{"triage_dropped":[{"gate":"qSingle","reason":"single_factor"},""" +
        """{"gate":"qZeroLo","reason":"nonpositive_lo"}],"family":"docs"}""")
    assert(ScaleStress.topDecadeDroppedRow(timed, "rel") ==
      """{"triage_dropped":[],"family":"rel"}""")
  }

  test("memo invalidation forces the resample's re-measure to rebuild") {
    // the resample pass drops the target dir's ArtifactMemo entries
    // before re-timing — otherwise a memo-consuming gate's "re-measure"
    // times a parquet scan of the already-built artifact (measured:
    // q32 ×100 first sample 21.3 s build-inclusive, naive re-measure
    // 0.23 s) and the min-combiner would launder genuine superlinearity
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory(Paths.get("target"), "memoinval").toString
    var builds = 0
    def consume() = graft.queries.ArtifactMemo.path(spark, dir, "svdtest") { _ => builds += 1 }
    val p1 = consume(); val p2 = consume()
    assert(builds == 1 && p1 == p2) // memoized: one build, stable path
    // invalidating a DIFFERENT dir must not touch this entry
    val other = Files.createTempDirectory(Paths.get("target"), "memoinval2").toString
    assert(graft.queries.ArtifactMemo.invalidate(other) == 0)
    assert({ consume(); builds } == 1)
    // invalidating the dir drops exactly the completed entry; the next
    // consumer rebuilds onto the same deterministic scratch path.
    // entryCount is the ledger's "rebuilt" side: 0 right after the
    // invalidate, back to 1 once the consumer rebuilds.
    assert(graft.queries.ArtifactMemo.entryCount(dir) == 1)
    assert(graft.queries.ArtifactMemo.invalidate(dir) == 1)
    assert(graft.queries.ArtifactMemo.entryCount(dir) == 0)
    val p3 = consume()
    assert(builds == 2 && p3 == p1)
    assert(graft.queries.ArtifactMemo.entryCount(dir) == 1)
  }
}
