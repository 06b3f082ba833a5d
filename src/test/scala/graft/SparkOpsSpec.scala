package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{AccountCodes, ColumnGroupPlanner, Domain}
import graft.cdc.ChangelogDiff

/** Spark-backed specs for the engine operators on tiny fixture frames
  * (golden-matrix style, mirroring the reference's
  * account_reports/tests/common.py assertLinesValues pattern). */
class SparkOpsSpec extends AnyFunSuite with SparkSpec {

  test("portable strHash column equals the documented pure formula") {
    val s = spark; import s.implicits._
    // the cross-engine contract: h(s) = (Σ code(s_i)·((1103515245·i+12345)
    // mod M)) mod M with M = 2^31-1 — any drift here silently breaks the
    // DuckDB oracle parity of q33/q34/q40
    def model(str: String): Long = {
      val M = 2147483647L
      var acc = 0L
      var i = 1
      while (i <= str.length) {
        val w = (1103515245L * i + 12345L) % M
        acc = (acc + str.charAt(i - 1).toLong * w) % M
        i += 1
      }
      acc
    }
    val rnd = new scala.util.Random(23)
    val strs = (1 to 300).map(_ =>
      (1 to (1 + rnd.nextInt(40))).map(_ => (32 + rnd.nextInt(95)).toChar).mkString)
    val got = strs.toDF("s")
      .select(col("s"), graft.queries.Parity.strHash(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    assert(strs.forall(x => got(x) == model(x)))
    assert(got.values.forall(h => h >= 0 && h < 2147483647L))
    // position sensitivity: a transposition changes the hash
    assert(model("ab") != model("ba"))
    // non-ASCII falls back to char-at-i semantics (same as the model)
    val uni = Seq("héllo wörld", "日本語テキスト", "mixed-αβγ-123")
    val gotU = uni.toDF("s")
      .select(col("s"), graft.queries.Parity.strHash(col("s")).as("h"))
      .as[(String, Long)].collect().toMap
    assert(uni.forall(x => gotU(x) == model(x)))
    // registered for SQL users too
    graft.functions.GraftExtensions.install(s)
    assert(s.sql("SELECT portable_hash('ab') = portable_hash('ab'), " +
      "portable_hash('ab') = portable_hash('ba')")
      .as[(Boolean, Boolean)].head() == ((true, false)))
    // the round-3 kernels are SQL-registered too
    val (nSh, nShShort, nWm, nWmShort) =
      s.sql("SELECT size(shingle_hashes('a b c d')), " +
        "size(shingle_hashes('a b')), " +
        "size(winnow_fingerprints('abcdefghij')), " +
        "size(winnow_fingerprints('short'))")
        .as[(Int, Int, Int, Int)].head()
    assert(nSh == 2 && nShShort == 0 && nWmShort == 0)
    assert(nWm >= 1 && nWm <= 3) // 3 windows, dedup may merge equal minima
  }

  test("domain compiler filters like the reference's polish notation") {
    val s = spark; import s.implicits._
    val df = Seq((1, "posted", 50.0), (2, "draft", 500.0), (3, "posted", 500.0))
      .toDF("id", "state", "amount")
    val dom = Domain.compile(Seq("&", ("state", "=", "posted"), ("amount", ">", 100.0)))
    assert(df.filter(dom).select("id").as[Int].collect().toSeq == Seq(3))
    val orDom = Domain.compile(Seq("|", ("state", "=", "draft"), ("amount", "<", 100.0)))
    assert(df.filter(orDom).select("id").as[Int].collect().sorted.toSeq == Seq(1, 2))
    val inDom = Domain.compile(Seq(("id", "in", Seq(1, 3)), ("state", "ilike", "POST")))
    assert(df.filter(inDom).select("id").as[Int].collect().sorted.toSeq == Seq(1, 3))
  }

  test("domain child_of resolves through the parent hierarchy") {
    val s = spark; import s.implicits._
    // tree: 1 -> (2, 3); 2 -> (4)
    val desc = Domain.descendantsOf(Seq((2, 1), (3, 1), (4, 2)))
    assert(desc(1).toSet == Set(2, 3, 4) && desc(4).isEmpty)
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, 50.0))
      .toDF("grp", "v")
    val dom = Domain.compile(
      Domain.parse(Seq(("grp", "child_of", 1))), Domain.defaultResolve, desc)
    assert(df.filter(dom).select("grp").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
  }

  test("domain parent_of walks up, negated likes filter out matches") {
    val s = spark; import s.implicits._
    // tree: 1 -> (2, 3); 2 -> (4)
    val anc = Domain.ancestorsOf(Seq((2, 1), (3, 1), (4, 2)))
    assert(anc(4).toSeq == Seq(2, 1) && anc(1).isEmpty)
    val df = Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0), (5, 50.0))
      .toDF("grp", "v")
    val dom = Domain.compile(
      Domain.parse(Seq(("grp", "parent_of", 4))), Domain.defaultResolve,
      Domain.descendantsOf(Seq((2, 1), (3, 1), (4, 2))), anc)
    assert(df.filter(dom).select("grp").as[Int].collect().sorted.toSeq == Seq(1, 2, 4))
    val names = Seq((1, "Green Box"), (2, "red crate"), (3, "BLUE box"))
      .toDF("id", "nm")
    val neg = Domain.compile(Seq(("nm", "not ilike", "green"), ("nm", "not like", "crate")))
    assert(names.filter(neg).select("id").as[Int].collect().toSeq == Seq(3))
  }

  test("column-group planner: one scan, per-group conditional aggregates") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 2024, 10.0), ("a", 2025, 20.0), ("b", 2024, 5.0))
      .toDF("k", "y", "v")
    val out = ColumnGroupPlanner.evaluate(df, Seq(col("k")),
      Seq(ColumnGroupPlanner.Group("p24", col("y") === 2024),
        ColumnGroupPlanner.Group("p25", col("y") === 2025)),
      Map("v" -> col("v")))
      .orderBy("k")
      .as[(String, Double, Double)].collect().toSeq
    assert(out == Seq(("a", 10.0, 20.0), ("b", 5.0, 0.0)))
  }

  test("account_codes evaluate: prefix, exclusion, D/C gate, sign") {
    val s = spark; import s.implicits._
    val accounts = Seq(
      ("101", 10.0), ("150", 99.0), ("201", -5.0), ("202", 7.0), ("301", 3.0),
      ("302", -4.0)).toDF("code", "balance")
    // 1\(15): 10 ; 2C: -5 ; -3D: -3  => total 2
    val total = AccountCodes.evaluate(accounts, "1\\(15) + 2C - 3D")
      .as[Double].head()
    assert(total == 2.0)
  }

  test("cdc diff emits create/write/unlink at field grain") {
    val s = spark; import s.implicits._
    val oldDf = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("id", "name", "bal")
    val newDf = Seq((1, "a", 11.0), (2, "b", 20.0), (4, "d", 40.0)).toDF("id", "name", "bal")
    val out = ChangelogDiff.diff(oldDf, newDf, "id")
      .select("res_id", "op", "field", "old_value", "new_value")
      .as[(Int, String, String, String, String)].collect().toSet
    assert(out.filter(_._2 == "write") == Set((1, "write", "bal", "10.0", "11.0")))
    assert(out.count(_._2 == "unlink") == 2) // both fields of id=3
    assert(out.count(_._2 == "create") == 2) // both fields of id=4
    assert(out.contains((4, "create", "name", null, "d")))
  }

  test("audit rule policy mirrors the reference auditlog test scenarios") {
    val s = spark; import s.implicits._
    import graft.cdc.ChangelogDiff
    import graft.cdc.ChangelogDiff.AuditRule
    val oldDf = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "qty")
    val newDf = Seq((1L, "a2", 10), (2L, "b", 20), (4L, "d", 40))
      .toDF("id", "name", "qty")
    // ops on ids 1/2 performed by user 7, ids 3/4 by user 9
    val lines = ChangelogDiff.diff(oldDf, newDf, "id")
      .withColumn("user_id", when(col("res_id") <= 2L, 7L).otherwise(9L))
      .cache()
    // no-change writes produce no lines (test_LogUpdate: id 2 unchanged)
    assert(lines.filter(col("res_id") === 2L).count() == 0)
    // field exclusion: the excluded field's line disappears, others stay
    val fx = ChangelogDiff.applyRule(lines, AuditRule(fieldsToExclude = Set("name")))
    assert(fx.filter(col("res_id") === 1L).count() == 0) // only name changed
    assert(fx.filter(col("res_id") === 4L).select("field")
      .as[String].collect().toSet == Set("qty")) // create keeps qty line
    // user exclusion: user 9's ops (unlink of 3, create of 4) vanish
    val ux = ChangelogDiff.applyRule(lines, AuditRule(usersToExclude = Set(9L)))
    assert(ux.select("res_id").as[Long].collect().toSet == Set(1L))
    // capture_record=false: unlink collapses to one null-field marker
    val cr = ChangelogDiff.applyRule(lines, AuditRule(captureRecord = false))
    val unl = cr.filter(col("op") === "unlink").collect()
    assert(unl.length == 1 && unl(0).getAs[Long]("res_id") == 3L
      && unl(0).isNullAt(unl(0).fieldIndex("field")))
    // default rule is a no-op
    assert(ChangelogDiff.applyRule(lines, AuditRule()).count() == lines.count())
    // unlink marker survives even when EVERY field is excluded — the
    // reference still creates the log record; only value lines vanish
    val all = ChangelogDiff.applyRule(lines,
      AuditRule(fieldsToExclude = Set("name", "qty"), captureRecord = false))
    val mk = all.filter(col("op") === "unlink").collect()
    assert(mk.length == 1 && mk(0).getAs[Long]("res_id") == 3L)
    assert(all.filter(col("op") =!= "unlink").count() == 0)
    lines.unpersist(): Unit
  }
}
