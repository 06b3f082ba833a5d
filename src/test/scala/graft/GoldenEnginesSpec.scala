package graft

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{AccountCodes, AggregationEvaluator, DateScope, Domain, TaxTags, ReportRunner => RR}

/** Golden values transcribed from the REFERENCE'S OWN formula-engine
  * tests (account_reports/tests/test_report_engines.py) — the per-engine
  * matrices that pin each engine's semantics to the reference's literal
  * expected values (VERDICT r12 item #1's evidence class, applied to the
  * engine layer itself).
  *
  * Every '' cell is a blank-rendered zero (transcribed 0.0), and
  * displayed values go through the reference's 2-decimal currency
  * formatting, matched here by rounding to cents. */
class GoldenEnginesSpec extends AnyFunSuite with SparkSpec {

  private def r2(v: Double): Double = math.floor(v * 100 + 0.5) / 100
  private val day2020 = (LocalDate.of(2020, 1, 1), LocalDate.of(2020, 1, 1))

  // -------------------------------------------------------------------
  // test_engine_tax_tags (:230-289)
  // -------------------------------------------------------------------
  test("tax_tags engine: signed tags net per line and per account (reference :262-276)") {
    val s = spark; import s.implicits._
    // :252-259 — (fact_id, account, amount, signed tags)
    val rows = Seq(
      (1L, "101001", 2000.0, Seq("+11", "-222T")),
      (2L, "101001", 1000.0, Seq("+11", "-222T")),
      (3L, "101001", 3600.0, Seq("+222T")),
      (4L, "101001", -600.0, Seq("+222T", "-3333")),
      (5L, "101002", -900.0, Seq("-11")),
      (6L, "101002", 1500.0, Seq("+11")))
    val facts = rows.map(r => (r._1, r._2, r._3, false))
      .toDF("fact_id", "account", "amount", "tax_tag_invert")
    val tagNames = rows.flatMap(_._4).distinct.sorted
    val tags = tagNames.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("tag_id", "tag_name")
    val tagId = tagNames.zipWithIndex.toMap
    val bridge = rows.flatMap(r => r._4.map(t => (r._1, tagId(t).toLong)))
      .toDF("fact_id", "tag_id")

    // line totals (:264-270: 5400 / '' / 600)
    val totals = TaxTags.evaluate(facts, bridge, tags)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(totals == Map("11" -> 5400.0, "222T" -> 0.0, "3333" -> 600.0))

    // groupby account sublines (:265-275: 101001 3000 / 101002 2400;
    // 222T shows only 101001 at ''; 3333 only 101001 at 600)
    val byAccount = TaxTags.evaluateBy(facts, bridge, tags, Seq(col("account")))
      .collect().map(r => (r.getString(1), r.getString(0)) -> r.getDouble(2)).toMap
    assert(byAccount == Map(
      ("11", "101001") -> 3000.0, ("11", "101002") -> 2400.0,
      ("222T", "101001") -> 0.0,
      ("3333", "101001") -> 600.0))
  }

  // -------------------------------------------------------------------
  // test_engine_domain (:290-372)
  // -------------------------------------------------------------------
  test("domain engine subformulas: sum, sign gates, count_rows (reference :334-364)") {
    val s = spark; import s.implicits._
    // :325-331
    val j = Seq(("101001", "2020-01-01", 2000.0), ("101002", "2020-01-01", -300.0),
      ("101003", "2020-01-01", -600.0), ("101004", "2020-01-01", -900.0))
      .toDF("account", "d", "balance")
      .withColumn("d", col("d").cast("timestamp"))
    val domain = Seq(("account", "=like", "1%"), ("balance", "<", 0.0))
    val modes = Seq( // (line, negate, mode) in report order (:292-322)
      ("test_line_1", false, "sum"), ("test_line_2", true, "sum"),
      ("test_line_3", false, "sum_if_neg"), ("test_line_4", true, "sum_if_neg"),
      ("test_line_5", false, "sum_if_pos"), ("test_line_6", true, "sum_if_pos"),
      ("test_line_7", false, "count_rows"))
    val exprs = modes.map { case (c, n, m) => RR.Expr(c, RR.DomainSum(domain, n, m)) }
    val out = RR.run(RR.Ctx(j, col("d"), col("account"), col("balance")),
      exprs, Seq(RR.ColumnGroup("p", day2020._1, day2020._2)))("p")

    assert(modes.map { case (c, _, _) => c -> out(c) }.toMap == Map(
      "test_line_1" -> -1800.0, "test_line_2" -> 1800.0,
      "test_line_3" -> -1800.0, "test_line_4" -> 1800.0,
      "test_line_5" -> 0.0, "test_line_6" -> 0.0, // '' — gate failed
      "test_line_7" -> 3.0))

    // groupby sublines (:336-363): per-account values under the same
    // domain; the sign gate is on the LINE total, so the gated lines
    // (5, 6) show no sublines at all, and '-' negates each subline
    val perAccount = j
      .filter(DateScope.predicate(DateScope.StrictRange, col("d"),
        day2020._1, day2020._2) && Domain.compile(domain))
      .groupBy(col("account"))
      .agg(sum(col("balance")).as("v"), count(lit(1)).cast("double").as("n"))
      .orderBy(col("account"))
      .collect().toSeq
    val subs = perAccount.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(subs == Seq(("101002", -300.0, 1.0), ("101003", -600.0, 1.0),
      ("101004", -900.0, 1.0)))
    // test_line_2/4 sublines are the negated per-account sums (:340-347)
    assert(subs.map(t => -t._2) == Seq(300.0, 600.0, 900.0))
  }

  // -------------------------------------------------------------------
  // test_engine_account_codes (:373-507)
  // -------------------------------------------------------------------
  test("account_codes engine: prefixes, exclusions, D/C gates, dotted and lettered codes (reference :448-487)") {
    val s = spark; import s.implicits._
    // :430-437 per-account balances (one line each)
    val balances = Seq("100001" -> 1000.0, "101001" -> 2000.0,
      "101002" -> -300.0, "101003" -> -600.0, "10.20.0" -> 10000.0,
      "345D" -> 10.0)
    val accounts = balances.toDF("code", "balance")

    // the 12 formulas in report order (:375-425) with their expected
    // line totals (:448-487)
    val expected = Seq(
      ("1", 12100.0), ("1C", -900.0), ("1D", 13000.0),
      ("""-101\(101003)""", -1700.0), ("""-101\(101003)C""", 300.0),
      ("""-101\(101002,101003)""", -2000.0),
      ("10.", 10000.0), ("10.20", 10000.0),
      ("10.20 - 101 + 101002", 8600.0), ("""10.20 - 101\(101002)""", 8600.0),
      ("""345D\()D""", 10.0), ("""345D\()C""", 0.0))
    for ((formula, want) <- expected)
      assert(AccountCodes.evaluate(accounts, formula).head().getDouble(0) == want,
        s"formula $formula")

    // groupby sublines: per matched account, gated on the ACCOUNT total,
    // scaled by the term sign; an account matched by several terms keeps
    // the LAST term's value (the reference appends per term and the line
    // expansion overwrites per grouping key — test_line_9 shows 101002 at
    // -300.0 from its '+101002' term, not the net 0.0, :473-477)
    def sublines(formula: String): Seq[(String, Double)] =
      AccountCodes.parse(formula).flatMap { t =>
        balances.collect {
          case (code, bal)
            if code.startsWith(t.prefix) &&
              !t.excluded.exists(code.startsWith) &&
              (t.balanceChar match {
                case Some('D') => bal >= 0
                case Some('C') => bal < 0
                case _ => true
              }) => code -> bal * t.sign
        }
      }.groupBy(_._1).view.mapValues(_.last._2).toSeq.sortBy(_._1)

    assert(sublines("1") == Seq("10.20.0" -> 10000.0, "100001" -> 1000.0,
      "101001" -> 2000.0, "101002" -> -300.0, "101003" -> -600.0))
    assert(sublines("1C") == Seq("101002" -> -300.0, "101003" -> -600.0))
    assert(sublines("1D") == Seq("10.20.0" -> 10000.0, "100001" -> 1000.0,
      "101001" -> 2000.0))
    assert(sublines("""-101\(101003)""") == Seq("101001" -> -2000.0, "101002" -> 300.0))
    assert(sublines("""-101\(101003)C""") == Seq("101002" -> 300.0))
    assert(sublines("""-101\(101002,101003)""") == Seq("101001" -> -2000.0))
    assert(sublines("10.20 - 101 + 101002") == Seq("10.20.0" -> 10000.0,
      "101001" -> -2000.0, "101002" -> -300.0, "101003" -> 600.0))
    assert(sublines("""10.20 - 101\(101002)""") == Seq("10.20.0" -> 10000.0,
      "101001" -> -2000.0, "101003" -> 600.0))
    assert(sublines("""345D\()D""") == Seq("345D" -> 10.0))
    assert(sublines("""345D\()C""") == Nil)
  }

  // -------------------------------------------------------------------
  // test_engine_external (:508-627)
  // -------------------------------------------------------------------
  test("external engine: sum and most_recent across option windows (reference :528-627)") {
    val s = spark; import s.implicits._
    // :510-526 — four values on one expression, probed through both modes
    val ext = Seq(
      ("X", 100.0, "2020-01-02", 1L), ("X", 200.0, "2020-01-03", 2L),
      ("X", 300.0, "2020-01-03", 3L), ("X", 299.999999999, "2020-01-05", 4L))
      .toDF("expression_id", "value", "date", "value_id")
    val dummy = Seq((1, "2020-01-01")).toDF("v", "d")
      .withColumn("d", col("d").cast("timestamp"))
    val exprs = Seq(
      RR.Expr("test_line_1", RR.External("X")),
      RR.Expr("test_line_2", RR.External("X", mostRecent = true)))
    def run(from: String, to: String): (Double, Double) = {
      val out = RR.run(RR.Ctx(dummy, col("d"), col("v"), col("v"),
        external = Some(ext)),
        exprs, Seq(RR.ColumnGroup("p",
          LocalDate.parse(from), LocalDate.parse(to))))("p")
      (r2(out("test_line_1")), r2(out("test_line_2")))
    }
    assert(run("2020-01-01", "2020-01-01") == ((0.0, 0.0)))     // :530-538
    assert(run("2020-01-02", "2020-01-02") == ((100.0, 100.0))) // :540-549
    // both modes 500.0 — most_recent SUMS the two same-dated values (:551-561)
    assert(run("2020-01-03", "2020-01-03") == ((500.0, 500.0)))
    assert(run("2020-01-04", "2020-01-04") == ((0.0, 0.0)))     // :575-584
    assert(run("2020-01-02", "2020-01-04") == ((600.0, 500.0))) // :586-595
    assert(run("2020-01-03", "2020-01-05") == ((800.0, 300.0))) // :617-627
  }

  // -------------------------------------------------------------------
  // test_engine_custom (:628-671): a custom handler delegates to another
  // engine's machinery — here the domain batch, like the reference's
  // patched _custom_engine_test.
  // -------------------------------------------------------------------
  test("custom engine: handler delegating to the domain engine (reference :660-668)") {
    val s = spark; import s.implicits._
    val j = Seq(("101001", "2020-01-01", 2000.0), ("101002", "2020-01-01", -300.0))
      .toDF("account", "d", "balance")
      .withColumn("d", col("d").cast("timestamp"))
    def customEngineTest(journal: DataFrame): Map[String, Double] =
      RR.run(RR.Ctx(journal, col("d"), col("account"), col("balance")),
        Seq(RR.Expr("test_line_1",
          RR.DomainSum(Seq(("account", "=", "101002"))))),
        Seq(RR.ColumnGroup("p", day2020._1, day2020._2)))("p")
    assert(customEngineTest(j)("test_line_1") == -300.0)
  }

  // -------------------------------------------------------------------
  // test_engine_aggregation (:673-863): the full 23-line matrix.
  // -------------------------------------------------------------------
  test("aggregation engine: bounds, currencies, codes-with-digits, div0, scopes (reference :826-851)") {
    val s = spark; import s.implicits._
    // :812-818 journal; the GOL currency trades at 2.0 per USD at the
    // 2020 report date (the test currency's 2017+ rate)
    val j = Seq(
      ("101002", "2019-01-01", 100000.0, Seq.empty[String]),
      ("101001", "2020-01-01", 2000.0, Seq("+11")),
      ("101002", "2020-01-01", -300.0, Seq.empty[String]),
      ("101003", "2020-01-01", 1500.0, Seq.empty[String]))
      .toDF("account", "d", "balance", "tags")
      .withColumn("d", col("d").cast("timestamp"))
    val rates = Map("GOL" -> 2.0)

    // leaves, each through its real engine: the tax_tags total...
    val facts = j.withColumn("fact_id", monotonically_increasing_id())
    val tagTotal = TaxTags.evaluate(
      facts.select(col("fact_id"), col("balance").as("amount"), lit(false).as("tax_tag_invert"))
        .where(lit(true)),
      facts.select(col("fact_id"), explode(col("tags")).as("tag_name"))
        .join(Seq((0L, "+11")).toDF("tag_id", "tn"), col("tag_name") === col("tn"))
        .select(col("fact_id"), col("tag_id")),
      Seq((0L, "+11")).toDF("tag_id", "tag_name"))
      .head().getDouble(1)
    assert(tagTotal == 2000.0)
    // ...domain + externals + account_codes through the runner
    val ext = Seq(("test1.external", 100.0, "2020-01-01", 1L),
      ("test1.external_decimal", 100.47, "2020-01-01", 2L))
      .toDF("expression_id", "value", "date", "value_id")
    val rrOut = RR.run(RR.Ctx(j, col("d"), col("account"), col("balance"),
      external = Some(ext)),
      Seq(
        RR.Expr("test1.domain", RR.DomainSum(Seq(("account", "=", "101002")))),
        RR.Expr("test7.domain", RR.DomainSum(Seq(("account", "=", "101002"))),
          scope = DateScope.ToBeginningOfPeriod),
        RR.Expr("9999.account_codes", RR.CodesFormula("101003")),
        RR.Expr("test1.external", RR.External("test1.external")),
        RR.Expr("test1.external_decimal", RR.External("test1.external_decimal"))),
      Seq(RR.ColumnGroup("p", day2020._1, day2020._2)))("p")
    val leaves = rrOut + ("test1.tax_tags" -> tagTotal)
    assert(leaves("test1.domain") == -300.0)
    assert(leaves("test7.domain") == 100000.0) // other date scope (:745-755)
    assert(leaves("9999.account_codes") == 1500.0)

    // the aggregation expressions, formulas and subformulas verbatim
    // (:673-810), through the real parser incl. GOL conversion
    def b(sub: String) = Seq(AggregationEvaluator.parseBound(sub, rates))
    val E = AggregationEvaluator.Expr
    val aggs = Map(
      "test1.aggregation" -> E("test1.tax_tags + test1.domain"),
      "test1.balance" -> E("test1.tax_tags / 0"),
      "test2_1" -> E("test1.tax_tags", b("if_above(USD(0))")),
      "test2_2" -> E("test1.tax_tags", b("if_above(USD(1999.9999999))")),
      "test2_3" -> E("test1.tax_tags", b("if_above(USD(2500.0))")),
      "test2_4" -> E("test1.tax_tags", b("if_above(GOL(3600.0))")),
      "test3_1" -> E("test1.domain", b("if_below(USD(0))")),
      "test3_2" -> E("test1.domain", b("if_below(USD(-300.00001))")),
      "test3_3" -> E("test1.domain", b("if_below(USD(- 350))")),
      "test4_1" -> E("test1.tax_tags + test1.domain", b("if_between(USD(0), USD(2000))")),
      "test4_2" -> E("test1.tax_tags + test1.domain", b("if_between(GOL(0), GOL(3000))")),
      "9999" -> E("test1.tax_tags + 9999.account_codes"),
      "test6" -> E("(test1.tax_tags + (2 * test1.domain) + 100.0) / (9999.account_codes)"),
      "test7" -> E("test7.domain"),
      "test9" -> E("(test1.tax_tags + (2 * test1.domain) + 100.0 + 1.752e-17) / (9999.account_codes)"),
      "test10_1" -> E("test1.external_decimal", b("round(0)")),
      "test10_2" -> E("test1.external_decimal", b("round(1)")),
      "test10_3" -> E("test1.external_decimal", b("round(3)")),
      "test11_1" -> E("test1.external", b("if_other_expr_above(test1.tax_tags, USD(3000.0))")),
      "test11_2" -> E("test1.external", b("if_other_expr_below(test1.tax_tags, USD(3000.0))")),
      "test11_3" -> E("test1.external", b("if_other_expr_above(test1.tax_tags, USD(1000.0))")),
      "test11_4" -> E("test1.external", b("if_other_expr_below(test1.tax_tags, USD(1000.0))")),
      "test11_5" -> E("test1.external", b("if_other_expr_above(test1.aggregation, USD(1000.0))")),
      "test11_6" -> E("test1.external", b("if_other_expr_below(test1.aggregation, USD(1000.0))")))
    val out = AggregationEvaluator.evaluate(aggs, leaves)
      .view.mapValues(r2).toMap

    // the transcribed matrix (:826-851); '' = 0.0
    assert(out("test1.balance") == 0.0) // division by zero -> '' (:679)
    assert(out("test2_1") == 2000.0)
    assert(out("test2_2") == 0.0) // 2000 NOT above 1999.9999999 at currency precision
    assert(out("test2_3") == 0.0)
    assert(out("test2_4") == 2000.0) // 3600 GOL = 1800 USD < 2000
    assert(out("test3_1") == -300.0)
    assert(out("test3_2") == 0.0) // -300.00001 rounds to -300.00; not below
    assert(out("test3_3") == 0.0)
    assert(out("test4_1") == 1700.0)
    assert(out("test4_2") == 0.0) // 3000 GOL = 1500 USD < 1700
    assert(out("9999") == 3500.0) // digit-led line code resolves as a term
    assert(out("test6") == 1.0)
    assert(out("test7") == 100000.0)
    assert(out("test9") == 1.0) // exponent literal parses
    assert(out("test10_1") == 100.0)
    assert(out("test10_2") == 100.5)
    assert(out("test10_3") == 100.47)
    assert(out("test11_1") == 0.0)
    assert(out("test11_2") == 100.0)
    assert(out("test11_3") == 100.0)
    assert(out("test11_4") == 0.0)
    assert(out("test11_5") == 100.0) // condition on an aggregation expression
    assert(out("test11_6") == 0.0)
  }

  // -------------------------------------------------------------------
  // test_engine_aggregation_cross_report (:865-960)
  // -------------------------------------------------------------------
  test("cross_report terms resolve codes AND aggregations of the other report per forced scope (reference :934-960)") {
    val s = spark; import s.implicits._
    // :866-872
    val j = Seq(("100000", "2020-01-01", 1.0), ("100000", "2021-01-01", 2.0),
      ("200000", "2020-01-01", 3.0), ("200000", "2021-01-01", 4.0),
      ("300000", "2021-01-01", 5.0))
      .toDF("account", "d", "balance")
      .withColumn("d", col("d").cast("timestamp"))
    val p2021 = Seq(RR.ColumnGroup("p",
      LocalDate.of(2021, 1, 1), LocalDate.of(2021, 1, 1)))

    // the other report (:875-898): three account_codes lines + one
    // aggregation over them
    val otherExprs = Seq(
      RR.Expr("other_report_line_1.balance", RR.CodesFormula("1")),
      RR.Expr("other_report_line_2.balance", RR.CodesFormula("2")),
      RR.Expr("other_report_line_3.balance",
        RR.Aggregation("other_report_line_1.balance + other_report_line_2.balance")),
      RR.Expr("other_report_line_4.balance", RR.CodesFormula("3")))
    val otherCtx = RR.Ctx(j, col("d"), col("account"), col("balance"))
    val other = RR.run(otherCtx, otherExprs, p2021)("p")
    assert(Seq("other_report_line_1.balance", "other_report_line_2.balance",
      "other_report_line_3.balance", "other_report_line_4.balance")
      .map(other) == Seq(2.0, 4.0, 6.0, 5.0)) // :934-944

    // the main report (:901-930): cross_report aggregations under two
    // forced scopes, plus local sums over them
    val sumFormula = "main_report_line_1.balance + main_report_line_2.balance + " +
      "main_report_line_3.balance + main_report_line_4.balance"
    val mainExprs = Seq(
      RR.Expr("main_report_line_1.balance", RR.Aggregation(
        "other_report_line_2.balance", crossScope = Some(DateScope.StrictRange))),
      RR.Expr("main_report_line_2.balance", RR.Aggregation(
        "other_report_line_2.balance", crossScope = Some(DateScope.FromBeginning))),
      RR.Expr("main_report_line_3.balance", RR.Aggregation(
        "other_report_line_3.balance", crossScope = Some(DateScope.StrictRange))),
      RR.Expr("main_report_line_4.balance", RR.Aggregation(
        "other_report_line_3.balance", crossScope = Some(DateScope.FromBeginning))),
      RR.Expr("main_report_line_5.balance", RR.Aggregation(sumFormula)),
      RR.Expr("main_report_line_6.balance", RR.Aggregation(sumFormula)))
    val main = RR.run(otherCtx.copy(crossExprs = otherExprs), mainExprs, p2021)("p")
    assert(Seq("main_report_line_1.balance", "main_report_line_2.balance",
      "main_report_line_3.balance", "main_report_line_4.balance",
      "main_report_line_5.balance", "main_report_line_6.balance")
      .map(main) == Seq(4.0, 7.0, 6.0, 10.0, 27.0, 27.0)) // :948-959
  }
}
