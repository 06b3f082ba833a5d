package graft

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{DateScope, Domain, ReportRunner => RR}

/** Golden matrices transcribed from the REFERENCE'S OWN balance-sheet
  * tests (account_reports/tests/test_financial_report.py), evaluated
  * through the real line definitions of
  * account_reports/data/balance_sheet.xml:
  *
  *  - asset lines are `sum` domains over account types, liability/equity
  *    lines are `-sum` (the sheet displays them sign-flipped);
  *  - Current Year Earnings is a CROSS_REPORT aggregation on the P&L's
  *    net-profit line under the from_fiscalyear scope (:163-171);
  *  - Previous Years Unallocated Earnings is the three-expression line
  *    `balance_domain + allocated_earnings - CURR_YEAR_EARNINGS.balance`
  *    (:191-211) over from_beginning scopes;
  *  - the growth-comparison column follows account_report.py:4445-4472
  *    ((v1-v2)/v2, n/a on zero base, color flipped on negative bases and
  *    on green_on_positive=False lines);
  *  - a horizontal group expands the columns into the period x partner x
  *    account cartesian with forced domains per column.
  *
  * Company 2 converts at rate 2.0; '' cells are 0.0. */
class GoldenBalanceSheetSpec extends AnyFunSuite with SparkSpec {

  // ---- fixture (test_financial_report.py:81-122) ----------------------
  // (account code, account type, partner, company, date, debit, credit)
  private def baseLines: Seq[(String, String, String, Int, String, Double, Double)] = Seq(
    ("code0", "asset_receivable", "partner_a", 1, "2019-01-01", 25.0, 0.0),
    ("code0", "asset_receivable", "partner_b", 1, "2019-01-01", 25.0, 0.0),
    ("code0", "asset_receivable", "partner_c", 1, "2019-01-01", 25.0, 0.0),
    ("code0", "asset_receivable", "partner_a", 1, "2019-01-01", 25.0, 0.0),
    ("code1", "liability_payable", "partner_b", 1, "2019-01-01", 200.0, 0.0),
    ("code2", "asset_cash", "partner_c", 1, "2019-01-01", 0.0, 300.0),
    ("code3", "asset_current", "partner_a", 1, "2019-01-01", 400.0, 0.0),
    ("code4", "asset_prepayments", "partner_b", 1, "2019-01-01", 0.0, 1100.0),
    ("code6", "asset_non_current", "partner_a", 1, "2019-01-01", 700.0, 0.0),
    ("code7", "equity", "partner_b", 1, "2019-01-01", 0.0, 800.0),
    ("code8", "equity_unaffected", "partner_c", 1, "2019-01-01", 800.0, 0.0),
    ("code0", "asset_receivable", "partner_a", 1, "2018-01-01", 1000.0, 0.0),
    ("code2", "asset_cash", "partner_b", 1, "2018-01-01", 0.0, 1000.0),
    ("code0", "asset_receivable", "partner_a", 1, "2018-01-01", 250.0, 0.0),
    ("code9", "income", "partner_a", 1, "2018-01-01", 0.0, 250.0),
    ("code100", "asset_receivable", "partner_a", 2, "2017-01-01", 2000.0, 0.0),
    ("code102", "asset_cash", "partner_b", 2, "2017-01-01", 0.0, 4000.0),
    ("code104", "asset_prepayments", "partner_c", 2, "2017-01-01", 0.0, 5000.0),
    ("code106", "asset_non_current", "partner_a", 2, "2017-01-01", 7000.0, 0.0))

  private def df(rows: Seq[(String, String, String, Int, String, Double, Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("account", "atype", "partner", "company", "d", "debit", "credit")
      .withColumn("d", col("d").cast("timestamp"))
      .withColumn("bal", (col("debit") - col("credit")) /
        when(col("company") === 2, 2.0).otherwise(1.0))
  }

  // ---- the balance_sheet.xml line set, as runner expressions ----------
  private val pnlTypes = Seq("income", "income_other", "expense_direct_cost",
    "expense", "expense_depreciation")
  private def t(v: String) = Seq(("atype", "=", v))
  private val FB = DateScope.FromBeginning
  private val FY = DateScope.FromFiscalyear

  private def exprs: Seq[RR.Expr] = Seq(
    RR.Expr("BA.balance", RR.DomainSum(t("asset_cash")), scope = FB),
    RR.Expr("REC.balance", RR.DomainSum(t("asset_receivable")), scope = FB),
    RR.Expr("CAS.balance", RR.DomainSum(t("asset_current")), scope = FB),
    RR.Expr("PRE.balance", RR.DomainSum(t("asset_prepayments")), scope = FB),
    RR.Expr("FA.balance", RR.DomainSum(t("asset_fixed")), scope = FB),
    RR.Expr("PNCA.balance", RR.DomainSum(t("asset_non_current")), scope = FB),
    RR.Expr("CA.balance", RR.Aggregation("BA.balance + REC.balance + CAS.balance + PRE.balance")),
    RR.Expr("TA.balance", RR.Aggregation("CA.balance + FA.balance + PNCA.balance")),
    RR.Expr("CL1.balance", RR.DomainSum(t("liability_current"), negate = true), scope = FB),
    RR.Expr("CL2.balance", RR.DomainSum(t("liability_payable"), negate = true), scope = FB),
    RR.Expr("CL.balance", RR.Aggregation("CL1.balance + CL2.balance")),
    RR.Expr("NL.balance", RR.DomainSum(t("liability_non_current"), negate = true), scope = FB),
    RR.Expr("L.balance", RR.Aggregation("CL.balance + NL.balance")),
    // Current Year Earnings: cross_report on the P&L's net profit under
    // from_fiscalyear (balance_sheet.xml:163-171)
    RR.Expr("CURR_YEAR_EARNINGS_PNL.balance",
      RR.Aggregation("NEP.balance", crossScope = Some(FY))),
    RR.Expr("CURR_YEAR_EARNINGS_ALLOC.balance",
      RR.DomainSum(t("equity_unaffected"), negate = true), scope = FY),
    RR.Expr("CURR_YEAR_EARNINGS.balance",
      RR.Aggregation("CURR_YEAR_EARNINGS_PNL.balance + CURR_YEAR_EARNINGS_ALLOC.balance")),
    RR.Expr("PREV_YEAR_EARNINGS.balance_domain",
      RR.DomainSum(Seq(("atype", "in", pnlTypes)), negate = true), scope = FB),
    RR.Expr("PREV_YEAR_EARNINGS.allocated_earnings",
      RR.DomainSum(t("equity_unaffected"), negate = true), scope = FB),
    RR.Expr("PREV_YEAR_EARNINGS.balance", RR.Aggregation(
      "PREV_YEAR_EARNINGS.balance_domain + PREV_YEAR_EARNINGS.allocated_earnings - CURR_YEAR_EARNINGS.balance")),
    RR.Expr("UNAFFECTED_EARNINGS.balance",
      RR.Aggregation("CURR_YEAR_EARNINGS.balance + PREV_YEAR_EARNINGS.balance")),
    RR.Expr("RETAINED_EARNINGS.balance",
      RR.DomainSum(t("equity"), negate = true), scope = FB),
    RR.Expr("EQ.balance", RR.Aggregation("UNAFFECTED_EARNINGS.balance + RETAINED_EARNINGS.balance")),
    RR.Expr("LE.balance", RR.Aggregation("L.balance + EQ.balance")))

  // the P&L net-profit leaf referenced by cross_report
  private def crossExprs: Seq[RR.Expr] = Seq(
    RR.Expr("NEP.balance", RR.DomainSum(Seq(("atype", "in", pnlTypes)), negate = true)))

  /** One evaluation as of `to` (balance-sheet single-date mode). */
  private def bs(j: DataFrame, to: LocalDate,
                 forced: Seq[Any] = Nil): Map[String, Double] =
    RR.run(RR.Ctx(j, col("d"), col("account"), col("bal"), crossExprs = crossExprs),
      exprs, Seq(RR.ColumnGroup("p", to, to, forced)))("p")

  /** Display rows: (name, code) in balance_sheet.xml order; Total rows
    * repeat their line's value; sub-account rows are injected by tests. */
  private val displayRows: Seq[(String, String)] = Seq(
    ("ASSETS", "TA"), ("Current Assets", "CA"),
    ("Bank and Cash Accounts", "BA"), ("Receivables", "REC"),
    ("Current Assets", "CAS"), ("Prepayments", "PRE"),
    ("Total Current Assets", "CA"), ("Plus Fixed Assets", "FA"),
    ("Plus Non-current Assets", "PNCA"), ("Total ASSETS", "TA"),
    ("LIABILITIES", "L"), ("Current Liabilities", "CL"),
    ("Current Liabilities", "CL1"), ("Payables", "CL2"),
    ("Total Current Liabilities", "CL"), ("Plus Non-current Liabilities", "NL"),
    ("Total LIABILITIES", "L"),
    ("EQUITY", "EQ"), ("Unallocated Earnings", "UNAFFECTED_EARNINGS"),
    ("Current Year Unallocated Earnings", "CURR_YEAR_EARNINGS"),
    ("Current Year Earnings", "CURR_YEAR_EARNINGS_PNL"),
    ("Current Year Allocated Earnings", "CURR_YEAR_EARNINGS_ALLOC"),
    ("Total Current Year Unallocated Earnings", "CURR_YEAR_EARNINGS"),
    ("Previous Years Unallocated Earnings", "PREV_YEAR_EARNINGS"),
    ("Total Unallocated Earnings", "UNAFFECTED_EARNINGS"),
    ("Retained Earnings", "RETAINED_EARNINGS"), ("Total EQUITY", "EQ"),
    ("LIABILITIES + EQUITY", "LE"))

  private def matrix(out: Map[String, Double]): Seq[(String, Double)] =
    displayRows.map { case (n, c) => (n, out(s"$c.balance")) }

  // ---- test_financial_report_strict_range_on_report_lines_... (:189-220)
  test("strict-range domain lines with an aggregation total (reference :189-220)") {
    val j = df(baseLines).filter(col("company") === 1)
    def run(from: String, to: String) =
      RR.run(RR.Ctx(j, col("d"), col("account"), col("bal")),
        Seq(
          RR.Expr("INVA.balance", RR.DomainSum(Seq(("partner", "=", "partner_a")))),
          RR.Expr("INVB.balance", RR.DomainSum(Seq(("partner", "=", "partner_b")))),
          RR.Expr("INVT.balance", RR.Aggregation("INVA.balance + INVB.balance"))),
        Seq(RR.ColumnGroup("p", LocalDate.parse(from), LocalDate.parse(to))))("p")
    val y2019 = run("2019-01-01", "2019-12-31")
    assert(y2019("INVA.balance") == 1150.0)
    assert(y2019("INVB.balance") == -1675.0)
    assert(y2019("INVT.balance") == -525.0)
    val empty = run("2019-03-01", "2019-03-31")
    assert(empty("INVA.balance") == 0.0 && empty("INVB.balance") == 0.0 &&
      empty("INVT.balance") == 0.0)
  }

  // ---- test_financial_report_single_company (:353-412) ----------------
  test("single-company balance sheet with unfolded bank line (reference :360-399)") {
    val j = df(baseLines).filter(col("company") === 1)
    val out = bs(j, LocalDate.of(2019, 12, 31))
    assert(matrix(out) == Seq(
      ("ASSETS", 50.0), ("Current Assets", -650.0),
      ("Bank and Cash Accounts", -1300.0), ("Receivables", 1350.0),
      ("Current Assets", 400.0), ("Prepayments", -1100.0),
      ("Total Current Assets", -650.0), ("Plus Fixed Assets", 0.0),
      ("Plus Non-current Assets", 700.0), ("Total ASSETS", 50.0),
      ("LIABILITIES", -200.0), ("Current Liabilities", -200.0),
      ("Current Liabilities", 0.0), ("Payables", -200.0),
      ("Total Current Liabilities", -200.0), ("Plus Non-current Liabilities", 0.0),
      ("Total LIABILITIES", -200.0),
      ("EQUITY", 250.0), ("Unallocated Earnings", -550.0),
      ("Current Year Unallocated Earnings", -800.0),
      ("Current Year Earnings", 0.0), ("Current Year Allocated Earnings", -800.0),
      ("Total Current Year Unallocated Earnings", -800.0),
      ("Previous Years Unallocated Earnings", 250.0),
      ("Total Unallocated Earnings", -550.0), ("Retained Earnings", 800.0),
      ("Total EQUITY", 250.0), ("LIABILITIES + EQUITY", 50.0)))
    // unfolded Bank and Cash Accounts sublines (:402-412)
    val subs = j.filter(Domain.compile(t("asset_cash")) &&
        DateScope.predicate(FB, col("d"),
          LocalDate.of(2019, 12, 31), LocalDate.of(2019, 12, 31)))
      .groupBy(col("account")).agg(sum(col("bal")).as("v"))
      .orderBy(col("account")).collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(subs == Seq(("code2", -1300.0)))
  }

  // ---- test_financial_report_multi_company_currency (:413-473) --------
  test("multi-company balance sheet converts company 2 at the report rate (reference :419-455)") {
    val j = df(baseLines)
    val out = bs(j, LocalDate.of(2019, 12, 31))
    assert(matrix(out) == Seq(
      ("ASSETS", 50.0), ("Current Assets", -4150.0),
      ("Bank and Cash Accounts", -3300.0), ("Receivables", 2350.0),
      ("Current Assets", 400.0), ("Prepayments", -3600.0),
      ("Total Current Assets", -4150.0), ("Plus Fixed Assets", 0.0),
      ("Plus Non-current Assets", 4200.0), ("Total ASSETS", 50.0),
      ("LIABILITIES", -200.0), ("Current Liabilities", -200.0),
      ("Current Liabilities", 0.0), ("Payables", -200.0),
      ("Total Current Liabilities", -200.0), ("Plus Non-current Liabilities", 0.0),
      ("Total LIABILITIES", -200.0),
      ("EQUITY", 250.0), ("Unallocated Earnings", -550.0),
      ("Current Year Unallocated Earnings", -800.0),
      ("Current Year Earnings", 0.0), ("Current Year Allocated Earnings", -800.0),
      ("Total Current Year Unallocated Earnings", -800.0),
      ("Previous Years Unallocated Earnings", 250.0),
      ("Total Unallocated Earnings", -550.0), ("Retained Earnings", 800.0),
      ("Total EQUITY", 250.0), ("LIABILITIES + EQUITY", 50.0)))
    // unfolded bank sublines across companies, code-sorted (:461-473)
    val subs = j.filter(Domain.compile(t("asset_cash")))
      .groupBy(col("account")).agg(sum(col("bal")).as("v"))
      .orderBy(col("account")).collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(subs == Seq(("code102", -2000.0), ("code2", -1300.0)))
  }

  // ---- test_financial_report_comparison (:474-522) --------------------
  test("growth-comparison column: pct, n/a, and color semantics (reference :481-521)") {
    // account_report.py:4445-4472 — transcribed rule
    def growth(v1: Double, v2: Double, greenOnPositive: Boolean): (String, String) = {
      if (math.abs(v2) < 0.05) ("n/a", "number")
      else {
        val res = BigDecimal((v1 - v2) / v2 * 100)
          .setScale(1, BigDecimal.RoundingMode.HALF_EVEN).toDouble
        if (math.abs(res) < 0.05) ("0.0%", "number")
        else if ((res > 0) != (greenOnPositive && v2 > 0))
          (s"$res%", "number color-red")
        else (s"$res%", "number color-green")
      }
    }
    val redFlagged = Set("L", "CL", "CL1", "CL2", "NL", "LE") // green_on_positive=False
    val j = df(baseLines)
    val cur = bs(j, LocalDate.of(2019, 12, 31))
    val prev = bs(j, LocalDate.of(2018, 12, 31))
    val got = displayRows.map { case (n, c) =>
      val (pct, cls) = growth(cur(s"$c.balance"), prev(s"$c.balance"),
        !redFlagged(c))
      (n, pct, cls)
    }
    // the matrix rows of :481-521 that carry a growth cell (the account
    // sublines are covered by the code102/code2 checks below)
    val expected = Seq(
      ("ASSETS", "-80.0%", "number color-red"),
      ("Current Assets", "27.7%", "number color-red"),
      ("Bank and Cash Accounts", "10.0%", "number color-red"),
      ("Receivables", "4.4%", "number color-green"),
      ("Current Assets", "n/a", "number"),
      ("Prepayments", "44.0%", "number color-red"),
      ("Total Current Assets", "27.7%", "number color-red"),
      ("Plus Non-current Assets", "20.0%", "number color-green"),
      ("Total ASSETS", "-80.0%", "number color-red"),
      ("LIABILITIES", "n/a", "number"),
      ("Current Liabilities", "n/a", "number"),
      ("Payables", "n/a", "number"),
      ("Total Current Liabilities", "n/a", "number"),
      ("Total LIABILITIES", "n/a", "number"),
      ("EQUITY", "0.0%", "number"),
      ("Unallocated Earnings", "-320.0%", "number color-red"),
      ("Current Year Unallocated Earnings", "-420.0%", "number color-red"),
      ("Current Year Earnings", "-100.0%", "number color-red"),
      ("Current Year Allocated Earnings", "n/a", "number"),
      ("Total Current Year Unallocated Earnings", "-420.0%", "number color-red"),
      ("Previous Years Unallocated Earnings", "n/a", "number"),
      ("Total Unallocated Earnings", "-320.0%", "number color-red"),
      ("Retained Earnings", "n/a", "number"),
      ("Total EQUITY", "0.0%", "number"),
      ("LIABILITIES + EQUITY", "-80.0%", "number color-green"))
    for (e <- expected)
      assert(got.contains(e), s"missing growth row $e; got ${got.filter(_._1 == e._1)}")
    // the two bank sublines (:485-486): code102 flat, code2 degrading
    assert(growth(-2000.0, -2000.0, greenOnPositive = true) == (("0.0%", "number")))
    assert(growth(-1300.0, -1000.0, greenOnPositive = true) ==
      (("30.0%", "number color-red")))
  }

  // ---- test_financial_report_horizontal_group (:523-586) --------------
  test("horizontal group expands columns to the period x partner x account cartesian (reference :552-585)") {
    val j = df(baseLines)
    // 2 periods x 2 partners x 2 accounts = 8 forced column groups
    val groups = for {
      (label, to) <- Seq("2019" -> LocalDate.of(2019, 12, 31),
        "2018" -> LocalDate.of(2018, 12, 31))
      p <- Seq("partner_a", "partner_b")
      a <- Seq("code0", "code1")
    } yield RR.ColumnGroup(s"$label|$p|$a", to, to,
      forced = Seq(("partner", "=", p), ("account", "=", a)))
    val out = RR.run(RR.Ctx(j, col("d"), col("account"), col("bal"),
      crossExprs = crossExprs), exprs, groups)
    def row(code: String): Seq[Double] =
      groups.map(g => out(g.key)(s"$code.balance"))
    // Receivables row (:557-561): partner_a x code0 = 1300 in 2019 /
    // 1250 in 2018, partner_b x code0 = 25 / 0, code1 columns empty
    assert(row("REC") == Seq(1300.0, 0.0, 25.0, 0.0, 1250.0, 0.0, 0.0, 0.0))
    assert(row("CA") == Seq(1300.0, 0.0, 25.0, 0.0, 1250.0, 0.0, 0.0, 0.0))
    assert(row("TA") == Seq(1300.0, 0.0, 25.0, 0.0, 1250.0, 0.0, 0.0, 0.0))
    // LIABILITIES rows (:566-572): only partner_b x code1 in 2019
    assert(row("CL2") == Seq(0.0, 0.0, 0.0, -200.0, 0.0, 0.0, 0.0, 0.0))
    assert(row("CL") == Seq(0.0, 0.0, 0.0, -200.0, 0.0, 0.0, 0.0, 0.0))
    assert(row("L") == Seq(0.0, 0.0, 0.0, -200.0, 0.0, 0.0, 0.0, 0.0))
    // EQUITY block all empty, so LIABILITIES + EQUITY mirrors L (:574-585)
    assert(row("EQ") == Seq.fill(8)(0.0))
    assert(row("LE") == Seq(0.0, 0.0, 0.0, -200.0, 0.0, 0.0, 0.0, 0.0))
    // bank/current/prepayment asset rows are empty everywhere (:554-556)
    assert(row("BA") == Seq.fill(8)(0.0))
    assert(row("CAS") == Seq.fill(8)(0.0))
    assert(row("PRE") == Seq.fill(8)(0.0))
  }

  // ---- test_balance_sheet_today_current_year_earnings (:222-279) ------
  test("current-year earnings flow through the cross-report P&L line (reference :240-279)") {
    // a 110.0 invoice on 2016-02-02: receivable +110, income -110
    val j = df(Seq(
      ("code0", "asset_receivable", "partner_a", 1, "2016-02-02", 110.0, 0.0),
      ("code9", "income", "partner_a", 1, "2016-02-02", 0.0, 110.0)))
    val out = bs(j, LocalDate.of(2016, 6, 6))
    assert(matrix(out) == Seq(
      ("ASSETS", 110.0), ("Current Assets", 110.0),
      ("Bank and Cash Accounts", 0.0), ("Receivables", 110.0),
      ("Current Assets", 0.0), ("Prepayments", 0.0),
      ("Total Current Assets", 110.0), ("Plus Fixed Assets", 0.0),
      ("Plus Non-current Assets", 0.0), ("Total ASSETS", 110.0),
      ("LIABILITIES", 0.0), ("Current Liabilities", 0.0),
      ("Current Liabilities", 0.0), ("Payables", 0.0),
      ("Total Current Liabilities", 0.0), ("Plus Non-current Liabilities", 0.0),
      ("Total LIABILITIES", 0.0),
      ("EQUITY", 110.0), ("Unallocated Earnings", 110.0),
      ("Current Year Unallocated Earnings", 110.0),
      ("Current Year Earnings", 110.0), ("Current Year Allocated Earnings", 0.0),
      ("Total Current Year Unallocated Earnings", 110.0),
      ("Previous Years Unallocated Earnings", 0.0),
      ("Total Unallocated Earnings", 110.0), ("Retained Earnings", 0.0),
      ("Total EQUITY", 110.0), ("LIABILITIES + EQUITY", 110.0)))
  }
}
