package graft

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ColumnGroupPlanner, DateScope}
import graft.report.{Handlers, LineTree}

/** Golden matrices transcribed from the REFERENCE'S OWN trial-balance
  * tests (account_reports/tests/test_trial_balance_report.py) — the
  * multi-pair layout the GL golden spec doesn't cover:
  *
  *  - column pairs: [Initial Balance] [one pair per period] [Total];
  *    period pairs show GROSS debit/credit sums, while the initial and
  *    total pairs are NETTED per line when both sides are nonzero
  *    (account_trial_balance_report.py:19-69 `_update_balance_columns` —
  *    visible as the 100.0/100.0 period pair vs the blank total pair in
  *    the account-group test);
  *  - the unaffected-earnings collapse boundary is the fiscal year of the
  *    EARLIEST column group (with a previous-period comparison the 2016
  *    P&L rows stay on their own accounts in the 2016 pair and no 999999
  *    line exists);
  *  - the account-group hierarchy rolls up by code prefix even when a
  *    middle level has no direct entries (the 10/101/1012 "hole" test).
  *
  * Fixture conventions as in [[GoldenGeneralLedgerSpec]]: company 2
  * converts at the report rate 2.0; '' cells are 0.0. */
class GoldenTrialBalanceSpec extends AnyFunSuite with SparkSpec {

  private val names = Map(
    "121000" -> "Account Receivable", "211000" -> "Account Payable",
    "400000" -> "Product Sales", "600000" -> "Expenses",
    "999999" -> "Undistributed Profits/Losses")
  private val pnl = Seq("400000", "600000")

  /** (move, journal, date, account, company, debit, credit). */
  private def journal(rows: Seq[(String, String, String, String, Int, Double, Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("move", "jrnl", "d", "account", "company", "debit", "credit")
      .withColumn("d", col("d").cast("timestamp"))
      .withColumn("rate", when(col("company") === 2, 2.0).otherwise(1.0))
  }

  /** The shared setUpClass moves (test_trial_balance_report.py:14-68 —
    * the same entries as the GL suite's). */
  private def baseMoves = Seq(
    ("MISC/2016/1", "MISC", "2016-01-01", "211000", 1, 100.0, 0.0),
    ("MISC/2016/1", "MISC", "2016-01-01", "600000", 1, 200.0, 0.0),
    ("MISC/2016/1", "MISC", "2016-01-01", "400000", 1, 0.0, 300.0),
    ("MISC/2016/2", "MISC", "2016-06-01", "211000", 2, 100.0, 0.0),
    ("MISC/2016/2", "MISC", "2016-06-01", "400000", 2, 0.0, 100.0),
    ("INV/2017/1", "INV", "2017-01-01", "121000", 1, 1000.0, 0.0),
    ("INV/2017/1", "INV", "2017-01-01", "400000", 1, 2000.0, 0.0),
    ("INV/2017/1", "INV", "2017-01-01", "400000", 1, 3000.0, 0.0),
    ("INV/2017/1", "INV", "2017-01-01", "400000", 1, 4000.0, 0.0),
    ("INV/2017/1", "INV", "2017-01-01", "400000", 1, 5000.0, 0.0),
    ("INV/2017/1", "INV", "2017-01-01", "400000", 1, 6000.0, 0.0),
    ("INV/2017/1", "INV", "2017-01-01", "600000", 1, 0.0, 6000.0),
    ("INV/2017/1", "INV", "2017-01-01", "600000", 1, 0.0, 7000.0),
    ("INV/2017/1", "INV", "2017-01-01", "600000", 1, 0.0, 8000.0),
    ("BNK1/2017/1", "BNK1", "2017-06-01", "600000", 2, 400.0, 0.0),
    ("BNK1/2017/1", "BNK1", "2017-06-01", "400000", 2, 0.0, 400.0))

  /** The netting rule (account_trial_balance_report.py:19-35): collapse a
    * pair to one side only when BOTH sides are nonzero. */
  private def netPair(d: Double, c: Double): (Double, Double) =
    if (d != 0.0 && c != 0.0) {
      if (d > c) (d - c, 0.0) else (0.0, c - d)
    } else (d, c)

  /** Render the trial balance: one gross (deb, cred) pair per period plus
    * the netted initial and total pairs, rows sorted (account, company),
    * grand-total row last. Row shape: (name, Seq(pair cells...)). */
  private def render(j: DataFrame, periods: Seq[(LocalDate, LocalDate)])
      : Seq[(String, Seq[Double])] = {
    val earliestFrom = periods.map(_._1).min(Ordering.by((d: LocalDate) => d.toString))
    val fyStart = DateScope.fiscalYearStart(earliestFrom, DateScope.FiscalConfig())
    val isPnl = col("account").isin(pnl: _*)
    val collapsed = Handlers.GeneralLedger.collapsePriorYears(
        j.filter(isPnl), col("d"), col("account"), fyStart, 999999L)
      .withColumn("account_collapsed", col("account_collapsed").cast("string"))
      .unionByName(j.filter(!isPnl)
        .withColumn("account_collapsed", col("account")))
    val asTs = (d: LocalDate) => lit(d.toString).cast("timestamp")
    val groups = ColumnGroupPlanner.Group("initial", col("d") < asTs(earliestFrom)) +:
      periods.zipWithIndex.map { case ((f, t), i) =>
        ColumnGroupPlanner.Group(s"p$i",
          DateScope.predicate(DateScope.StrictRange, col("d"), f, t))
      }
    val rows = ColumnGroupPlanner.evaluate(collapsed,
        Seq(col("account_collapsed").as("acct"), col("company")),
        groups,
        Map("deb" -> col("debit") / col("rate"),
          "cred" -> col("credit") / col("rate")))
      .orderBy(col("acct"), col("company"))
      .collect().toSeq
      .map { r =>
        val pairs = groups.map(g => (r.getDouble(r.fieldIndex(s"${g.key}_deb")),
          r.getDouble(r.fieldIndex(s"${g.key}_cred"))))
        val (ti, tc) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
        val cells = netPair(pairs.head._1, pairs.head._2) +:
          pairs.tail :+ netPair(ti, tc)
        (s"${r.getString(0)} ${names.getOrElse(r.getString(0), r.getString(0))}",
          cells.flatMap(p => Seq(p._1, p._2)))
      }
    rows :+ (("Total", rows.map(_._2).transpose.map(_.sum)))
  }

  private def p(f: String, t: String) = (LocalDate.parse(f), LocalDate.parse(t))

  // -------------------------------------------------------------------
  // test_trial_balance_unaffected_earnings_current_fiscal_year (:81-129)
  // -------------------------------------------------------------------
  private def unaffectedMoves = Seq(
    ("M1", "MISC", "2009-12-31", "211000", 1, 1000.0, 0.0),
    ("M1", "MISC", "2009-12-31", "600000", 1, 2000.0, 0.0),
    ("M1", "MISC", "2009-12-31", "400000", 1, 0.0, 3000.0),
    ("M2", "MISC", "2010-01-31", "211000", 1, 1000.0, 0.0),
    ("M2", "MISC", "2010-01-31", "600000", 1, 2000.0, 0.0),
    ("M2", "MISC", "2010-01-31", "400000", 1, 0.0, 3000.0),
    ("M3", "MISC", "2010-02-01", "211000", 1, 100.0, 0.0),
    ("M3", "MISC", "2010-02-01", "600000", 1, 200.0, 0.0),
    ("M3", "MISC", "2010-02-01", "400000", 1, 0.0, 300.0),
    ("M4", "MISC", "2010-03-01", "211000", 1, 1000.0, 0.0),
    ("M4", "MISC", "2010-03-01", "600000", 1, 2000.0, 0.0),
    ("M4", "MISC", "2010-03-01", "400000", 1, 0.0, 3000.0))

  test("unaffected earnings, current fiscal year (reference :115-129)") {
    assert(render(journal(unaffectedMoves), Seq(p("2010-02-01", "2010-02-28"))) == Seq(
      //                                          [ Initial ]      [ Balance ]    [  Total  ]
      ("211000 Account Payable",              Seq(2000.0, 0.0,     100.0, 0.0,    2100.0, 0.0)),
      ("400000 Product Sales",                Seq(0.0, 3000.0,     0.0, 300.0,    0.0, 3300.0)),
      ("600000 Expenses",                     Seq(2000.0, 0.0,     200.0, 0.0,    2200.0, 0.0)),
      ("999999 Undistributed Profits/Losses", Seq(0.0, 1000.0,     0.0, 0.0,      0.0, 1000.0)),
      ("Total",                               Seq(4000.0, 4000.0,  300.0, 300.0,  4300.0, 4300.0))))
  }

  test("unaffected earnings, period from the fiscal-year start (reference :166-179)") {
    // the 2010-01 move shifts from the initial pair into the period pair
    assert(render(journal(unaffectedMoves), Seq(p("2010-01-01", "2010-02-28"))) == Seq(
      ("211000 Account Payable",              Seq(1000.0, 0.0,     1100.0, 0.0,     2100.0, 0.0)),
      ("400000 Product Sales",                Seq(0.0, 0.0,        0.0, 3300.0,     0.0, 3300.0)),
      ("600000 Expenses",                     Seq(0.0, 0.0,        2200.0, 0.0,     2200.0, 0.0)),
      ("999999 Undistributed Profits/Losses", Seq(0.0, 1000.0,     0.0, 0.0,        0.0, 1000.0)),
      ("Total",                               Seq(1000.0, 1000.0,  3300.0, 3300.0,  4300.0, 4300.0))))
  }

  // -------------------------------------------------------------------
  // test_trial_balance_whole_report (:181-201)
  // -------------------------------------------------------------------
  test("whole report 2017 with initial balances from 2016 (reference :185-201)") {
    assert(render(journal(baseMoves), Seq(p("2017-01-01", "2017-12-31"))) == Seq(
      ("121000 Account Receivable",           Seq(0.0, 0.0,      1000.0, 0.0,       1000.0, 0.0)),
      ("211000 Account Payable",              Seq(100.0, 0.0,    0.0, 0.0,          100.0, 0.0)),
      ("211000 Account Payable",              Seq(50.0, 0.0,     0.0, 0.0,          50.0, 0.0)),
      ("400000 Product Sales",                Seq(0.0, 0.0,      20000.0, 0.0,      20000.0, 0.0)),
      ("400000 Product Sales",                Seq(0.0, 0.0,      0.0, 200.0,        0.0, 200.0)),
      ("600000 Expenses",                     Seq(0.0, 0.0,      0.0, 21000.0,      0.0, 21000.0)),
      ("600000 Expenses",                     Seq(0.0, 0.0,      200.0, 0.0,        200.0, 0.0)),
      ("999999 Undistributed Profits/Losses", Seq(0.0, 100.0,    0.0, 0.0,          0.0, 100.0)),
      ("999999 Undistributed Profits/Losses", Seq(0.0, 50.0,     0.0, 0.0,          0.0, 50.0)),
      ("Total",                               Seq(150.0, 150.0,  21200.0, 21200.0,  21350.0, 21350.0))))
  }

  // -------------------------------------------------------------------
  // test_trial_balance_filter_journals (:203-220): sale journal only,
  // company 1 only — the P4-style forced filter drops everything else.
  // -------------------------------------------------------------------
  test("journal filter keeps only the sale journal's rows (reference :207-220)") {
    val j = journal(baseMoves).filter(col("jrnl") === "INV" && col("company") === 1)
    assert(render(j, Seq(p("2017-01-01", "2017-12-31"))) == Seq(
      ("121000 Account Receivable",           Seq(0.0, 0.0,  1000.0, 0.0,       1000.0, 0.0)),
      ("400000 Product Sales",                Seq(0.0, 0.0,  20000.0, 0.0,      20000.0, 0.0)),
      ("600000 Expenses",                     Seq(0.0, 0.0,  0.0, 21000.0,      0.0, 21000.0)),
      ("Total",                               Seq(0.0, 0.0,  21000.0, 21000.0,  21000.0, 21000.0))))
  }

  // -------------------------------------------------------------------
  // test_trial_balance_comparisons (:222-241): previous-period comparison
  // adds a 2016 pair; the collapse boundary follows the earliest group,
  // so the 2016 P&L stays on its own accounts and no 999999 row exists.
  // -------------------------------------------------------------------
  test("previous-period comparison (reference :226-241)") {
    assert(render(journal(baseMoves),
      Seq(p("2016-01-01", "2016-12-31"), p("2017-01-01", "2017-12-31"))) == Seq(
      //                                         [ Initial ]  [   2016   ]    [    2017     ]      [   Total    ]
      ("121000 Account Receivable",           Seq(0.0, 0.0,   0.0, 0.0,       1000.0, 0.0,         1000.0, 0.0)),
      ("211000 Account Payable",              Seq(0.0, 0.0,   100.0, 0.0,     0.0, 0.0,            100.0, 0.0)),
      ("211000 Account Payable",              Seq(0.0, 0.0,   50.0, 0.0,      0.0, 0.0,            50.0, 0.0)),
      ("400000 Product Sales",                Seq(0.0, 0.0,   0.0, 300.0,     20000.0, 0.0,        19700.0, 0.0)),
      ("400000 Product Sales",                Seq(0.0, 0.0,   0.0, 50.0,      0.0, 200.0,          0.0, 250.0)),
      ("600000 Expenses",                     Seq(0.0, 0.0,   200.0, 0.0,     0.0, 21000.0,        0.0, 20800.0)),
      ("600000 Expenses",                     Seq(0.0, 0.0,   0.0, 0.0,       200.0, 0.0,          200.0, 0.0)),
      ("Total",                               Seq(0.0, 0.0,   350.0, 350.0,   21200.0, 21200.0,    21050.0, 21050.0))))
  }

  // -------------------------------------------------------------------
  // test_trial_balance_account_group_with_hole (:243-310)
  // -------------------------------------------------------------------
  test("account groups roll up across a missing middle level (reference :289-310)") {
    // accounts: 100000 with 100/100, 101200 with 200/200 (:303-310 shows
    // the period pair gross and the netted total pair blank); groups 10,
    // 101, 1012 — each account attaches to its LONGEST matching group
    val accounts = Seq(("100000", "Account A", 100.0, 100.0),
      ("101200", "Account A1", 200.0, 200.0))
    val groupPrefixes = Seq("10" -> "Group_10", "101" -> "Group_101",
      "1012" -> "Group_1012")
    def parentOf(prefix: String): Option[String] =
      groupPrefixes.map(_._1).filter(g => g != prefix && prefix.startsWith(g))
        .sortBy(-_.length).headOption
    val groupLines = groupPrefixes.map { case (g, n) =>
      LineTree.Line(g, parentOf(g), s"$g $n", Seq(0.0, 0.0))
    }
    val accountLines = accounts.map { case (code, n, d, c) =>
      val parent = groupPrefixes.map(_._1).filter(code.startsWith)
        .sortBy(-_.length).headOption
      LineTree.Line(code, parent, s"$code $n", Seq(d, c))
    }
    val roots = LineTree.build((groupLines ++ accountLines).sortBy(_.id))
    // rolled-up display values per row, in tree order (:303-310)
    def rollups(ns: Seq[LineTree.Node]): Seq[(String, Seq[Double])] =
      ns.flatMap(n => (n.line.name, n.rollup) +: rollups(n.children))
    val total = roots.map(_.rollup).transpose.map(_.sum)
    assert(rollups(roots) :+ ("Total" -> total) == Seq(
      ("10 Group_10",       Seq(300.0, 300.0)),
      ("100000 Account A",  Seq(100.0, 100.0)),
      ("101 Group_101",     Seq(200.0, 200.0)),
      ("1012 Group_1012",   Seq(200.0, 200.0)),
      ("101200 Account A1", Seq(200.0, 200.0)),
      ("Total",             Seq(300.0, 300.0))))
    // the total PAIR of each row nets to blank (100/100 and 200/200 both
    // cancel — the reference shows '' '' in columns 5-6)
    assert(accounts.map(a => netPair(a._3, a._4)) == Seq((0.0, 0.0), (0.0, 0.0)))
  }
}
