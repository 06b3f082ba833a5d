package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.report.Handlers

/** Golden matrices transcribed from the REFERENCE'S OWN multicurrency
  * revaluation tests
  * (account_reports/tests/test_multicurrencies_revaluation_report.py).
  *
  * The report values each foreign-currency line's RESIDUAL (after
  * reconciliation, proportional in both the currency and company
  * amounts) at the report-period rate:
  *   amount_currency | booked balance | amount_currency / rate | delta
  * grouped per currency and account, with an Excluded Accounts section
  * for accounts toggled out of the adjustment, and a provision wizard
  * that books one (account, provision) pair per adjusted account.
  *
  * Fixture lines carry the residuals the reference's reconciliations
  * produce (e.g. receivable_line_1, posted 2000 Gol / 800 USD and paid
  * 1300 Gol / 400 USD, leaves 700 Gol / 280 USD — proportional on the
  * currency side, :89-114). */
class GoldenMulticurrencyRevalSpec extends AnyFunSuite with SparkSpec {

  private def r2(v: Double): Double = math.floor(v * 100 + 0.5) / 100

  /** (line label, account, currency id, residual amount_currency,
    * residual balance). */
  private def lines(rows: Seq[(String, String, Long, Double, Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("line", "account", "cur", "amount_currency", "balance")
  }

  /** Per-line revaluation rows + per-account and per-currency totals,
    * split into adjust/excluded sections like the reference's
    * `_get_lines`. Row: (section, name, amount_currency, balance,
    * current_value, adjustment). */
  private def render(df: DataFrame, rate: Double, excluded: Set[String])
      : Seq[(String, String, Double, Double, Double, Double)] = {
    val rows = df.collect().toSeq.map { r =>
      (r.getString(1), r.getString(0), r.getDouble(3), r.getDouble(4))
    }
    def section(accts: Seq[(String, Seq[(String, Double, Double)])], name: String) =
      accts.flatMap { case (acct, ls) =>
        val (ac, bal) = (ls.map(_._2).sum, ls.map(_._3).sum)
        def row(n: String, a: Double, b: Double) =
          (name, n, r2(a), r2(b), r2(a / rate), r2(a / rate - b))
        row(acct, ac, bal) +:
          ls.map(l => row(l._1, l._2, l._3)) :+
          row(s"Total $acct", ac, bal)
      }
    val byAcct = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (a, ls) => (a, ls.map(l => (l._2, l._3, l._4))) }
    val (excl, adj) = byAcct.partition(t => excluded(t._1))
    section(adj, "adjust") ++ section(excl, "excluded")
  }

  /** The provision wizard's entries (:137-151): per adjusted account, the
    * adjustment against the income (positive) or expense (negative)
    * provision account. */
  private def provisionEntries(df: DataFrame, rate: Double, excluded: Set[String])
      : Seq[(String, Double, Double)] =
    df.collect().toSeq.map(r => (r.getString(1), r.getDouble(3), r.getDouble(4)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .filterNot(t => excluded(t._1))
      .flatMap { case (acct, ls) =>
        val adjRaw = ls.map(_._2).sum / rate - ls.map(_._3).sum
        val adj = r2(adjRaw)
        if (adj > 0) Seq((acct, adj, 0.0), ("income_provision", 0.0, adj))
        else if (adj < 0) Seq((acct, 0.0, -adj), ("expense_provision", -adj, 0.0))
        else Nil
      }

  // residuals after the same-currency reconciliation (:57-84):
  // receivable_line_1 2000/800 paid 1300/400 -> 700/280;
  // receivable_line_2 500/200 untouched
  private def sameCurrencyLines = lines(Seq(
    ("INV/2016/00001 receivable_line_1", "121000 Account Receivable", 1L, 700.0, 280.0),
    ("INV/2016/00001 receivable_line_2", "121000.1 Account Receivable", 1L, 500.0, 200.0)))

  test("same currency at the 2016 rate 3.0 (reference :89-114)") {
    assert(render(sameCurrencyLines, rate = 3.0, excluded = Set.empty) == Seq(
      ("adjust", "121000 Account Receivable",          700.0, 280.0, 233.33, -46.67),
      ("adjust", "INV/2016/00001 receivable_line_1",   700.0, 280.0, 233.33, -46.67),
      ("adjust", "Total 121000 Account Receivable",    700.0, 280.0, 233.33, -46.67),
      ("adjust", "121000.1 Account Receivable",        500.0, 200.0, 166.67, -33.33),
      ("adjust", "INV/2016/00001 receivable_line_2",   500.0, 200.0, 166.67, -33.33),
      ("adjust", "Total 121000.1 Account Receivable",  500.0, 200.0, 166.67, -33.33)))
    // the currency header/total row through the real aggregate handler
    val s = spark; import s.implicits._
    val agg = Handlers.MulticurrencyReval.compute(
      sameCurrencyLines.withColumnRenamed("cur", "cur_id"),
      col("cur_id"), col("balance"), col("amount_currency"),
      asOfRates = Seq((1L, 3.0)),
      excludedKeys = Seq.empty[String].toDF("account"), keyCol = "account")
      .head()
    assert((agg.getDouble(1), agg.getDouble(2), agg.getDouble(3)) ==
      ((480.0, 1200.0, -80.0))) // Total Gol row (:95/:103)
  }

  test("same currency at the 2017 rate 2.0, with the provision wizard (reference :116-151)") {
    assert(render(sameCurrencyLines, rate = 2.0, excluded = Set.empty) == Seq(
      ("adjust", "121000 Account Receivable",          700.0, 280.0, 350.0, 70.0),
      ("adjust", "INV/2016/00001 receivable_line_1",   700.0, 280.0, 350.0, 70.0),
      ("adjust", "Total 121000 Account Receivable",    700.0, 280.0, 350.0, 70.0),
      ("adjust", "121000.1 Account Receivable",        500.0, 200.0, 250.0, 50.0),
      ("adjust", "INV/2016/00001 receivable_line_2",   500.0, 200.0, 250.0, 50.0),
      ("adjust", "Total 121000.1 Account Receivable",  500.0, 200.0, 250.0, 50.0)))
    // wizard entries (:143-151): each positive adjustment debits its
    // account and credits the income provision
    assert(provisionEntries(sameCurrencyLines, 2.0, Set.empty) == Seq(
      ("121000 Account Receivable", 70.0, 0.0), ("income_provision", 0.0, 70.0),
      ("121000.1 Account Receivable", 50.0, 0.0), ("income_provision", 0.0, 50.0)))
  }

  test("multi-currency payment consumes the whole Gol residual of line 1 (reference :153-215)") {
    // :153-193 — the mixed payment (1300 Gol + 5250 DC + 50 USD legs)
    // fully consumes receivable_line_1, leaving only line_2 in the Gol
    // section at the 2017 rate
    val residualLines = lines(Seq(
      ("INV/2016/00001 receivable_line_2", "121000.1 Account Receivable", 1L, 500.0, 200.0)))
    assert(render(residualLines, rate = 2.0, excluded = Set.empty) == Seq(
      ("adjust", "121000.1 Account Receivable",        500.0, 200.0, 250.0, 50.0),
      ("adjust", "INV/2016/00001 receivable_line_2",   500.0, 200.0, 250.0, 50.0),
      ("adjust", "Total 121000.1 Account Receivable",  500.0, 200.0, 250.0, 50.0)))
  }

  test("excluded account moves to its own section and out of the wizard (reference :216-280)") {
    val excluded = Set("121000 Account Receivable")
    assert(render(sameCurrencyLines, rate = 2.0, excluded = excluded) == Seq(
      ("adjust", "121000.1 Account Receivable",        500.0, 200.0, 250.0, 50.0),
      ("adjust", "INV/2016/00001 receivable_line_2",   500.0, 200.0, 250.0, 50.0),
      ("adjust", "Total 121000.1 Account Receivable",  500.0, 200.0, 250.0, 50.0),
      ("excluded", "121000 Account Receivable",        700.0, 280.0, 350.0, 70.0),
      ("excluded", "INV/2016/00001 receivable_line_1", 700.0, 280.0, 350.0, 70.0),
      ("excluded", "Total 121000 Account Receivable",  700.0, 280.0, 350.0, 70.0)))
    assert(provisionEntries(sameCurrencyLines, 2.0, excluded) == Seq(
      ("121000.1 Account Receivable", 50.0, 0.0), ("income_provision", 0.0, 50.0)))
    // the handler's anti-join drops the excluded account from the
    // currency aggregate (q55's machinery)
    val s = spark; import s.implicits._
    val agg = Handlers.MulticurrencyReval.compute(
      sameCurrencyLines.withColumnRenamed("cur", "cur_id"),
      col("cur_id"), col("balance"), col("amount_currency"),
      asOfRates = Seq((1L, 2.0)),
      excludedKeys = Seq("121000 Account Receivable").toDF("account"),
      keyCol = "account")
      .head()
    assert((agg.getDouble(1), agg.getDouble(2), agg.getDouble(3)) ==
      ((200.0, 500.0, 50.0)))
  }
}
