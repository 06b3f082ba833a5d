package graft

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.report.Handlers

/** Golden values transcribed from the REFERENCE'S OWN journal-report
  * tests (account_reports/tests/test_journal_report.py) — the bank
  * section of the journal audit: a running balance SEEDED by the
  * journal's history before the period ("Starting Balance"), one line
  * per move with the counterpart account, the closing "Ending Balance",
  * the amount-in-currency column shown only for foreign-currency lines,
  * and the month-grouping section totals. Display plumbing (tax grids,
  * payment-reference naming) is out of engine scope per SURVEY §2.1;
  * the numbers here are the semantics. */
class GoldenJournalReportSpec extends AnyFunSuite with SparkSpec {

  /** Bank-journal lines: (move, date, counterpart account, amount into
    * the bank account, amount_currency or null). */
  private def bankLines(rows: Seq[(String, String, String, Double, Option[Double])]): DataFrame = {
    val s = spark; import s.implicits._
    rows.zipWithIndex.map { case ((m, d, a, v, ac), i) =>
      (m, d, a, v, ac, i.toLong)
    }.toDF("move", "d", "account", "amount", "amount_currency", "lid")
      .withColumn("d", col("d").cast("timestamp"))
  }

  private case class Row(name: String, account: String, credit: Double,
                         balance: Double, amountCurrency: Option[Double])

  /** Render the bank journal section: Starting Balance (history before
    * `from`), per-move rows with the running balance, Ending Balance. */
  private def render(j: DataFrame, from: LocalDate, to: LocalDate): Seq[Row] = {
    val detail = Handlers.Ledger.runningDetail(j, col("d"), lit("BNK"),
        col("lid"), col("amount"), from, to)
      .orderBy(col("d"), col("lid"))
      .select(col("move"), col("account"), col("amount"),
        col("running_bal"), col("amount_currency"), col("init_bal"))
      .collect().toSeq
    val start = detail.headOption
      .filterNot(r => r.isNullAt(r.fieldIndex("init_bal")))
      .map(r => r.getDouble(r.fieldIndex("init_bal"))).getOrElse(0.0)
    // money INTO the bank renders in the counterpart's credit column; a
    // foreign-currency credit leg displays its amount_currency positive
    val body = detail.map { r =>
      Row(r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(-r.getDouble(4)))
    }
    Row("Starting Balance :", "", 0.0, start, None) +:
      body :+ Row("Ending Balance :", "", 0.0,
        body.lastOption.map(_.balance).getOrElse(start), None)
  }

  // setUpClass bank moves (test_journal_report.py:20-43): +100 into the
  // bank in 2016 (the starting balance), +200 in 2017, both against the
  // revenue account
  private def baseBank = Seq(
    ("BNK1/2016/00001", "2016-01-01", "400000 Product Sales", 100.0, Option.empty[Double]),
    ("BNK1/2017/00001", "2017-01-01", "400000 Product Sales", 200.0, Option.empty[Double]))

  test("bank journal: starting balance seeds the running balance (reference :221-239)") {
    assert(render(bankLines(baseBank),
      LocalDate.of(2017, 1, 1), LocalDate.of(2017, 1, 31)) == Seq(
      Row("Starting Balance :", "", 0.0, 100.0, None),
      Row("BNK1/2017/00001", "400000 Product Sales", 200.0, 300.0, None),
      Row("Ending Balance :", "", 0.0, 300.0, None)))
  }

  test("bank journal: a foreign-currency line shows its amount in currency (reference :241-283)") {
    // :247-270 — move_2017_6: 175.0 into the bank against a revenue line
    // carrying amount_currency -150 Dark Choco; the multicurrency column
    // renders 150 only on that line (and disappears when multicurrency
    // is disabled, :285-320 — same numbers, blank column)
    val j = bankLines(baseBank :+
      (("BNK1/2017/00002", "2017-01-02", "400000 Product Sales", 175.0, Some(-150.0))))
    assert(render(j, LocalDate.of(2017, 1, 1), LocalDate.of(2017, 1, 31)) == Seq(
      Row("Starting Balance :", "", 0.0, 100.0, None),
      Row("BNK1/2017/00001", "400000 Product Sales", 200.0, 300.0, None),
      Row("BNK1/2017/00002", "400000 Product Sales", 175.0, 475.0, Some(150.0)),
      Row("Ending Balance :", "", 0.0, 475.0, None)))
  }

  test("sale journal grouped by months (reference :322-378)") {
    val s = spark; import s.implicits._
    // the sale journal's invoice receivable totals per month: four
    // January invoices (3000 + 1500 + 1000 + 1650) and one February
    // (3000) — the month headers section the unfolded journal
    val sales = Seq(
      ("INV/2017/00001", "2017-01-01", 3000.0, "none"),
      ("INV/2017/00002", "2017-01-01", 1500.0, "none"),
      ("INV/2017/00003", "2017-01-01", 1000.0, "none"),
      ("INV/2017/00004", "2017-01-01", 1650.0, "t10"),
      ("INV/2017/00005", "2017-02-02", 3000.0, "none"))
      .toDF("move", "d", "amount", "tax_group")
      .withColumn("d", col("d").cast("timestamp"))
      .withColumn("lid", monotonically_increasing_id())
    val out = Handlers.JournalReport.render(
      sales.withColumn("jrnl", lit("INV")), col("d"), col("jrnl"), "INV",
      col("lid"), col("amount"), col("tax_group"),
      LocalDate.of(2017, 1, 1), LocalDate.of(2017, 3, 31))
    val months = out.filter(col("sect") === 0).orderBy(col("mth"))
      .select(col("mth"), col("amount")).collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(months == Seq(("2017-01", 7150.0), ("2017-02", 3000.0)))
    // the per-move lines carry a running balance in display order
    val linesSect = out.filter(col("sect") === 1).orderBy(col("line_id"))
      .select(col("amount"), col("run_bal")).collect().toSeq
      .map(r => (r.getDouble(0), r.getDouble(1)))
    assert(linesSect == Seq((3000.0, 3000.0), (1500.0, 4500.0),
      (1000.0, 5500.0), (1650.0, 7150.0), (3000.0, 10150.0)))
    // the tax summary section aggregates per tax group
    val tax = out.filter(col("sect") === 2).orderBy(col("grp"))
      .select(col("grp"), col("amount")).collect().toSeq
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(tax == Seq(("none", 8500.0), ("t10", 1650.0)))
  }
}
