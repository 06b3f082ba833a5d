package graft

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ColumnGroupPlanner, DateScope}

/** Golden matrices transcribed from the REFERENCE'S OWN partner-ledger
  * tests (account_reports/tests/test_partner_ledger_report.py).
  *
  * Semantics pinned:
  *  - partner rows total initial+period gross debit/credit over the
  *    receivable/payable accounts, with the Unknown Partner line last;
  *  - unfolding shows an Initial Balance row (when nonzero) and per-line
  *    rows with a running balance threaded in DISPLAY order;
  *  - reconciling a partnered line against an unknown-partner line
  *    synthesizes a counter PAIR — the amount credited to the partner and
  *    debited back to Unknown, both dated at the partial's latest line
  *    date — shown after the group's natural rows, and only on reports
  *    whose window reaches that date (the reference's
  *    test_partner_ledger_unknown_partner:242-361 walks all four
  *    windows);
  *  - company 2 converts at the report rate 2.0; '' cells are 0.0. */
class GoldenPartnerLedgerSpec extends AnyFunSuite with SparkSpec {

  /** setUpClass lines (:29-87): (partner, account type, company, date,
    * debit, credit). */
  private def baseLines: Seq[(String, String, Int, String, Double, Double)] = Seq(
    ("partner_a", "pay", 1, "2016-01-01", 100.0, 0.0),
    ("partner_b", "pay", 1, "2016-01-01", 200.0, 0.0),
    ("partner_c", "rec", 1, "2016-01-01", 0.0, 300.0),
    ("partner_a", "pay", 2, "2016-06-01", 100.0, 0.0),
    ("partner_c", "rec", 2, "2016-06-01", 0.0, 100.0),
    ("partner_b", "pay", 1, "2017-01-01", 1000.0, 0.0),
    ("partner_a", "pay", 1, "2017-01-01", 2000.0, 0.0),
    ("partner_a", "pay", 1, "2017-01-01", 3000.0, 0.0),
    ("partner_a", "rec", 1, "2017-01-01", 4000.0, 0.0),
    ("partner_a", "rec", 1, "2017-01-01", 5000.0, 0.0),
    ("partner_a", "rec", 1, "2017-01-01", 6000.0, 0.0),
    ("partner_c", "rec", 1, "2017-01-01", 0.0, 6000.0),
    ("partner_c", "rec", 1, "2017-01-01", 0.0, 7000.0),
    ("partner_c", "rec", 1, "2017-01-01", 0.0, 8000.0),
    (null, "rec", 2, "2017-06-01", 400.0, 0.0),
    (null, "rec", 2, "2017-06-01", 0.0, 400.0))

  /** The unknown-partner test's extra move (:248-255) and its
    * reconciliation (:281-284): partner_a's 4000 receivable debit against
    * the unpartnered 1000 credit -> a synthetic counter pair of 1000
    * dated at the partial's latest line date, 2017-03-31. */
  private val miscLines = Seq(
    (null: String, "rec", 1, "2017-03-31", 0.0, 1000.0))
  private case class Partial(partner: String, amount: Double, date: String)
  private val miscPartial = Partial("partner_a", 1000.0, "2017-03-31")

  private def df(rows: Seq[(String, String, Int, String, Double, Double, Long, Int)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.map { case (p, a, c, d, deb, cred, lid, sect) =>
      (Option(p), a, c, d, deb / (if (c == 2) 2.0 else 1.0),
        cred / (if (c == 2) 2.0 else 1.0), lid, sect)
    }.toDF("partner", "atype", "company", "d", "debit", "credit", "lid", "sect")
      .withColumn("d", col("d").cast("timestamp"))
  }

  private case class Row(name: String, deb: Double, cred: Double, bal: Double)

  /** Render like the reference's `_get_lines`: partner rows (Unknown
    * last), optional sublines (Initial Balance when nonzero, period rows
    * with a running balance in display order — natural rows first, then
    * the synthetic reconciliation counter-rows), per-partner totals, and
    * the grand total over the displayed partner rows. */
  private def render(lines: Seq[(String, String, Int, String, Double, Double)],
                     partials: Seq[Partial], from: LocalDate, to: LocalDate,
                     types: Set[String] = Set("rec", "pay"),
                     partnerFilter: String => Boolean = _ => true,
                     unfolded: Set[String] = Set.empty): Seq[Row] = {
    // expand effective partials into the synthetic counter pair (sect 1
    // orders them after the natural rows of their display group)
    val active = partials.filter(p => !LocalDate.parse(p.date).isAfter(to))
    val synthetic = active.flatMap(p => Seq(
      (p.partner, "rec", 1, p.date, 0.0, p.amount),
      (null, "rec", 1, p.date, p.amount, 0.0)))
    val all = (lines.map(l => (l, 0)) ++ synthetic.map(l => (l, 1)))
      .zipWithIndex.map { case (((p, a, c, d, deb, cred), sect), i) =>
        (p, a, c, d, deb, cred, i.toLong, sect)
      }
    val j = df(all).filter(col("atype").isin(types.toSeq: _*))
    val summary = ColumnGroupPlanner.evaluate(j,
        Seq(coalesce(col("partner"), lit("Unknown Partner")).as("p")),
        Seq(
          ColumnGroupPlanner.Group("initial",
            DateScope.predicate(DateScope.ToBeginningOfPeriod, col("d"), from, to)),
          ColumnGroupPlanner.Group("period",
            DateScope.predicate(DateScope.StrictRange, col("d"), from, to))),
        Map("deb" -> col("debit"), "cred" -> col("credit")))
      .orderBy(col("p") === "Unknown Partner", col("p"))
      .collect().toSeq
      .map(r => (r.getString(0),
        r.getDouble(r.fieldIndex("initial_deb")), r.getDouble(r.fieldIndex("initial_cred")),
        r.getDouble(r.fieldIndex("period_deb")), r.getDouble(r.fieldIndex("period_cred"))))
      .filter { case (p, _, _, _, _) => partnerFilter(p) }
    val details = j
      .filter(DateScope.predicate(DateScope.StrictRange, col("d"), from, to))
      .orderBy(col("sect"), col("d"), col("lid"))
      .select(coalesce(col("partner"), lit("Unknown Partner")),
        date_format(col("d"), "MM/dd/yyyy"), col("debit"), col("credit"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val body = summary.flatMap { case (p, iD, iC, pD, pC) =>
      val (tD, tC) = (iD + pD, iC + pC)
      val header = Row(p, tD, tC, tD - tC)
      if (!unfolded(p)) Seq(header)
      else {
        val subs = details.filter(_._1 == p)
        val init = if (iD != 0.0 || iC != 0.0)
          Seq(Row("Initial Balance", iD, iC, iD - iC)) else Nil
        var running = iD - iC
        val lines = subs.map { case (_, dt, deb, cred) =>
          running += deb - cred
          Row(dt, deb, cred, running)
        }
        Seq(header) ++ init ++ lines :+ Row(s"Total $p", tD, tC, tD - tC)
      }
    }
    val (td, tc) = (summary.map(r => r._2 + r._4).sum, summary.map(r => r._3 + r._5).sum)
    body :+ Row("Total", td, tc, td - tc)
  }

  private val y2017 = (LocalDate.of(2017, 1, 1), LocalDate.of(2017, 12, 31))

  test("folded and unfolded partner rows (reference :90-127)") {
    assert(render(baseLines, Nil, y2017._1, y2017._2) == Seq(
      Row("partner_a", 20150.0, 0.0, 20150.0),
      Row("partner_b", 1200.0, 0.0, 1200.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Unknown Partner", 200.0, 200.0, 0.0),
      Row("Total", 21550.0, 21550.0, 0.0)))
    assert(render(baseLines, Nil, y2017._1, y2017._2,
      unfolded = Set("partner_a")) == Seq(
      Row("partner_a", 20150.0, 0.0, 20150.0),
      Row("Initial Balance", 150.0, 0.0, 150.0),
      Row("01/01/2017", 2000.0, 0.0, 2150.0),
      Row("01/01/2017", 3000.0, 0.0, 5150.0),
      Row("01/01/2017", 4000.0, 0.0, 9150.0),
      Row("01/01/2017", 5000.0, 0.0, 14150.0),
      Row("01/01/2017", 6000.0, 0.0, 20150.0),
      Row("Total partner_a", 20150.0, 0.0, 20150.0),
      Row("partner_b", 1200.0, 0.0, 1200.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Unknown Partner", 200.0, 200.0, 0.0),
      Row("Total", 21550.0, 21550.0, 0.0)))
  }

  test("account-type filter drops the payable side (reference :186-209)") {
    // receivable-only: partner_b disappears, partner_a has no initial row
    assert(render(baseLines, Nil, y2017._1, y2017._2, types = Set("rec"),
      unfolded = Set("partner_a")) == Seq(
      Row("partner_a", 15000.0, 0.0, 15000.0),
      Row("01/01/2017", 4000.0, 0.0, 4000.0),
      Row("01/01/2017", 5000.0, 0.0, 9000.0),
      Row("01/01/2017", 6000.0, 0.0, 15000.0),
      Row("Total partner_a", 15000.0, 0.0, 15000.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Unknown Partner", 200.0, 200.0, 0.0),
      Row("Total", 15200.0, 21550.0, -6350.0)))
  }

  test("partner and category filters (reference :210-241)") {
    // partner_ids filter (:214-225) — the Unknown row drops with it
    assert(render(baseLines, Nil, y2017._1, y2017._2,
      partnerFilter = Set("partner_a", "partner_c")) == Seq(
      Row("partner_a", 20150.0, 0.0, 20150.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Total", 20150.0, 21350.0, -1200.0)))
    // category filter (:226-241) — categ_a holds partners a and b
    assert(render(baseLines, Nil, y2017._1, y2017._2,
      partnerFilter = Set("partner_a", "partner_b")) == Seq(
      Row("partner_a", 20150.0, 0.0, 20150.0),
      Row("partner_b", 1200.0, 0.0, 1200.0),
      Row("Total", 21350.0, 0.0, 21350.0)))
  }

  test("unknown-partner reconciliation reattributes a counter pair (reference :242-361)") {
    val lines = baseLines ++ miscLines

    // before reconciling (:257-270): the misc credit sits under Unknown
    assert(render(lines, Nil, y2017._1, y2017._2) == Seq(
      Row("partner_a", 20150.0, 0.0, 20150.0),
      Row("partner_b", 1200.0, 0.0, 1200.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Unknown Partner", 200.0, 1200.0, -1000.0),
      Row("Total", 21550.0, 22550.0, -1000.0)))

    // after reconciling (:286-299): 1000 credited to partner_a, debited
    // back to Unknown
    assert(render(lines, Seq(miscPartial), y2017._1, y2017._2) == Seq(
      Row("partner_a", 20150.0, 1000.0, 19150.0),
      Row("partner_b", 1200.0, 0.0, 1200.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Unknown Partner", 1200.0, 1200.0, 0.0),
      Row("Total", 22550.0, 23550.0, -1000.0)))

    // partner_a unfolded (:302-324): the synthetic credit extends the
    // running balance
    assert(render(lines, Seq(miscPartial), y2017._1, y2017._2,
      unfolded = Set("partner_a")) == Seq(
      Row("partner_a", 20150.0, 1000.0, 19150.0),
      Row("Initial Balance", 150.0, 0.0, 150.0),
      Row("01/01/2017", 2000.0, 0.0, 2150.0),
      Row("01/01/2017", 3000.0, 0.0, 5150.0),
      Row("01/01/2017", 4000.0, 0.0, 9150.0),
      Row("01/01/2017", 5000.0, 0.0, 14150.0),
      Row("01/01/2017", 6000.0, 0.0, 20150.0),
      Row("03/31/2017", 0.0, 1000.0, 19150.0),
      Row("Total partner_a", 20150.0, 1000.0, 19150.0),
      Row("partner_b", 1200.0, 0.0, 1200.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Unknown Partner", 1200.0, 1200.0, 0.0),
      Row("Total", 22550.0, 23550.0, -1000.0)))

    // Unknown unfolded (:327-345): natural rows first, the counter debit
    // appended last, running balance threaded in display order
    assert(render(lines, Seq(miscPartial), y2017._1, y2017._2,
      unfolded = Set("Unknown Partner")) == Seq(
      Row("partner_a", 20150.0, 1000.0, 19150.0),
      Row("partner_b", 1200.0, 0.0, 1200.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Unknown Partner", 1200.0, 1200.0, 0.0),
      Row("03/31/2017", 0.0, 1000.0, -1000.0),
      Row("06/01/2017", 200.0, 0.0, -800.0),
      Row("06/01/2017", 0.0, 200.0, -1000.0),
      Row("03/31/2017", 1000.0, 0.0, 0.0),
      Row("Total Unknown Partner", 1200.0, 1200.0, 0.0),
      Row("Total", 22550.0, 23550.0, -1000.0)))

    // window ending before the partial's date (:347-358): back to the
    // unreconciled view, and the misc line itself is out of range
    assert(render(lines, Seq(miscPartial),
      LocalDate.of(2017, 1, 1), LocalDate.of(2017, 3, 30)) == Seq(
      Row("partner_a", 20150.0, 0.0, 20150.0),
      Row("partner_b", 1200.0, 0.0, 1200.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Total", 21350.0, 21350.0, 0.0)))

    // window starting after the partial's date (:360-361 area): the pair
    // lands in the initial balances
    assert(render(lines, Seq(miscPartial),
      LocalDate.of(2017, 4, 1), LocalDate.of(2017, 4, 1)) == Seq(
      Row("partner_a", 20150.0, 1000.0, 19150.0),
      Row("partner_b", 1200.0, 0.0, 1200.0),
      Row("partner_c", 0.0, 21350.0, -21350.0),
      Row("Unknown Partner", 1000.0, 1000.0, 0.0),
      Row("Total", 22350.0, 23350.0, -1000.0)))
  }
}
