package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TaxTags
import graft.report.VatClosing

/** Golden matrices transcribed from the REFERENCE'S OWN generic
  * tax-report tests (account_reports/tests/test_tax_report.py) beyond
  * the grid slices already pinned by [[GoldenTaxGridSpec]]:
  *
  *  - the fiscal-position report matrices (:471-583): the same invoice
  *    set viewed 'domestic' / foreign-fpos / 'all', sixteen lines each;
  *  - the VAT closing entries (:336-468): per-fpos closing moves
  *    reversing the use_in_tax_closing repartition balances over the
  *    TRIMESTER period snapped around date_to, netting into the tax
  *    groups' payable/receivable property accounts;
  *  - the tax-unit matrices (:1739-1876): company-scoped tag totals
  *    (unit selected ⇒ all unit companies; otherwise the current
  *    company only) and the per-(company, fpos) unit closing including
  *    the empty-closing 0-adjustment placeholders;
  *  - the entry + cancel-reversal sign matrix (:1972-2047): both legs
  *    land POSITIVE (tax_tag_invert flips with the refund side on
  *    `entry` moves), so the report doubles instead of zeroing.
  *
  * Fixture: the setUpClass invoice set (:227-250) — tax 50%, sale
  * repartition (30 acct1 ∉closing, 70 acct1, −10 acct2), purchase
  * (10 acct1 ∉closing, 60 acct1, −5 acct2); six domestic and six
  * foreign documents across 2020-12 … 2021-05.
  */
class GoldenTaxReportSpec extends AnyFunSuite with SparkSpec {

  private def r2(v: Double): Double = math.floor(v * 100 + 0.5) / 100

  // ---- the setUpClass fixture (:227-250) ---------------------------------

  /** (docType, fpos, date, amount). Domestic documents carry no fpos. */
  private val invoices: Seq[(String, Option[String], String, Double)] = Seq(
    ("out_invoice", None, "2020-12-22", 28000.0),
    ("out_invoice", None, "2021-01-22", 200.0),
    ("out_refund", None, "2021-01-12", 20.0),
    ("in_invoice", None, "2021-03-12", 400.0),
    ("in_refund", None, "2021-03-20", 60.0),
    ("in_invoice", None, "2021-04-07", 42000.0),
    ("out_invoice", Some("fp"), "2020-12-13", 26000.0),
    ("out_invoice", Some("fp"), "2021-01-16", 800.0),
    ("out_refund", Some("fp"), "2021-01-30", 200.0),
    ("in_invoice", Some("fp"), "2021-02-01", 1000.0),
    ("in_refund", Some("fp"), "2021-03-02", 600.0),
    ("in_refund", Some("fp"), "2021-05-02", 10000.0))

  /** Both test taxes are 50% (:425-434); factor → (account, in_closing). */
  private val saleReps = Seq((30, "acct1", false), (70, "acct1", true), (-10, "acct2", true))
  private val purchaseReps = Seq((10, "acct1", false), (60, "acct1", true), (-5, "acct2", true))

  private def isSale(docType: String) = docType.startsWith("out_")
  private def isRefund(docType: String) = docType.endsWith("_refund")

  /** Every tagged journal line an invoice books: the base plus one line
    * per repartition factor, signed by the document side (sale invoices
    * book credits), tagged '+…-invoice-…' / '−…-refund-…' by the
    * document's refund side, with [[TaxTags.tagInvert]] of the inbound
    * set (out_invoice / in_refund invert). */
  private def taggedLines(docType: String, fpos: Option[String], date: String,
                          amount: Double): Seq[(Option[String], String, Double, Boolean, String)] = {
    val use = if (isSale(docType)) "sale" else "purchase"
    val reps = if (isSale(docType)) saleReps else purchaseReps
    // sale invoices and purchase refunds book credits (negative)
    val side = if (isSale(docType) != isRefund(docType)) -1.0 else 1.0
    val invert = TaxTags.tagInvert(docType, use, isRefund(docType))
    val leg = if (isRefund(docType)) "refund" else "invoice"
    val tagSign = if (isRefund(docType)) "-" else "+"
    (fpos, date, side * amount, invert, s"$tagSign$use-$leg-base") +:
      reps.map { case (f, _, _) =>
        (fpos, date, side * f / 100.0 * 0.5 * amount, invert, s"$tagSign$use-$leg-$f")
      }
  }

  /** Tag totals over the fixture for one fpos scope and period, through
    * the real engine ([[TaxTagsHarness]] → [[TaxTags.evaluate]]). */
  private def reportMatrix(fposScope: Option[String] => Boolean,
                           from: String, to: String): Map[String, Double] =
    TaxTagsHarness.gridTotals(spark,
      invoices.flatMap { case (dt, fp, d, a) => taggedLines(dt, fp, d, a) }
        .filter(r => fposScope(r._1) && r._2 >= from && r._2 <= to)
        .map(r => (r._3, r._4, Seq(r._5))))

  private val q1_2021 = ("2021-01-01", "2021-03-31")

  test("fpos 'domestic' report matrix (reference :471-508)") {
    val m = reportMatrix(_.isEmpty, q1_2021._1, q1_2021._2)
    assert(m("sale-invoice-base") == 200.0)
    assert(m("sale-invoice-30") == 30.0)
    assert(m("sale-invoice-70") == 70.0)
    assert(m("sale-invoice--10") == -10.0)
    assert(m("sale-refund-base") == -20.0)
    assert(m("sale-refund-30") == -3.0)
    assert(m("sale-refund-70") == -7.0)
    assert(m("sale-refund--10") == 1.0)
    assert(m("purchase-invoice-base") == 400.0)
    assert(m("purchase-invoice-10") == 20.0)
    assert(m("purchase-invoice-60") == 120.0)
    assert(m("purchase-invoice--5") == -10.0)
    assert(m("purchase-refund-base") == -60.0)
    assert(m("purchase-refund-10") == -3.0)
    assert(m("purchase-refund-60") == -18.0)
    assert(m("purchase-refund--5") == 1.5)
  }

  test("fpos foreign report matrix (reference :509-546)") {
    val m = reportMatrix(_.contains("fp"), q1_2021._1, q1_2021._2)
    assert(m("sale-invoice-base") == 800.0)
    assert(m("sale-invoice-30") == 120.0)
    assert(m("sale-invoice-70") == 280.0)
    assert(m("sale-invoice--10") == -40.0)
    assert(m("sale-refund-base") == -200.0)
    assert(m("sale-refund-30") == -30.0)
    assert(m("sale-refund-70") == -70.0)
    assert(m("sale-refund--10") == 10.0)
    assert(m("purchase-invoice-base") == 1000.0)
    assert(m("purchase-invoice-10") == 50.0)
    assert(m("purchase-invoice-60") == 300.0)
    assert(m("purchase-invoice--5") == -25.0)
    assert(m("purchase-refund-base") == -600.0)
    assert(m("purchase-refund-10") == -30.0)
    assert(m("purchase-refund-60") == -180.0)
    assert(m("purchase-refund--5") == 15.0)
  }

  test("fpos 'all' report matrix (reference :547-583)") {
    val m = reportMatrix(_ => true, q1_2021._1, q1_2021._2)
    assert(m("sale-invoice-base") == 1000.0)
    assert(m("sale-invoice-30") == 150.0)
    assert(m("sale-invoice-70") == 350.0)
    assert(m("sale-invoice--10") == -50.0)
    assert(m("sale-refund-base") == -220.0)
    assert(m("sale-refund-30") == -33.0)
    assert(m("sale-refund-70") == -77.0)
    assert(m("sale-refund--10") == 11.0)
    assert(m("purchase-invoice-base") == 1400.0)
    assert(m("purchase-invoice-10") == 70.0)
    assert(m("purchase-invoice-60") == 420.0)
    assert(m("purchase-invoice--5") == -35.0)
    assert(m("purchase-refund-base") == -660.0)
    assert(m("purchase-refund-10") == -33.0)
    assert(m("purchase-refund-60") == -198.0)
    assert(m("purchase-refund--5") == 16.5)
  }

  // ---- VAT closing (:336-468) --------------------------------------------

  /** The fixture's tax repartition lines for the closing: one journal
    * line per repartition factor with its account and in-closing flag. */
  private def closingTaxLines: DataFrame = {
    val s = spark; import s.implicits._
    invoices.flatMap { case (dt, fp, d, a) =>
      val use = if (isSale(dt)) "sale" else "purchase"
      val reps = if (isSale(dt)) saleReps else purchaseReps
      val side = if (isSale(dt) != isRefund(dt)) -1.0 else 1.0
      val (group, taxId) = if (use == "sale") ("g1", 1L) else ("g2", 2L)
      reps.map { case (f, acct, inClosing) =>
        (fp.orNull, group, taxId, s"$use-50", acct,
          side * f / 100.0 * 0.5 * a, d, inClosing, true)
      }
    }.toDF("fpos", "tax_group", "tax_id", "tax_name", "account",
        "balance", "ds", "closing", "posted")
      .withColumn("d", to_timestamp(col("ds"))).drop("ds")
  }

  private def emptyHistory: DataFrame = {
    val s = spark; import s.implicits._
    Seq.empty[(String, Double, String, Boolean)]
      .toDF("account", "balance", "ds", "posted")
      .withColumn("d", to_timestamp(col("ds"))).drop("ds")
  }

  private val groups = Seq(
    VatClosing.GroupAccounts("g1", None, "recv1", "pay1"),
    VatClosing.GroupAccounts("g2", None, "recv2", "pay2"))

  /** options date_to 2021-02-01 under trimester periodicity snaps the
    * closing period to Q1 2021 (:729-731
    * _get_tax_closing_period_boundaries; periodicity :46). */
  private def closing(scope: Seq[Option[String]]) =
    VatClosing.compute(closingTaxLines, emptyHistory, groups,
      java.time.LocalDate.of(2021, 1, 1), java.time.LocalDate.of(2021, 3, 31),
      java.time.LocalDate.of(2021, 2, 1), scope)

  private def dca(l: VatClosing.Line) = (r2(l.debit), r2(l.credit), l.account)

  private val domesticClosing = Seq(
    (63.0, 0.0, "acct1"),   // sales: 200·0.5·0.7 − 20·0.5·0.7
    (0.0, 9.0, "acct2"),    // sales: 200·0.5·(−0.1) − 20·0.5·(−0.1)
    (0.0, 102.0, "acct1"),  // purchases: 400·0.5·0.6 − 60·0.5·0.6
    (8.5, 0.0, "acct2"),    // purchases: 400·0.5·(−0.05) − 60·0.5·(−0.05)
    (0.0, 54.0, "pay1"),    // sales net → payable
    (93.5, 0.0, "recv2"))   // purchases net → receivable

  private val foreignClosing = Seq(
    (210.0, 0.0, "acct1"),  // 800·0.5·0.7 − 200·0.5·0.7
    (0.0, 30.0, "acct2"),
    (0.0, 120.0, "acct1"),  // 1000·0.5·0.6 − 600·0.5·0.6
    (10.0, 0.0, "acct2"),
    (0.0, 180.0, "pay1"),
    (110.0, 0.0, "recv2"))

  test("VAT closing, single foreign fpos (reference :336-360)") {
    val m = closing(Seq(Some("fp")))
    assert(m(Some("fp")).map(dca) == foreignClosing)
  }

  test("VAT closing, domestic (reference :361-385)") {
    val m = closing(Seq(None))
    assert(m(None).map(dca) == domesticClosing)
    // the 30%/10% repartitions are NOT use_in_tax_closing — exactly one
    // closing line per closed (tax, account), nothing from the open ones
    assert(m(None).count(_.account == "acct1") == 2)
  }

  test("VAT closing, 'all' = one move per fiscal position (reference :386-468)") {
    val m = closing(Seq(None, Some("fp")))
    assert(m.size == 2)
    assert(m(None).map(dca) == domesticClosing)
    assert(m(Some("fp")).map(dca) == foreignClosing)
    // the balancing-line names follow the sign (:857-864)
    assert(m(None).map(_.name).takeRight(2) ==
      Seq("Payable tax amount", "Receivable tax amount"))
  }

  // ---- tax unit (:1739-1875) ----------------------------------------------

  /** Per-company 42% taxes, one out_invoice of 100·(i+1) each
    * (:1764-1791). Tag totals scope to the UNIT's companies when the
    * active set is exactly the unit, else to the current (first active)
    * company alone (the matrix :1820-1845). */
  private def taxUnitMatrix(active: Seq[String], unit: Set[String]): Map[String, Double] = {
    val visible: Set[String] =
      if (active.toSet == unit) unit else Set(active.head)
    TaxTagsHarness.gridTotals(spark,
      Seq("c1", "c2", "c3").zipWithIndex.flatMap { case (c, i) =>
        val a = 100.0 * (i + 1)
        Seq((c, -a, true, s"+$c-invoice-base"), (c, -0.42 * a, true, s"+$c-invoice-100"))
      }.filter(r => visible.contains(r._1))
        .map(r => (r._2, r._3, Seq(r._4))))
  }

  test("tax unit report matrices over six active-company scenarios (reference :1796-1845)") {
    val unit = Set("c1", "c2")
    val scenarios = Seq(
      Seq("c1"), Seq("c2"), Seq("c3"),
      Seq("c1", "c2"), Seq("c1", "c2", "c3"), Seq("c2", "c3"))
    for (active <- scenarios) {
      val m = taxUnitMatrix(active, unit)
      val c1Visible = active.head == "c1" || active.toSet == unit
      val c2Visible = active.head == "c2" || active.toSet == unit
      val c3Visible = active.head == "c3"
      assert(m("c1-invoice-base") == (if (c1Visible) 100.0 else 0.0), active)
      assert(m("c1-invoice-100") == (if (c1Visible) 42.0 else 0.0), active)
      assert(m("c2-invoice-base") == (if (c2Visible) 200.0 else 0.0), active)
      assert(m("c2-invoice-100") == (if (c2Visible) 84.0 else 0.0), active)
      assert(m("c3-invoice-base") == (if (c3Visible) 300.0 else 0.0), active)
      assert(m("c3-invoice-100") == (if (c3Visible) 126.0 else 0.0), active)
    }
  }

  test("tax unit closing: one move per (company, fpos), empty fpos gets the 0-adjustments (reference :1846-1875)") {
    val s = spark; import s.implicits._
    // each company's 42% tax books one repartition line (100%, closing)
    def companyLines(c: String, amount: Double): DataFrame =
      Seq((null: String, "g1", 1L, s"$c-tax-42", s"taxacct-$c",
        -0.42 * amount, "2018-01-01", true, true))
        .toDF("fpos", "tax_group", "tax_id", "tax_name", "account",
          "balance", "ds", "closing", "posted")
        .withColumn("d", to_timestamp(col("ds"))).drop("ds")
    val d = java.time.LocalDate.of(2018, 1, 1)
    val (ps, pe) = (java.time.LocalDate.of(2018, 1, 1), java.time.LocalDate.of(2018, 3, 31))
    def grp(c: String) = Seq(VatClosing.GroupAccounts("g1", None, s"recv-$c", s"pay-$c"))
    // company 1: domestic + its foreign fpos (which has no activity)
    val m1 = VatClosing.compute(companyLines("c1", 100.0), emptyHistory, grp("c1"),
      ps, pe, d, Seq(None, Some("fp")),
      emptyAdjustment = Some(("saleacct-c1", "purchacct-c1")))
    assert(m1(None).map(dca) == Seq((42.0, 0.0, "taxacct-c1"), (0.0, 42.0, "pay-c1")))
    assert(m1(Some("fp")).map(l => (l.name, dca(l))) == Seq(
      ("Tax Received Adjustment", (0.0, 0.0, "saleacct-c1")),
      ("Tax Paid Adjustment", (0.0, 0.0, "purchacct-c1"))))
    // company 2: domestic only
    val m2 = VatClosing.compute(companyLines("c2", 200.0), emptyHistory, grp("c2"),
      ps, pe, d, Seq(None))
    assert(m2(None).map(dca) == Seq((84.0, 0.0, "taxacct-c2"), (0.0, 84.0, "pay-c2")))
  }

  test("vat unit with foreign fpos: manual +tag line folds into the 'all' matrix (reference :1876-1970)") {
    // company 2's misc move books 1000 debit carrying the '+' base tag
    // directly (no tax_ids ⇒ tax_tag_invert stays false): the 'all'
    // matrix is test_tax_report_fpos_everything's +1000 on the first
    // line, identical under both company orders
    val base = invoices.flatMap { case (dt, fp, dd, a) => taggedLines(dt, fp, dd, a) }
      .filter(r => r._2 >= q1_2021._1 && r._2 <= q1_2021._2)
      .map(r => (r._3, r._4, Seq(r._5)))
    val extra = Seq((1000.0, false, Seq("+sale-invoice-base")))
    for (order <- Seq(base ++ extra, extra ++ base)) {
      val m = TaxTagsHarness.gridTotals(spark, order)
      assert(m("sale-invoice-base") == 2000.0)
      assert(m("sale-invoice-30") == 150.0)
      assert(m("purchase-refund--5") == 16.5)
    }
  }

  test("a tax can feed BOTH a local and a foreign country's report (reference :2228-2283)") {
    // multi-VAT: one invoice's lines carry the local report's tags AND
    // the foreign report's tags; each report reads its own tag set and
    // sees the same 100 / 20
    val m = TaxTagsHarness.gridTotals(spark, Seq(
      (-100.0, true, Seq("+base_local", "+base_foreign")),
      (-20.0, true, Seq("+tax_local", "+tax_foreign"))))
    assert(m("base_local") == 100.0 && m("tax_local") == 20.0)
    assert(m("base_foreign") == 100.0 && m("tax_foreign") == 20.0)
  }

  // ---- entry + reversal signs (:1972-2047) ---------------------------------

  test("entry moves and their cancel-reversals DOUBLE the report, never zero it (reference :1972-2047)") {
    // sale entry books credits, its reversal debits; purchase mirrors.
    // tax_tag_invert follows the entry rule, so both legs land positive.
    val m = TaxTagsHarness.gridTotals(spark, Seq(
      // sale entry (credit side) + reversal
      (-1000.0, "entry", "sale", false, "+sale_b"),
      (-200.0, "entry", "sale", false, "+sale_t"),
      (1000.0, "entry", "sale", true, "+sale_b"),
      (200.0, "entry", "sale", true, "+sale_t"),
      // purchase entry (debit side) + reversal
      (1000.0, "entry", "purchase", false, "+purchase_b"),
      (200.0, "entry", "purchase", false, "+purchase_t"),
      (-1000.0, "entry", "purchase", true, "+purchase_b"),
      (-200.0, "entry", "purchase", true, "+purchase_t"))
      .map { case (amt, mt, use, ref, tag) =>
        (amt, TaxTags.tagInvert(mt, use, ref), Seq(tag))
      })
    assert(m("sale_b") == 2000.0)
    assert(m("sale_t") == 400.0)
    assert(m("purchase_b") == 2000.0)
    assert(m("purchase_t") == 400.0)
  }
}
