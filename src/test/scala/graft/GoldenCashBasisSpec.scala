package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.report.{CashBasis, GenericTaxReport}

/** Cash-basis (CABA) tax matrices transcribed from the REFERENCE'S OWN
  * tests (account_reports/tests/test_tax_report.py): the generic caba
  * harness (:926-1023 — a 20% on-payment tax with the asymmetric
  * 25/75 repartition whose 75% line is UNTAGGED at refund) driven
  * through [[CashBasis.exigible]] → [[TaxTags.evaluate]] across the
  * payment scenarios, the mixed-exigibility generic report
  * (:1148-1234) through [[GenericTaxReport]], and the always-exigible
  * misc move (:1479-1561).
  */
class GoldenCashBasisSpec extends AnyFunSuite with SparkSpec {

  /** The caba harness fixture (:957-1023 + the 25/75 repartition of
    * :1024 _create_caba_taxes_for_report_lines): one invoice and one
    * refund of 100 per type, all lines on-payment. `flip` mirrors the
    * negative-quantity generator (:1563-1607). */
  private def cabaLines(flip: Double = 1.0): Seq[(String, Double, Boolean, Option[String])] = Seq(
    // sale invoice: credits, '+sale' tags, inverted
    ("s_inv", -100.0 * flip, true, Some("+sale")),
    ("s_inv", -5.0 * flip, true, Some("+sale")),
    ("s_inv", -15.0 * flip, true, Some("+sale")),
    // sale refund: debits, '-sale' tags — except the UNTAGGED 75% line
    ("s_ref", 100.0 * flip, false, Some("-sale")),
    ("s_ref", 5.0 * flip, false, Some("-sale")),
    ("s_ref", 15.0 * flip, false, None),
    // purchase invoice: debits, '+purchase'
    ("p_inv", 100.0 * flip, false, Some("+purchase")),
    ("p_inv", 5.0 * flip, false, Some("+purchase")),
    ("p_inv", 15.0 * flip, false, Some("+purchase")),
    // purchase refund: credits, '-purchase', 75% untagged
    ("p_ref", -100.0 * flip, true, Some("-purchase")),
    ("p_ref", -5.0 * flip, true, Some("-purchase")),
    ("p_ref", -15.0 * flip, true, None))

  private def linesDf(rows: Seq[(String, Double, Boolean, Option[String])]): DataFrame = {
    val s = spark; import s.implicits._
    rows.map(r => (r._1, r._2, true, false, r._3, r._4.orNull))
      .toDF("doc_id", "amount", "on_payment", "always_exigible",
        "tax_tag_invert", "tag")
  }

  private def partialsDf(rows: Seq[(String, Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.map(r => (r._1, r._2, "2021-08-01")).toDF("doc_id", "fraction", "pd")
  }

  /** CashBasis → TaxTags, collecting unsigned-tag totals (the exigible
    * rows are fixture-sized, so they re-enter [[TaxTagsHarness]] as
    * literal rows). */
  private def grid(lines: DataFrame, partials: DataFrame): Map[String, Double] =
    TaxTagsHarness.gridTotals(spark,
      CashBasis.exigible(lines, partials)
        .select("amount", "tax_tag_invert", "tag")
        .collect().toSeq
        .map(r => (r.getDouble(0), r.getBoolean(1),
          Option(r.getString(2)).toSeq)))

  private val fullPay = Seq("s_inv" -> 1.0, "s_ref" -> 1.0, "p_inv" -> 1.0, "p_ref" -> 1.0)

  test("full payment surfaces the asymmetric 25/75 grid: 15 per side (reference :1031-1045)") {
    val g = grid(linesDf(cabaLines()), partialsDf(fullPay))
    assert(g("sale") == 15.0 && g("purchase") == 15.0)
  }

  test("invoice reconciled with its refund counts like a payment (reference :1046-1066)") {
    // reconciling the two documents against each other fully pays both
    val g = grid(linesDf(cabaLines()), partialsDf(fullPay))
    assert(g("sale") == 15.0 && g("purchase") == 15.0)
  }

  test("no payment: caba taxes never reach the report (reference :1110-1122)") {
    val g = grid(linesDf(cabaLines()), partialsDf(Nil))
    assert(g("sale") == 0.0 && g("purchase") == 0.0)
  }

  test("half payment reports half the base and tax (reference :1123-1147)") {
    val g = grid(linesDf(cabaLines()), partialsDf(fullPay.map(p => p._1 -> 0.5)))
    assert(g("sale") == 7.5 && g("purchase") == 7.5)
  }

  test("negative-quantity invoice lines flip the grid to −15 (reference :1563-1607)") {
    val g = grid(linesDf(cabaLines(flip = -1.0)), partialsDf(fullPay))
    assert(g("sale") == -15.0 && g("purchase") == -15.0)
  }

  test("two partial payments accumulate to the full amounts (reference :1196-1234 payment flow)") {
    val g = grid(linesDf(cabaLines()),
      partialsDf(fullPay.map(p => p._1 -> 0.5) ++ fullPay.map(p => p._1 -> 0.5)))
    assert(g("sale") == 15.0 && g("purchase") == 15.0)
  }

  test("cancelling the reconciliation reverses the caba impact (reference :2049-2162)") {
    // reconcile → the caba amounts appear; cancel (partials withdrawn,
    // the reference books a reversal move) → the report reads '' again
    val reconciled = grid(linesDf(cabaLines()), partialsDf(fullPay))
    assert(reconciled("sale") == 15.0 && reconciled("purchase") == 15.0)
    val cancelled = grid(linesDf(cabaLines()), partialsDf(Nil))
    assert(cancelled("sale") == 0.0 && cancelled("purchase") == 0.0)
  }

  test("always-exigible misc move counts despite on-payment taxes (reference :1479-1561)") {
    val s = spark; import s.implicits._
    // three credit lines of 100 (caba / regular / both), regular 42%
    // include_base_amount feeding the caba 10% base (:1504-1523)
    val rows = Seq(
      ("m", -100.0, true, Some("+caba-invoice-base"), true),
      ("m", -100.0, true, Some("+regular-invoice-base"), false),
      ("m", -100.0, true, Some("+caba-invoice-base"), false),
      ("m", -100.0, true, Some("+regular-invoice-base"), false),
      // the third line carries BOTH taxes; regular's tax aml (42) is
      // base for caba
      ("m", -42.0, true, Some("+caba-invoice-base"), true),
      ("m", -84.0, true, Some("+regular-invoice-100"), false),
      ("m", -24.2, true, Some("+caba-invoice-100"), true))
    // caba lines are on-payment, but always_exigible overrides
    val lines = rows.map(r => (r._1, r._2, r._5, true, r._3, r._4.orNull))
      .toDF("doc_id", "amount", "on_payment", "always_exigible",
        "tax_tag_invert", "tag")
    val g = grid(lines, partialsDf(Nil))
    assert(g("regular-invoice-base") == 200.0)
    assert(g("regular-invoice-100") == 84.0)
    assert(g("caba-invoice-base") == 242.0)
    assert(g("caba-invoice-100") == 24.2)
  }

  test("immediate tax affecting a caba base: 42.6 / 4.26 at 30%, 142 / 14.2 paid (reference :1235-1293, :1352-1396)") {
    val s = spark; import s.implicits._
    import graft.report.GenericTaxReport.{Flat, Tax}
    // Regular 42% include_base (immediate) feeds Cash Basis 10%'s base:
    // caba base 142, scaled per payment fraction; the regular rows are
    // exigible at once. Exigibility keys on the ATTRIBUTED tax.
    val taxes = Seq(Tax(42, "Regular (42.0%)", "sale", sequence = 1),
      Tax(10, "Cash Basis (10.0%)", "sale", sequence = 2))
    val noL = org.apache.spark.sql.functions.lit(null).cast("long")
    def report(fractions: Double*): Seq[(String, Seq[Option[Double]])] = {
      val lines = (Seq(("inv", "b", 42L, -100.0, false), ("inv", "t", 42L, -42.0, false)) ++
          fractions.flatMap(f => Seq(
            ("inv", "b", 10L, -142.0 * f, true), ("inv", "t", 10L, -14.2 * f, true))))
        .toDF("doc_id", "kind", "tax_id", "amount", "on_payment")
      val base = lines.filter($"kind" === "b")
        .select(org.apache.spark.sql.functions.lit("p0").as("period"),
          org.apache.spark.sql.functions.lit("a1").as("account"),
          $"tax_id", noL.as("src_tax_id"), noL.as("src_group_tax_id"),
          $"amount".as("balance"))
      val tax = lines.filter($"kind" === "t")
        .select(org.apache.spark.sql.functions.lit("p0").as("period"),
          org.apache.spark.sql.functions.lit("a1").as("account"),
          $"tax_id", noL.as("group_tax_id"), $"amount".as("balance"))
      GenericTaxReport.compute(base, tax, taxes, Seq("p0"), Flat)
        .map(l => (l.name, l.cells))
    }
    assert(report() == Seq(
      ("Sales", Seq(None, Some(42.0))),
      ("Regular (42.0%)", Seq(Some(100.0), Some(42.0))),
      ("Total Sales", Seq(None, Some(42.0)))))
    assert(report(0.3) == Seq(
      ("Sales", Seq(None, Some(46.26))),
      ("Regular (42.0%)", Seq(Some(100.0), Some(42.0))),
      ("Cash Basis (10.0%)", Seq(Some(42.6), Some(4.26))),
      ("Total Sales", Seq(None, Some(46.26)))))
    assert(report(0.3, 0.7) == Seq(
      ("Sales", Seq(None, Some(56.2))),
      ("Regular (42.0%)", Seq(Some(100.0), Some(42.0))),
      ("Cash Basis (10.0%)", Seq(Some(142.0), Some(14.2))),
      ("Total Sales", Seq(None, Some(56.2)))))
  }

  test("caba tax affecting an immediate base: the fed base is exigible at ONCE (reference :1294-1324, :1398-1443)") {
    val s = spark; import s.implicits._
    import graft.report.GenericTaxReport.{Flat, Tax}
    // Cash Basis 10% (sequence 0) include_base feeds Regular 42%: the
    // regular rows (base 110 — including the caba tax aml — and tax
    // 46.2) attribute to the REGULAR tax, so they are exigible before
    // any payment; only the caba tax's own rows wait for the fractions
    val taxes = Seq(Tax(10, "Cash Basis (10.0%)", "sale", sequence = 1),
      Tax(42, "Regular (42.0%)", "sale", sequence = 2))
    val noL = org.apache.spark.sql.functions.lit(null).cast("long")
    def report(fractions: Double*): Seq[(String, Seq[Option[Double]])] = {
      val base = (Seq((42L, -110.0)) ++ fractions.map(f => (10L, -100.0 * f)))
        .toDF("tax_id", "balance")
        .select(org.apache.spark.sql.functions.lit("p0").as("period"),
          org.apache.spark.sql.functions.lit("a1").as("account"),
          $"tax_id", noL.as("src_tax_id"), noL.as("src_group_tax_id"), $"balance")
      val tax = (Seq((42L, -46.2)) ++ fractions.map(f => (10L, -10.0 * f)))
        .toDF("tax_id", "balance")
        .select(org.apache.spark.sql.functions.lit("p0").as("period"),
          org.apache.spark.sql.functions.lit("a1").as("account"),
          $"tax_id", noL.as("group_tax_id"), $"balance")
      GenericTaxReport.compute(base, tax, taxes, Seq("p0"), Flat)
        .map(l => (l.name, l.cells))
    }
    assert(report() == Seq(
      ("Sales", Seq(None, Some(46.2))),
      ("Regular (42.0%)", Seq(Some(110.0), Some(46.2))),
      ("Total Sales", Seq(None, Some(46.2)))))
    assert(report(0.3) == Seq(
      ("Sales", Seq(None, Some(49.2))),
      ("Cash Basis (10.0%)", Seq(Some(30.0), Some(3.0))),
      ("Regular (42.0%)", Seq(Some(110.0), Some(46.2))),
      ("Total Sales", Seq(None, Some(49.2)))))
    assert(report(0.3, 0.7) == Seq(
      ("Sales", Seq(None, Some(56.2))),
      ("Cash Basis (10.0%)", Seq(Some(100.0), Some(10.0))),
      ("Regular (42.0%)", Seq(Some(110.0), Some(46.2))),
      ("Total Sales", Seq(None, Some(56.2)))))
  }

  test("two invoice lines per tax group into one row; paid caba matches regular (reference :1643-1738)") {
    val s = spark; import s.implicits._
    import graft.report.GenericTaxReport.{Flat, Tax}
    val taxes = Seq(Tax(1, "Regular (42.0%)", "sale", sequence = 1),
      Tax(2, "Cash Basis (42.0%)", "sale", sequence = 2))
    val noL = org.apache.spark.sql.functions.lit(null).cast("long")
    // two 100-lines per invoice; the caba invoice fully paid (fraction 1)
    val base = Seq((1L, -100.0), (1L, -100.0), (2L, -100.0), (2L, -100.0))
      .toDF("tax_id", "balance")
      .select(org.apache.spark.sql.functions.lit("p0").as("period"),
        org.apache.spark.sql.functions.lit("a1").as("account"),
        $"tax_id", noL.as("src_tax_id"), noL.as("src_group_tax_id"), $"balance")
    // no repartition account: tax amls book on the base accounts, split
    // 42+42 per invoice — grouping must still land one row per tax
    val tax = Seq((1L, -42.0), (1L, -42.0), (2L, -42.0), (2L, -42.0))
      .toDF("tax_id", "balance")
      .select(org.apache.spark.sql.functions.lit("p0").as("period"),
        org.apache.spark.sql.functions.lit("a1").as("account"),
        $"tax_id", noL.as("group_tax_id"), $"balance")
    assert(GenericTaxReport.compute(base, tax, taxes, Seq("p0"), Flat)
      .map(l => (l.name, l.cells)) == Seq(
      ("Sales", Seq(None, Some(168.0))),
      ("Regular (42.0%)", Seq(Some(200.0), Some(84.0))),
      ("Cash Basis (42.0%)", Seq(Some(200.0), Some(84.0))),
      ("Total Sales", Seq(None, Some(168.0)))))
  }

  test("mixed exigibility in the generic report: 42 → 47 → 52 (reference :1148-1234)") {
    val s = spark; import s.implicits._
    import graft.report.GenericTaxReport.{Flat, Tax}
    // invoice 100 with Regular 42% (immediate) + Cash Basis 10%
    // (on-payment); total 152, each payment of 76 pays half
    def baseRows(fraction: Double*) = {
      val immediate = Seq(("inv", "p0", "a1", 42L, -100.0, false))
      val caba = fraction.map(f => ("inv", "p0", "a1", 10L, -100.0 * f, true))
      (immediate ++ caba.map(c => (c._1, c._2, c._3, c._4, c._5, c._6)))
        .toDF("doc_id", "period", "account", "tax_id", "amount", "on_payment")
    }
    def taxRows(fraction: Double*) = {
      val immediate = Seq(("inv", "p0", "a1", 42L, -42.0, false))
      val caba = fraction.map(f => ("inv", "p0", "a1", 10L, -10.0 * f, true))
      (immediate ++ caba).toDF("doc_id", "period", "account", "tax_id", "amount", "on_payment")
    }
    val taxes = Seq(Tax(42, "Regular (42.0%)", "sale", sequence = 1),
      Tax(10, "Cash Basis (10.0%)", "sale", sequence = 2))
    val noL = org.apache.spark.sql.functions.lit(null).cast("long")
    def report(nPayments: Int): Seq[(String, Seq[Option[Double]])] = {
      // model: the caba slice already scaled per payment (each pays 1/2)
      val fr = Seq.fill(nPayments)(0.5)
      val b = baseRows(fr: _*).withColumn("balance", org.apache.spark.sql.functions.col("amount"))
        .withColumn("src_tax_id", noL).withColumn("src_group_tax_id", noL)
        .select("period", "account", "tax_id", "src_tax_id", "src_group_tax_id", "balance")
      val t = taxRows(fr: _*).withColumn("balance", org.apache.spark.sql.functions.col("amount"))
        .withColumn("group_tax_id", noL)
        .select("period", "account", "tax_id", "group_tax_id", "balance")
      GenericTaxReport.compute(b, t, taxes, Seq("p0"), Flat)
        .map(l => (l.name, l.cells))
    }
    assert(report(0) == Seq(
      ("Sales", Seq(None, Some(42.0))),
      ("Regular (42.0%)", Seq(Some(100.0), Some(42.0))),
      ("Total Sales", Seq(None, Some(42.0)))))
    assert(report(1) == Seq(
      ("Sales", Seq(None, Some(47.0))),
      ("Regular (42.0%)", Seq(Some(100.0), Some(42.0))),
      ("Cash Basis (10.0%)", Seq(Some(50.0), Some(5.0))),
      ("Total Sales", Seq(None, Some(47.0)))))
    assert(report(2) == Seq(
      ("Sales", Seq(None, Some(52.0))),
      ("Regular (42.0%)", Seq(Some(100.0), Some(42.0))),
      ("Cash Basis (10.0%)", Seq(Some(100.0), Some(10.0))),
      ("Total Sales", Seq(None, Some(52.0)))))
  }
}
