package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.report.GenericTaxReport._

/** The generic tax report's default part, transcribed from the
  * REFERENCE'S OWN test file
  * (account_reports/tests/test_tax_report_default_part.py): the NET|TAX
  * matrices of every aggregation scenario — affect-base chains, group
  * taxes (shared children, expansion by child type, group affected by
  * an outside tax), mixed sale/purchase/none entries, multi-repartition
  * tax lines, the full-refund blank-out, opposite invoice lines in one
  * entry, repetition of an affecting tax, and the three-period
  * comparison layout — each under the flat, account→tax, and
  * tax→account groupings where the reference asserts them.
  *
  * The caret-option aml-redirection checks of the reference file are
  * UI-side (domain construction for a click-through) and out of scope
  * per SURVEY §2.1.
  */
class GoldenTaxDefaultPartSpec extends AnyFunSuite with SparkSpec {

  private val A1 = "400000"
  private val A2 = "400000.2"
  private val names = Map(A1 -> "400000 Product Sales", A2 -> "400000.2 Product Sales")

  /** (period, account, tax_id, src_tax_id, src_group_tax_id, balance) */
  private def baseDf(rows: Seq[(String, String, Long, Option[Long], Option[Long], Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.map(r => (r._1, r._2, r._3,
      r._4.map(Long.box).orNull, r._5.map(Long.box).orNull, r._6))
      .toDF("period", "account", "tax_id", "src_tax_id", "src_group_tax_id", "balance")
  }

  /** (period, account, tax_id, group_tax_id, balance) */
  private def taxDf(rows: Seq[(String, String, Long, Option[Long], Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.map(r => (r._1, r._2, r._3, r._4.map(Long.box).orNull, r._5))
      .toDF("period", "account", "tax_id", "group_tax_id", "balance")
  }

  private def view(ls: Seq[Line]): Seq[(String, Seq[Option[Double]])] =
    ls.map(l => (l.name, l.cells))

  private val P = Seq("p0")
  private def row(name: String, net: Double, tax: Double) =
    (name, Seq(Some(net), Some(tax)))
  private def taxRow(name: String, tax: Double) =
    (name, Seq(None, Some(tax)))
  private def blankRow(name: String) = (name, Seq[Option[Double]](None, None))

  // ---- test_tax_affect_base (:33-131) -------------------------------------

  /** taxes: 20% include_base_amount + 10%, two 1000 lines on separate
    * accounts; the 20% tax amls (200 each, on the base account) carry
    * the 10% tax. */
  private val affectTaxes = Seq(
    Tax(20, "tax_20_affect_base (20.0%)", "sale", sequence = 1),
    Tax(10, "tax_10 (10.0%)", "sale", sequence = 2))
  private val affectBase = baseDf(Seq(
    ("p0", A1, 20L, None, None, -1000.0), ("p0", A1, 10L, None, None, -1000.0),
    ("p0", A2, 20L, None, None, -1000.0), ("p0", A2, 10L, None, None, -1000.0),
    // the 20% tax amls affect the base of the 10% tax
    ("p0", A1, 10L, Some(20L), None, -200.0),
    ("p0", A2, 10L, Some(20L), None, -200.0)))
  private val affectTax = taxDf(Seq(
    ("p0", A1, 20L, None, -200.0), ("p0", A2, 20L, None, -200.0),
    ("p0", A1, 10L, None, -120.0), ("p0", A2, 10L, None, -120.0)))

  test("affect-base: flat matrix (reference :74-86)") {
    assert(view(compute(affectBase, affectTax, affectTaxes, P, Flat, names)) == Seq(
      taxRow("Sales", 640.0),
      row("tax_20_affect_base (20.0%)", 2000.0, 400.0),
      row("tax_10 (10.0%)", 2400.0, 240.0),
      taxRow("Total Sales", 640.0)))
  }

  test("affect-base: account → tax matrix (reference :88-104)") {
    assert(view(compute(affectBase, affectTax, affectTaxes, P, AccountTax, names)) == Seq(
      taxRow("Sales", 640.0),
      taxRow("400000 Product Sales", 320.0),
      row("tax_20_affect_base (20.0%)", 1000.0, 200.0),
      row("tax_10 (10.0%)", 1200.0, 120.0),
      taxRow("Total 400000 Product Sales", 320.0),
      taxRow("400000.2 Product Sales", 320.0),
      row("tax_20_affect_base (20.0%)", 1000.0, 200.0),
      row("tax_10 (10.0%)", 1200.0, 120.0),
      taxRow("Total 400000.2 Product Sales", 320.0),
      taxRow("Total Sales", 640.0)))
  }

  test("affect-base: tax → account matrix (reference :106-124)") {
    assert(view(compute(affectBase, affectTax, affectTaxes, P, TaxAccount, names)) == Seq(
      taxRow("Sales", 640.0),
      taxRow("tax_20_affect_base (20.0%)", 400.0),
      row("400000 Product Sales", 1000.0, 200.0),
      row("400000.2 Product Sales", 1000.0, 200.0),
      taxRow("Total tax_20_affect_base (20.0%)", 400.0),
      taxRow("tax_10 (10.0%)", 240.0),
      row("400000 Product Sales", 1200.0, 120.0),
      row("400000.2 Product Sales", 1200.0, 120.0),
      taxRow("Total tax_10 (10.0%)", 240.0),
      taxRow("Total Sales", 640.0)))
  }

  // ---- test_tax_group_shared_tax (:133-276) -------------------------------

  /** Two group taxes sharing child 10%: 1000 @ group(10+20), 2000 @
    * group(10+30); the child types drive expansion. */
  private def sharedTaxes(use10: String, use20: String) = Seq(
    Tax(10, "tax_10 (10.0%)", use10, sequence = 1),
    Tax(20, "tax_20 (20.0%)", use20, sequence = 2),
    Tax(30, "tax_30 (30.0%)", "none", sequence = 3),
    Tax(1020, "tax_group_10_20", "sale", isGroup = true, children = Seq(10, 20), sequence = 4),
    Tax(1030, "tax_group_10_30", "sale", isGroup = true, children = Seq(10, 30), sequence = 5))
  private val sharedBase = baseDf(Seq(
    ("p0", A1, 1020L, None, None, -1000.0),
    ("p0", A1, 1030L, None, None, -2000.0)))
  private val sharedTax = taxDf(Seq(
    ("p0", A1, 10L, Some(1020L), -100.0), ("p0", A1, 20L, Some(1020L), -200.0),
    ("p0", A1, 10L, Some(1030L), -200.0), ("p0", A1, 30L, Some(1030L), -600.0)))

  test("shared group tax, all children 'none': groups stay aggregated (reference :188-199)") {
    assert(view(compute(sharedBase, sharedTax, sharedTaxes("none", "none"), P, Flat, names)) == Seq(
      taxRow("Sales", 1100.0),
      row("tax_group_10_20", 1000.0, 300.0),
      row("tax_group_10_30", 2000.0, 800.0),
      taxRow("Total Sales", 1100.0)))
  }

  test("shared group tax, account → tax and tax → account (reference :201-235)") {
    assert(view(compute(sharedBase, sharedTax, sharedTaxes("none", "none"), P, AccountTax, names)) == Seq(
      taxRow("Sales", 1100.0),
      taxRow("400000 Product Sales", 1100.0),
      row("tax_group_10_20", 1000.0, 300.0),
      row("tax_group_10_30", 2000.0, 800.0),
      taxRow("Total 400000 Product Sales", 1100.0),
      taxRow("Total Sales", 1100.0)))
    assert(view(compute(sharedBase, sharedTax, sharedTaxes("none", "none"), P, TaxAccount, names)) == Seq(
      taxRow("Sales", 1100.0),
      taxRow("tax_group_10_20", 300.0),
      row("400000 Product Sales", 1000.0, 300.0),
      taxRow("Total tax_group_10_20", 300.0),
      taxRow("tax_group_10_30", 800.0),
      row("400000 Product Sales", 2000.0, 800.0),
      taxRow("Total tax_group_10_30", 800.0),
      taxRow("Total Sales", 1100.0)))
  }

  test("shared child turned 'sale' expands BOTH groups (reference :248-261)") {
    assert(view(compute(sharedBase, sharedTax, sharedTaxes("sale", "none"), P, Flat, names)) == Seq(
      taxRow("Sales", 1100.0),
      row("tax_10 (10.0%)", 3000.0, 300.0),
      row("tax_20 (20.0%)", 1000.0, 200.0),
      row("tax_30 (30.0%)", 2000.0, 600.0),
      taxRow("Total Sales", 1100.0)))
  }

  test("only the group with the 'sale' child expands (reference :263-276)") {
    assert(view(compute(sharedBase, sharedTax, sharedTaxes("none", "sale"), P, Flat, names)) == Seq(
      taxRow("Sales", 1100.0),
      row("tax_10 (10.0%)", 1000.0, 100.0),
      row("tax_20 (20.0%)", 1000.0, 200.0),
      row("tax_group_10_30", 2000.0, 800.0),
      taxRow("Total Sales", 1100.0)))
  }

  // ---- test_tax_group_of_taxes_affected_by_other (:278-376) ----------------

  /** 10% include_base_amount before a non-expanded group (20% affect +
    * 10%): the affecting tax's aml adds the extra base to the group ONCE
    * and the group's internal affect-base rows are ignored. */
  private val affectedGroupTaxes = Seq(
    Tax(11, "tax_10_affect_base (10.0%)", "sale", sequence = 1),
    Tax(21, "tax_20_affect_base", "none", sequence = 2),
    Tax(12, "tax_10", "none", sequence = 3),
    Tax(9000, "tax_group", "sale", isGroup = true, children = Seq(21, 12), sequence = 4))
  private val affectedGroupBase = baseDf(Seq(
    ("p0", A1, 11L, None, None, -1000.0),     // base of the affecting tax
    ("p0", A1, 9000L, None, None, -1000.0),   // base of the group
    // the affecting tax's aml (100) affects both group children
    ("p0", A1, 21L, Some(11L), None, -100.0),
    ("p0", A1, 12L, Some(11L), None, -100.0),
    // the 20%-affect child's aml (220) affects its sibling INSIDE the group
    ("p0", A1, 12L, Some(21L), Some(9000L), -220.0)))
  private val affectedGroupTax = taxDf(Seq(
    ("p0", A1, 11L, None, -100.0),
    ("p0", A1, 21L, Some(9000L), -220.0),
    ("p0", A1, 12L, Some(9000L), -132.0)))

  test("group affected by an outside tax: extra base once, own rows ignored (reference :313-325)") {
    assert(view(compute(affectedGroupBase, affectedGroupTax, affectedGroupTaxes, P, Flat, names)) == Seq(
      taxRow("Sales", 452.0),
      row("tax_10_affect_base (10.0%)", 1000.0, 100.0),
      row("tax_group", 1100.0, 352.0),
      taxRow("Total Sales", 452.0)))
  }

  test("group affected by an outside tax: both groupings (reference :327-359)") {
    assert(view(compute(affectedGroupBase, affectedGroupTax, affectedGroupTaxes, P, AccountTax, names)) == Seq(
      taxRow("Sales", 452.0),
      taxRow("400000 Product Sales", 452.0),
      row("tax_10_affect_base (10.0%)", 1000.0, 100.0),
      row("tax_group", 1100.0, 352.0),
      taxRow("Total 400000 Product Sales", 452.0),
      taxRow("Total Sales", 452.0)))
    assert(view(compute(affectedGroupBase, affectedGroupTax, affectedGroupTaxes, P, TaxAccount, names)) == Seq(
      taxRow("Sales", 452.0),
      taxRow("tax_10_affect_base (10.0%)", 100.0),
      row("400000 Product Sales", 1000.0, 100.0),
      taxRow("Total tax_10_affect_base (10.0%)", 100.0),
      taxRow("tax_group", 352.0),
      row("400000 Product Sales", 1100.0, 352.0),
      taxRow("Total tax_group", 352.0),
      taxRow("Total Sales", 452.0)))
  }

  test("extra base spanning accounts books the full cross-account sum, later combos skip") {
    // code-review regression (r14): the flat reference query carries the
    // CROSS-ACCOUNT sum in its single once-per-group row; our
    // account-keyed guard must book every account row of the winning
    // (tax, src) combo — not just the first account — while a second
    // combo (the same src affecting the other child) stays skipped
    val taxes = Seq(
      Tax(11, "outside (10.0%)", "sale", sequence = 1),
      Tax(21, "child_a", "none", sequence = 2),
      Tax(22, "child_b", "none", sequence = 3),
      Tax(9000, "the_group", "sale", isGroup = true, children = Seq(21, 22), sequence = 4))
    val base = baseDf(Seq(
      ("p0", A1, 11L, None, None, -1000.0),
      ("p0", A1, 9000L, None, None, -600.0),
      ("p0", A2, 9000L, None, None, -400.0),
      // the outside tax's amls on TWO accounts affect child_a
      ("p0", A1, 21L, Some(11L), None, -10.0),
      ("p0", A2, 21L, Some(11L), None, -20.0),
      // the same src against the OTHER child: a later combo, skipped
      ("p0", A1, 22L, Some(11L), None, -10.0),
      ("p0", A2, 22L, Some(11L), None, -20.0)))
    val tax = taxDf(Seq(("p0", A1, 11L, None, -100.0)))
    val lines = compute(base, tax, taxes, P, Flat, names)
    val groupRow = lines.find(_.name == "the_group").get
    assert(groupRow.cells.head.contains(1030.0),
      s"expected 600+400 plain + 10+20 extra, got ${groupRow.cells.head}")
    // and the grouped-by-account layout distributes the extra per account
    val byAcct = compute(base, tax, taxes, P, AccountTax, names)
    val acct2Group = byAcct.zipWithIndex
      .filter { case (l, _) => l.name == "the_group" }
    assert(acct2Group.size == 2, "the group must appear under BOTH accounts")
  }

  test("a grouped src beats an ungrouped src for the once-per-group extra-base slot (NULLS LAST)") {
    // r14 ADVICE: the reference's Postgres ORDER BY src_group sorts NULLs
    // LAST, so when a grouped and an ungrouped src both affect the same
    // group's 'none' child in one period, the GROUPED combo books the
    // extra base and the ungrouped one is skipped — a MinValue sort key
    // for the missing id would invert the winner
    val taxes = Seq(
      Tax(11, "src_a (10.0%)", "sale", sequence = 1),
      Tax(12, "src_b (5.0%)", "sale", sequence = 2),
      Tax(21, "child", "none", sequence = 3),
      Tax(8000, "other_group", "sale", isGroup = true, children = Seq(11), sequence = 4),
      Tax(9000, "the_group", "sale", isGroup = true, children = Seq(21), sequence = 5))
    val base = baseDf(Seq(
      ("p0", A1, 11L, None, None, -1000.0),
      ("p0", A1, 12L, None, None, -500.0),
      ("p0", A1, 9000L, None, None, -1000.0),
      // grouped src (src_group present) vs ungrouped src, both on child 21
      ("p0", A1, 21L, Some(11L), Some(8000L), -30.0),
      ("p0", A1, 21L, Some(12L), None, -50.0)))
    val tax = taxDf(Seq(
      ("p0", A1, 11L, None, -100.0),
      ("p0", A1, 12L, None, -50.0),
      ("p0", A1, 21L, Some(9000L), -200.0)))
    assert(view(compute(base, tax, taxes, P, Flat, names)) == Seq(
      taxRow("Sales", 350.0),
      row("src_a (10.0%)", 1000.0, 100.0),
      row("src_b (5.0%)", 500.0, 50.0),
      row("the_group", 1030.0, 200.0),
      taxRow("Total Sales", 350.0)))
  }

  test("orphan tax ids (archived taxes still on journal lines) are skipped, never abort") {
    val taxes = Seq(Tax(10, "tax (10.0%)", "sale"))
    val base = baseDf(Seq(
      ("p0", A1, 10L, None, None, -1000.0),
      ("p0", A1, 77L, None, None, -500.0),          // unknown tax
      ("p0", A1, 10L, Some(88L), None, -50.0)))     // unknown src tax
    val tax = taxDf(Seq(
      ("p0", A1, 10L, None, -100.0),
      ("p0", A1, 77L, None, -5.0),                  // unknown tax aml
      ("p0", A1, 10L, Some(99L), -1.0)))            // unknown group
    val lines = compute(base, tax, taxes, P, Flat, names)
    // the known tax keeps its own rows; orphans contribute nothing
    // (the unknown-group tax aml falls back to the tax itself: 101)
    assert(view(lines) == Seq(
      taxRow("Sales", 101.0),
      row("tax (10.0%)", 1000.0, 101.0),
      taxRow("Total Sales", 101.0)))
  }

  // ---- test_mixed_all_type_tax_use_same_line (:378-480) --------------------

  /** One debit 1000 carrying a sale, a purchase, and a 'none' tax: the
    * sale section flips sign (net −1000), the none tax vanishes. */
  private val mixedTaxes = Seq(
    Tax(10, "tax_10 (10.0%)", "sale", sequence = 1),
    Tax(20, "tax_20 (20.0%)", "purchase", sequence = 2),
    Tax(30, "tax_30 (30.0%)", "none", sequence = 3))
  private val mixedBase = baseDf(Seq(
    ("p0", A1, 10L, None, None, 1000.0),
    ("p0", A1, 20L, None, None, 1000.0)))
  private val mixedTax = taxDf(Seq(
    ("p0", A1, 10L, None, 100.0),
    ("p0", A1, 20L, None, 200.0)))

  test("mixed sale/purchase/none on one line: sign per section (reference :417-430)") {
    assert(view(compute(mixedBase, mixedTax, mixedTaxes, P, Flat, names)) == Seq(
      taxRow("Sales", -100.0),
      row("tax_10 (10.0%)", -1000.0, -100.0),
      taxRow("Total Sales", -100.0),
      taxRow("Purchases", 200.0),
      row("tax_20 (20.0%)", 1000.0, 200.0),
      taxRow("Total Purchases", 200.0)))
  }

  test("mixed taxes, both groupings (reference :432-470 and :528-578 — same matrices)") {
    assert(view(compute(mixedBase, mixedTax, mixedTaxes, P, AccountTax, names)) == Seq(
      taxRow("Sales", -100.0),
      taxRow("400000 Product Sales", -100.0),
      row("tax_10 (10.0%)", -1000.0, -100.0),
      taxRow("Total 400000 Product Sales", -100.0),
      taxRow("Total Sales", -100.0),
      taxRow("Purchases", 200.0),
      taxRow("400000 Product Sales", 200.0),
      row("tax_20 (20.0%)", 1000.0, 200.0),
      taxRow("Total 400000 Product Sales", 200.0),
      taxRow("Total Purchases", 200.0)))
    assert(view(compute(mixedBase, mixedTax, mixedTaxes, P, TaxAccount, names)) == Seq(
      taxRow("Sales", -100.0),
      taxRow("tax_10 (10.0%)", -100.0),
      row("400000 Product Sales", -1000.0, -100.0),
      taxRow("Total tax_10 (10.0%)", -100.0),
      taxRow("Total Sales", -100.0),
      taxRow("Purchases", 200.0),
      taxRow("tax_20 (20.0%)", 200.0),
      row("400000 Product Sales", 1000.0, 200.0),
      taxRow("Total tax_20 (20.0%)", 200.0),
      taxRow("Total Purchases", 200.0)))
  }

  // ---- test_tax_report_comparisons (:682-776) ------------------------------

  /** Three invoices across three periods; the comparison options add
    * two previous-period column groups. Periods newest first. */
  private val cmpTaxes = Seq(
    Tax(10, "tax_10 (10.0%)", "sale", sequence = 1),
    Tax(20, "tax_20 (20.0%)", "sale", sequence = 2),
    Tax(30, "tax_30 (30.0%)", "sale", sequence = 3))
  private val cmpP = Seq("2019-03", "2019-02", "2019-01")
  private val cmpBase = baseDf(Seq(
    ("2019-03", A1, 10L, None, None, -1000.0),
    ("2019-02", A2, 20L, None, None, -1000.0),
    ("2019-02", A2, 30L, None, None, -1000.0),
    ("2019-01", A1, 30L, None, None, -1000.0)))
  private val cmpTax = taxDf(Seq(
    ("2019-03", A1, 10L, None, -100.0),
    ("2019-02", A2, 20L, None, -200.0),
    ("2019-02", A2, 30L, None, -300.0),
    ("2019-01", A1, 30L, None, -300.0)))

  test("comparisons: flat matrix over three column groups (reference :719-732)") {
    assert(view(compute(cmpBase, cmpTax, cmpTaxes, cmpP, Flat, names)) == Seq(
      ("Sales", Seq(None, Some(100.0), None, Some(500.0), None, Some(300.0))),
      ("tax_10 (10.0%)", Seq(Some(1000.0), Some(100.0), None, None, None, None)),
      ("tax_20 (20.0%)", Seq(None, None, Some(1000.0), Some(200.0), None, None)),
      ("tax_30 (30.0%)", Seq(None, None, Some(1000.0), Some(300.0), Some(1000.0), Some(300.0))),
      ("Total Sales", Seq(None, Some(100.0), None, Some(500.0), None, Some(300.0)))))
  }

  test("comparisons: account → tax layout (reference :734-752)") {
    assert(view(compute(cmpBase, cmpTax, cmpTaxes, cmpP, AccountTax, names)) == Seq(
      ("Sales", Seq(None, Some(100.0), None, Some(500.0), None, Some(300.0))),
      ("400000 Product Sales", Seq(None, Some(100.0), None, None, None, Some(300.0))),
      ("tax_10 (10.0%)", Seq(Some(1000.0), Some(100.0), None, None, None, None)),
      ("tax_30 (30.0%)", Seq(None, None, None, None, Some(1000.0), Some(300.0))),
      ("Total 400000 Product Sales", Seq(None, Some(100.0), None, None, None, Some(300.0))),
      ("400000.2 Product Sales", Seq(None, None, None, Some(500.0), None, None)),
      ("tax_20 (20.0%)", Seq(None, None, Some(1000.0), Some(200.0), None, None)),
      ("tax_30 (30.0%)", Seq(None, None, Some(1000.0), Some(300.0), None, None)),
      ("Total 400000.2 Product Sales", Seq(None, None, None, Some(500.0), None, None)),
      ("Total Sales", Seq(None, Some(100.0), None, Some(500.0), None, Some(300.0)))))
  }

  test("comparisons: tax → account layout (reference :754-776)") {
    assert(view(compute(cmpBase, cmpTax, cmpTaxes, cmpP, TaxAccount, names)) == Seq(
      ("Sales", Seq(None, Some(100.0), None, Some(500.0), None, Some(300.0))),
      ("tax_10 (10.0%)", Seq(None, Some(100.0), None, None, None, None)),
      ("400000 Product Sales", Seq(Some(1000.0), Some(100.0), None, None, None, None)),
      ("Total tax_10 (10.0%)", Seq(None, Some(100.0), None, None, None, None)),
      ("tax_20 (20.0%)", Seq(None, None, None, Some(200.0), None, None)),
      ("400000.2 Product Sales", Seq(None, None, Some(1000.0), Some(200.0), None, None)),
      ("Total tax_20 (20.0%)", Seq(None, None, None, Some(200.0), None, None)),
      ("tax_30 (30.0%)", Seq(None, None, None, Some(300.0), None, Some(300.0))),
      ("400000 Product Sales", Seq(None, None, None, None, Some(1000.0), Some(300.0))),
      ("400000.2 Product Sales", Seq(None, None, Some(1000.0), Some(300.0), None, None)),
      ("Total tax_30 (30.0%)", Seq(None, None, None, Some(300.0), None, Some(300.0))),
      ("Total Sales", Seq(None, Some(100.0), None, Some(500.0), None, Some(300.0)))))
  }

  // ---- test_affect_base_with_repetitions (:778-844) ------------------------

  test("affecting tax repeated across lines books each extra base (reference :836-844)") {
    val taxes = Seq(
      Tax(42, "Affecting (42.0%)", "sale", sequence = 0),
      Tax(10, "Affected (10.0%)", "sale", sequence = 1))
    // lines: 100 @ affecting, 100 @ affected, 100 @ both; the line-3
    // affecting aml (42) carries the affected tax
    val base = baseDf(Seq(
      ("p0", A1, 42L, None, None, -100.0),
      ("p0", A1, 10L, None, None, -100.0),
      ("p0", A1, 42L, None, None, -100.0),
      ("p0", A1, 10L, None, None, -100.0),
      ("p0", A1, 10L, Some(42L), None, -42.0)))
    val tax = taxDf(Seq(
      ("p0", A1, 42L, None, -42.0), ("p0", A1, 42L, None, -42.0),
      ("p0", A1, 10L, None, -10.0), ("p0", A1, 10L, None, -14.2)))
    assert(view(compute(base, tax, taxes, P, Flat, names)) == Seq(
      taxRow("Sales", 108.2),
      row("Affecting (42.0%)", 200.0, 84.0),
      row("Affected (10.0%)", 242.0, 24.2),
      taxRow("Total Sales", 108.2)))
  }

  // ---- test_tax_multiple_repartition_lines (:846-942) ----------------------

  test("a 40/60 repartition books ONE tax row with the full amount (reference :901-942)") {
    val taxes = Seq(Tax(10, "tax (10.0%)", "sale"))
    val base = baseDf(Seq(("p0", A1, 10L, None, None, -1000.0)))
    val tax = taxDf(Seq(
      ("p0", A1, 10L, None, -40.0), ("p0", A1, 10L, None, -60.0)))
    assert(view(compute(base, tax, taxes, P, Flat, names)) == Seq(
      taxRow("Sales", 100.0),
      row("tax (10.0%)", 1000.0, 100.0),
      taxRow("Total Sales", 100.0)))
    assert(view(compute(base, tax, taxes, P, TaxAccount, names)) == Seq(
      taxRow("Sales", 100.0),
      taxRow("tax (10.0%)", 100.0),
      row("400000 Product Sales", 1000.0, 100.0),
      taxRow("Total tax (10.0%)", 100.0),
      taxRow("Total Sales", 100.0)))
  }

  // ---- test_tax_invoice_completely_refund (:944-1026) ----------------------

  test("an invoice fully refunded blanks every cell but keeps the rows (reference :988-1026)") {
    val taxes = Seq(Tax(10, "tax (10.0%)", "sale"))
    val base = baseDf(Seq(
      ("p0", A1, 10L, None, None, -1000.0), ("p0", A1, 10L, None, None, 1000.0)))
    val tax = taxDf(Seq(
      ("p0", A1, 10L, None, -100.0), ("p0", A1, 10L, None, 100.0)))
    assert(view(compute(base, tax, taxes, P, Flat, names)) == Seq(
      blankRow("Sales"), blankRow("tax (10.0%)"), blankRow("Total Sales")))
    assert(view(compute(base, tax, taxes, P, AccountTax, names)) == Seq(
      blankRow("Sales"), blankRow("400000 Product Sales"),
      blankRow("tax (10.0%)"), blankRow("Total 400000 Product Sales"),
      blankRow("Total Sales")))
    assert(view(compute(base, tax, taxes, P, TaxAccount, names)) == Seq(
      blankRow("Sales"), blankRow("tax (10.0%)"),
      blankRow("400000 Product Sales"), blankRow("Total tax (10.0%)"),
      blankRow("Total Sales")))
  }

  // ---- test_tax_report_entry_move_2_opposite_invoice_lines (:1028-1107) ----

  test("opposite invoice lines in one entry net out per tax (reference :1066-1107)") {
    val taxes = Seq(Tax(10, "tax (10.0%)", "sale"))
    val base = baseDf(Seq(
      ("p0", A1, 10L, None, None, -20.0), ("p0", A1, 10L, None, None, 10.0)))
    val tax = taxDf(Seq(("p0", A1, 10L, None, -1.0)))
    assert(view(compute(base, tax, taxes, P, Flat, names)) == Seq(
      taxRow("Sales", 1.0),
      row("tax (10.0%)", 10.0, 1.0),
      taxRow("Total Sales", 1.0)))
    assert(view(compute(base, tax, taxes, P, TaxAccount, names)) == Seq(
      taxRow("Sales", 1.0),
      taxRow("tax (10.0%)", 1.0),
      row("400000 Product Sales", 10.0, 1.0),
      taxRow("Total tax (10.0%)", 1.0),
      taxRow("Total Sales", 1.0)))
  }
}
