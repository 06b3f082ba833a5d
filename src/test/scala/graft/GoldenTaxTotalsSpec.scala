package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.TaxCompute.{Params, TaxDef}
import graft.report.TaxTotals
import graft.report.TaxTotals.{GroupDef, GroupTotal, Subtotal}

/** The invoice tax-totals summary pinned to the reference algorithm
  * (`_aggregate_taxes` + `_prepare_tax_totals`,
  * etl_account/models/account_tax.py:354-530): the no-double-count rule
  * for taxes sharing a base within one group, the first-base-in-tax-order
  * tie-break, the per-record (not global) base accumulation, the subtotal
  * partition by preceding_subtotal with its running total semantics
  * (:503-513), manual tax-line overrides (:469-475), partner 3-decimal
  * rounding (dp_dic :443-449), untaxed-line contributions (:342-349),
  * the display_tax_base rule (:519-520), and the rejection of the broken
  * early-pay 'excluded' branch (:307-324). */
class GoldenTaxTotalsSpec extends AnyFunSuite with SparkSpec {

  /** (record, price_unit, quantity, discount, has_taxes) */
  private def linesDf(rows: Seq[(Long, Double, Double, Double, Boolean)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("rec", "price", "qty", "disc", "taxed")
  }

  private def totals(rows: Seq[(Long, Double, Double, Double, Boolean)],
                     chain: Seq[TaxDef], groups: Map[Long, GroupDef],
                     dp: Int = 2, params: Params = Params(),
                     manual: Seq[(Long, Double)] = Nil,
                     epd: Option[(String, Double)] = None,
                     footerDp: Option[Int] = None): TaxTotals.Totals =
    TaxTotals.footer(linesDf(rows), lit(0L), col("rec"), col("price"),
      col("qty"), col("disc"), when(col("taxed"), 1).otherwise(0),
      Seq(1 -> chain), groups, dp, params, epd, Map(0L -> manual), footerDp)
      .collectTotals()(0L)

  /** [[TaxTotals.footerRound]] and [[TaxTotals.amountTotalRounded]] are
    * plan columns: evaluate one on a one-row frame. */
  private def eval(c: org.apache.spark.sql.Column): Double =
    spark.range(1).select(c).head().getDouble(0)
  private def footerRound(v: Double, dp: Int): Double =
    eval(TaxTotals.footerRound(lit(v), dp))
  private def amountTotalRounded(t: TaxTotals.Totals, balance: Double,
                                 moveType: String): Double =
    eval(TaxTotals.amountTotalRounded(lit(t.amountTotal), lit(balance),
      lit(moveType)))

  private val G1 = GroupDef(1, "Taxes", sequence = 1)
  private val G2 = GroupDef(2, "Withholding", sequence = 2,
    precedingSubtotal = Some("Tax withholding"))

  test("two taxes sharing one group count the base ONCE per line (:393-404)") {
    val chain = Seq(
      TaxDef(10, "10%", "percent", 10.0, sequence = 1),
      TaxDef(20, "20%", "percent", 20.0, sequence = 2))
    val t = totals(Seq((1L, 1000.0, 1.0, 0.0, true)), chain,
      Map(10L -> G1, 20L -> G1))
    // base 1000 (not 2000), tax 100 + 200
    assert(t.groups == Seq(GroupTotal(G1, 1000.0, 300.0)))
    assert(t.amountUntaxed == 1000.0 && t.amountTax == 300.0
      && t.amountTotal == 1300.0)
    assert(t.subtotals == Seq(Subtotal("Untaxed Amount", 1000.0)))
    // one group, base == untaxed → no separate base column (:519-520)
    assert(!t.displayTaxBase)
  }

  test("the once-per-record base is the FIRST tax line's in tax order (include_base chain)") {
    // 20% include_base_amount then 10%: the group's base must stay the
    // ORIGINAL 1000 (the first tax's base), not the 1200 the second tax
    // computes on
    val chain = Seq(
      TaxDef(20, "20%", "percent", 20.0, includeBaseAmount = true, sequence = 1),
      TaxDef(10, "10%", "percent", 10.0, sequence = 2))
    val t = totals(Seq((1L, 1000.0, 1.0, 0.0, true)), chain,
      Map(20L -> G1, 10L -> G1))
    assert(t.groups == Seq(GroupTotal(G1, 1000.0, 320.0)))
    assert(t.amountTotal == 1320.0)
  }

  test("the base adds once per RECORD, not once per group (two lines, same group)") {
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val t = totals(Seq((1L, 1000.0, 1.0, 0.0, true), (2L, 500.0, 1.0, 0.0, true)),
      chain, Map(10L -> G1))
    assert(t.groups == Seq(GroupTotal(G1, 1500.0, 150.0)))
  }

  test("subtotal partition: each subtotal shows untaxed + the EARLIER taxes (:503-513)") {
    // the classic two-bucket footer: 21% under the default bucket, a 10%
    // withholding under its own 'Tax withholding' subtotal
    val chain = Seq(
      TaxDef(21, "21%", "percent", 21.0, sequence = 1),
      TaxDef(5, "wh", "percent", 10.0, sequence = 2))
    val t = totals(Seq((1L, 1000.0, 1.0, 0.0, true)), chain,
      Map(21L -> G1, 5L -> G2))
    assert(t.subtotalsOrder == Seq("Untaxed Amount", "Tax withholding"))
    assert(t.subtotals == Seq(
      Subtotal("Untaxed Amount", 1000.0),
      // the withholding subtotal includes the 21% booked BEFORE it
      Subtotal("Tax withholding", 1210.0)))
    assert(t.groups == Seq(
      GroupTotal(G1, 1000.0, 210.0), GroupTotal(G2, 1000.0, 100.0)))
    assert(t.amountTax == 310.0 && t.amountTotal == 1310.0)
    assert(t.displayTaxBase) // two groups (:520)
  }

  test("an untaxed line adds to amount_untaxed only (:342-349)") {
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val t = totals(Seq(
      (1L, 1000.0, 1.0, 0.0, true),
      (2L, 250.0, 2.0, 0.0, false)), chain, Map(10L -> G1))
    assert(t.amountUntaxed == 1500.0)
    assert(t.groups == Seq(GroupTotal(G1, 1000.0, 100.0)))
    assert(t.amountTotal == 1600.0)
    // one group whose base (1000) differs from untaxed (1500) → display
    assert(t.displayTaxBase)
  }

  test("the line discount applies before the chain (:273)") {
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val t = totals(Seq((1L, 1000.0, 1.0, 20.0, true)), chain, Map(10L -> G1))
    assert(t.amountUntaxed == 800.0)
    assert(t.groups == Seq(GroupTotal(G1, 800.0, 80.0)))
  }

  test("manual tax lines replace the group's tax amount (:469-475)") {
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val t = totals(Seq((1L, 1000.0, 1.0, 0.0, true)), chain,
      Map(10L -> G1), manual = Seq((1L, 99.0)))
    assert(t.groups == Seq(GroupTotal(G1, 1000.0, 99.0)))
    // the subtotal accumulation uses the OVERRIDDEN amount
    assert(t.amountTax == 99.0 && t.amountTotal == 1099.0)
    // a manual line for another group changes nothing
    val t2 = totals(Seq((1L, 1000.0, 1.0, 0.0, true)), chain,
      Map(10L -> G1), manual = Seq((2L, 99.0)))
    assert(t2.groups == Seq(GroupTotal(G1, 1000.0, 100.0)))
    // nor does one for a group of the dimension that has no lines, even
    // under a title the footer shows
    val g3 = GroupDef(3, "Other taxes", sequence = 3)
    val t3 = totals(Seq((1L, 1000.0, 1.0, 0.0, true)), chain,
      Map(10L -> G1, 30L -> g3), manual = Seq((3L, 99.0)))
    assert(t3.groups == Seq(GroupTotal(G1, 1000.0, 100.0)))
    assert(t3.subtotals == Seq(Subtotal("Untaxed Amount", 1000.0)))
    assert(t3.amountTax == 100.0 && t3.amountTotal == 1100.0)
  }

  test("partner 3-decimal precision flows through dp_dic (:443-449)") {
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val t = totals(Seq((1L, 5.13, 1.0, 0.0, true)), chain, Map(10L -> G1),
      dp = 3, params = Params(taxDecimals = Some(3)))
    assert(t.groups == Seq(GroupTotal(G1, 5.13, 0.513)))
    assert(t.amountTotal == 5.643)
  }

  test("early-pay 'included' scales the price; 'excluded' is rejected (broken in the reference)") {
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val t = totals(Seq((1L, 1000.0, 1.0, 0.0, true)), chain,
      Map(10L -> G1), epd = Some(("included", 2.0)))
    assert(t.amountUntaxed == 980.0)
    assert(t.groups == Seq(GroupTotal(G1, 980.0, 98.0)))
    val ex = intercept[IllegalArgumentException] {
      totals(Seq((1L, 1000.0, 1.0, 0.0, true)), chain, Map(10L -> G1),
        epd = Some(("excluded", 2.0)))
    }
    assert(ex.getMessage.contains("excluded"))
  }

  test("display_tax_base compares at the CURRENCY grid (:524), not a hardcoded cent grid") {
    // taxed 5.000 + untaxed 0.004 at a 3-decimal currency: the group
    // base (5.000) and amount_untaxed (5.004) are EQUAL on the cent
    // grid but DIFFERENT on the currency's mill grid —
    // currency.compare_amounts must see the mill-level gap
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val rows = Seq((1L, 5.0, 1.0, 0.0, true), (2L, 0.004, 1.0, 0.0, false))
    val t3 = totals(rows, chain, Map(10L -> G1), dp = 3,
      params = Params(precision = 3, taxDecimals = Some(3)))
    assert(t3.amountUntaxed == 5.004
      && t3.groups == Seq(GroupTotal(G1, 5.0, 0.5)))
    assert(t3.displayTaxBase,
      "a mill-level base/untaxed gap must flip the flag at precision 3")
    // at a 2-decimal currency the same corpus collapses: the untaxed
    // mite rounds away at the currency grid and the flag stays down
    val t2 = totals(rows, chain, Map(10L -> G1), dp = 3,
      params = Params(precision = 2, taxDecimals = Some(3)))
    assert(!t2.displayTaxBase)
  }

  test("company-currency leg (:330-340, :415-417): bases currency-round after /rate, " +
      "per-line tax amounts currency-round only under round_per_line") {
    val s = spark; import s.implicits._
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    // two documents at different rates: 100.00 @ rate 2 and 55.50 @ rate 3
    val lines = Seq((1L, 100.0, 2.0), (2L, 55.5, 3.0))
      .toDF("rec", "price", "rate")
    val agg = TaxTotals.aggregateTaxes(lines, col("rec"), col("price"),
      lit(1.0), lit(0.0), lit(1), Seq(1 -> chain), Map(10L -> G1),
      rate = Some(col("rate")))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // G1 document: base 155.50, tax 10.00 + 5.55; company: base
    // round(100/2) + round(55.50/3) = 50.00 + 18.50, tax round(10/2) +
    // round(5.55/3) = 5.00 + 1.85 (gid = the GROUP id)
    assert(agg(1L) == ((155.5, 15.55, 68.5, 6.85)))
    // sentinel: the untaxed subtotal on both legs (:415-417)
    assert(agg(-1L) == ((155.5, 0.0, 68.5, 0.0)))

    // round_globally defers the currency round: 10.00/3 keeps its mills
    // at dp 3 (3.333) where round_per_line first clamps to cents (3.33)
    def taxCoAt(p: Params): Double =
      TaxTotals.aggregateTaxes(Seq((1L, 100.0)).toDF("rec", "price"),
        col("rec"), col("price"), lit(1.0), lit(0.0), lit(1),
        Seq(1 -> chain), Map(10L -> G1), dp = 3, params = p,
        rate = Some(lit(3.0)))
        .filter(col("gid") === 1).head().getDouble(4)
    assert(taxCoAt(Params(taxDecimals = Some(3))) == 3.33)
    assert(taxCoAt(Params(taxDecimals = Some(3), roundGlobally = true)) == 3.333)
  }

  test("tax_details_per_record (:372-384): base once per (record, group), " +
      "taxes summed, sentinel row = the record's price_subtotal") {
    val s = spark; import s.implicits._
    // two taxes sharing G1 so the no-double-count rule shows PER RECORD
    val chain = Seq(
      TaxDef(10, "10%", "percent", 10.0, sequence = 1),
      TaxDef(20, "20%", "percent", 20.0, sequence = 2))
    val lines = Seq((1L, 1000.0), (2L, 500.0)).toDF("rec", "price")
    val det = TaxTotals.taxDetailsPerRecord(lines, col("rec"), col("price"),
      lit(1.0), lit(0.0), lit(1), Seq(1 -> chain), Map(10L -> G1, 20L -> G1))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(det((1L, 1L)) == ((1000.0, 300.0)))
    assert(det((2L, 1L)) == ((500.0, 150.0)))
    assert(det((1L, -1L)) == ((1000.0, 0.0)) && det((2L, -1L)) == ((500.0, 0.0)))
    assert(det.size == 4)
  }

  test("mixed-chain corpus (:277): per-row chain selection equals running each chain alone") {
    val s = spark; import s.implicits._
    val chainA = Seq(TaxDef(10, "10%", "percent", 10.0))
    val chainB = Seq(TaxDef(21, "21%", "percent", 21.0,
      includeBaseAmount = true, sequence = 1),
      TaxDef(5, "wh", "percent", 5.0, sequence = 2))
    val groups = Map(10L -> G1, 21L -> G1, 5L -> G2)
    // keys: 1 → chainA, 2 → chainB, 0 → untaxed (matches no chain)
    val corpus = Seq((1L, 100.0, 1), (2L, 200.0, 2), (3L, 50.0, 0))
      .toDF("rec", "price", "k")
    val t = TaxTotals.footer(corpus, lit(0L), col("rec"), col("price"),
      lit(1.0), lit(0.0), col("k"), Seq(1 -> chainA, 2 -> chainB), groups)
      .collectTotals()(0L)
    // chainB on 200: 21% → 42 (include_base), then 5% on 242 → 12.10;
    // G2's once-per-record base is ITS first tax line's base, 242
    assert(t.amountUntaxed == 350.0)
    assert(t.groups == Seq(
      GroupTotal(G1, 300.0, 52.0), GroupTotal(G2, 242.0, 12.1)))
    assert(t.amountTax == 64.1 && t.amountTotal == 414.1)
    // the same totals as the three single-chain corpora summed
    def alone(rows: Seq[(Long, Double)], chain: Seq[TaxDef]): TaxTotals.Totals =
      TaxTotals.footer(rows.toDF("rec", "price"), lit(0L), col("rec"),
        col("price"), lit(1.0), lit(0.0), lit(1), Seq(1 -> chain), groups)
        .collectTotals()(0L)
    val parts = Seq(alone(Seq((1L, 100.0)), chainA),
      alone(Seq((2L, 200.0)), chainB), alone(Seq((3L, 50.0)), Nil))
    assert(t.amountUntaxed == parts.map(_.amountUntaxed).sum)
    assert(t.amountTax == parts.map(_.amountTax).sum)
  }

  test("dp=0 footer (:443 `0: 0.01`): half-up at CENTS then half-even to " +
      "integers — not one direct half-up round") {
    // the two-grid composition where the collapses diverge:
    assert(footerRound(2.5, 0) == 2.0,   // half-even, not 3
      "round(float_round(2.5, 0.01), 0) is banker's at the integer grid")
    assert(footerRound(3.5, 0) == 4.0)
    assert(footerRound(1.496, 0) == 2.0, // via 1.50; one round → 1
      "the cent grid must round FIRST")
    assert(footerRound(1000.5, 0) == 1000.0)
    intercept[IllegalArgumentException](footerRound(1.0, 1))
    intercept[IllegalArgumentException](footerRound(1.0, 4))

    // the no-partner path (:446-449): lines compute at the default dp 2,
    // the FOOTER rounds at the 0-decimal currency's two-step grid
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val t = totals(Seq((1L, 1000.5, 1.0, 0.0, true)), chain, Map(10L -> G1),
      dp = 2, footerDp = Some(0))
    assert(t.amountUntaxed == 1000.0, "1000.50 → half-even → 1000, not 1001")
    assert(t.groups == Seq(GroupTotal(G1, 1000.0, 100.0)))
    assert(t.amountTax == 100.0 && t.amountTotal == 1100.0)
    assert(t.subtotals == Seq(Subtotal("Untaxed Amount", 1000.0)))
    // line-level dp 0 is OUTSIDE _compute_taxes_for_single_line's dp_dic
    // (:265) — loud, like the reference's KeyError
    val ex = intercept[IllegalArgumentException] {
      totals(Seq((1L, 10.0, 1.0, 0.0, true)), chain, Map(10L -> G1), dp = 0)
    }
    assert(ex.getMessage.contains("dp_dic"))
  }

  test("cash-rounding footer arm (account_move.py:667-673): balance sign " +
      "flips for out_refund / in_invoice") {
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val t = totals(Seq((1L, 100.04, 1.0, 0.0, true)), chain, Map(10L -> G1))
    assert(t.amountTotal == 110.04)
    // a 0.04 rounding line: customer invoice subtracts the raw balance,
    // vendor bill / customer refund subtract the flipped one (raw
    // arithmetic — the reference rounds only at formatLang)
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    assert(near(amountTotalRounded(t, 0.04, "out_invoice"), 110.0))
    assert(near(amountTotalRounded(t, 0.04, "in_invoice"), 110.08))
    assert(near(amountTotalRounded(t, 0.04, "out_refund"), 110.08))
    assert(near(amountTotalRounded(t, 0.04, "in_refund"), 110.0))
  }

  test("grouping_key_generator (:356-358, :425-426): the DEFAULT generator " +
      "groups by TAX; an explicit by-group generator is byte-identical to None") {
    val s = spark; import s.implicits._
    // two taxes SHARING one group: by-GROUP they collapse (base once),
    // by-TAX each keeps its own base and amount — the reference's
    // default `{'tax': tax_repartition_line.tax_id}`
    val chain = Seq(
      TaxDef(10, "10%", "percent", 10.0, sequence = 1),
      TaxDef(20, "20%", "percent", 20.0, sequence = 2))
    val groups = Map(10L -> G1, 20L -> G1)
    val lines = Seq((1L, 1000.0), (2L, 500.0)).toDF("rec", "price")
    def agg(gk: Option[TaxDef => Long]): Map[Long, (Double, Double)] =
      TaxTotals.aggregateTaxes(lines, col("rec"), col("price"), lit(1.0),
        lit(0.0), lit(1), Seq(1 -> chain), groups, groupingKey = gk)
        .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
        .toMap
    val byTax = agg(Some(TaxTotals.byTax))
    assert(byTax == Map(
      -1L -> ((1500.0, 0.0)),   // sentinel: untaxed subtotal
      10L -> ((1500.0, 150.0)), // each TAX carries its own base
      20L -> ((1500.0, 300.0))))
    // an explicit generator reproducing the by-group default must be
    // byte-identical to passing None (the r16 verdict's #3 pin)
    assert(agg(Some(t => groups(t.id).id)).toSeq.sortBy(_._1)
      == agg(None).toSeq.sortBy(_._1))
    // a generator colliding with the sentinel −1 rejects up front
    val ex = intercept[IllegalArgumentException] {
      agg(Some(_ => -1L))
    }
    assert(ex.getMessage.contains("sentinel"))
  }

  test("filter_tax_values_to_apply (:422) is POST-compute: the chain computes " +
      "in full, only the aggregation drops the filtered tax lines") {
    val s = spark; import s.implicits._
    // 20% include_base then 10%: filtering OUT the 20% must leave the
    // 10%'s amounts computed on the INCLUDED base (120 on 1200), not
    // recomputed on 1000 — pre-filtering the chain would give 100
    val chain = Seq(
      TaxDef(20, "20%", "percent", 20.0, includeBaseAmount = true, sequence = 1),
      TaxDef(10, "10%", "percent", 10.0, sequence = 2))
    val groups = Map(20L -> G1, 10L -> G1)
    val lines = Seq((1L, 1000.0)).toDF("rec", "price")
    val agg = TaxTotals.aggregateTaxes(lines, col("rec"), col("price"),
      lit(1.0), lit(0.0), lit(1), Seq(1 -> chain), groups,
      filterTaxValues = Some((_, t) => t.id != 20L))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    // the group's base is the first SURVIVING line's (the 10%'s, 1200);
    // the sentinel keeps the full-chain price_subtotal (1000)
    assert(agg == Map(-1L -> ((1000.0, 0.0)), 1L -> ((1200.0, 120.0))))
    // filtering everything leaves only the sentinel — the record's
    // subtotal still counts (the reference's global base adds per
    // base_line BEFORE the filter loop, :415-417)
    val none = TaxTotals.aggregateTaxes(lines, col("rec"), col("price"),
      lit(1.0), lit(0.0), lit(1), Seq(1 -> chain), groups,
      filterTaxValues = Some((_, _) => false))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(none == Map(-1L -> ((1000.0, 0.0))))
  }

  test("rate = None skips the company leg entirely (document-leg schema)") {
    val s = spark; import s.implicits._
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val lines = Seq((1L, 100.0)).toDF("rec", "price")
    for (df <- Seq(
        TaxTotals.aggregateTaxes(lines, col("rec"), col("price"), lit(1.0),
          lit(0.0), lit(1), Seq(1 -> chain), Map(10L -> G1)),
        TaxTotals.taxDetailsPerRecord(lines, col("rec"), col("price"),
          lit(1.0), lit(0.0), lit(1), Seq(1 -> chain), Map(10L -> G1))))
      assert(!df.columns.exists(_.endsWith("_company")),
        s"rate=None must not build company columns: ${df.columns.mkString(",")}")
    // a company-currency document that WANTS the leg passes lit(1.0)
    val withLeg = TaxTotals.aggregateTaxes(lines, col("rec"), col("price"),
      lit(1.0), lit(0.0), lit(1), Seq(1 -> chain), Map(10L -> G1),
      rate = Some(lit(1.0)))
    assert(withLeg.columns.count(_.endsWith("_company")) == 2)
  }

  test("sliced footer == per-slice footers (one plan, same layout arithmetic)") {
    val s = spark; import s.implicits._
    val chainA = Seq(TaxDef(10, "10%", "percent", 10.0))
    val chainB = Seq(TaxDef(5, "wh", "percent", 5.0))
    val groups = Map(10L -> G1, 5L -> G2)
    // three batches over a mixed-chain corpus, one of them with a
    // manual override; batch 2 has an untaxed line riding along
    val corpus = Seq(
      (0L, 1L, 1000.0, 1), (0L, 2L, 500.0, 2),
      (1L, 3L, 77.0, 1), (1L, 4L, 13.0, 1),
      (2L, 5L, 250.0, 2), (2L, 6L, 40.0, 0))
      .toDF("mt", "rec", "price", "k")
    val chains = Seq(1 -> chainA, 2 -> chainB)
    val manual = Map(1L -> Seq((1L, 9.5)))
    def footer(df: DataFrame, manualBySlice: Map[Long, Seq[(Long, Double)]]) =
      TaxTotals.footer(df, col("mt"), col("rec"), col("price"), lit(1.0),
        lit(0.0), col("k"), chains, groups, manualBySlice = manualBySlice)
        .collectTotals()
    val sliced = footer(corpus, manual)
    assert(sliced.keySet == Set(0L, 1L, 2L))
    for (mt <- Seq(0L, 1L, 2L)) {
      val alone = footer(corpus.filter(col("mt") === mt),
        manual.filter(_._1 == mt))(mt)
      assert(sliced(mt) == alone, s"slice $mt")
    }
    // spot-pin one slice by hand: batch 1 = 77 + 13 at 10%, manual 9.5
    assert(sliced(1L).amountUntaxed == 90.0)
    assert(sliced(1L).groups == Seq(GroupTotal(G1, 90.0, 9.5)))
    assert(sliced(1L).amountTotal == 99.5)
  }

  test("sliced footer rejects non-integral and null slice keys, unused overrides (r17 verdict #2 / ADVICE)") {
    val s = spark; import s.implicits._
    val chain = Seq(TaxDef(10, "10%", "percent", 10.0))
    val groups = Map(10L -> G1)
    def sliced(df: DataFrame, sliceCol: String,
               manual: Map[Long, Seq[(Long, Double)]] = Map()) =
      TaxTotals.footer(df, col(sliceCol), col("rec"), col("price"),
        lit(1.0), lit(0.0), lit(1), Seq(1 -> chain), groups,
        manualBySlice = manual).collectTotals()
    // a string slice would cast to null/garbage silently — reject at build
    val strSlice = Seq(("a", 1L, 100.0)).toDF("mt", "rec", "price")
    val e1 = intercept[IllegalArgumentException](sliced(strSlice, "mt"))
    assert(e1.getMessage.contains("integral"))
    // a double slice truncates — reject too
    val dblSlice = Seq((1.5, 1L, 100.0)).toDF("mt", "rec", "price")
    assert(intercept[IllegalArgumentException](sliced(dblSlice, "mt"))
      .getMessage.contains("integral"))
    // a NULL slice value would merge into slice 0 via getLong — reject
    val nullSlice = Seq((Some(0L), 1L, 100.0), (None, 2L, 50.0))
      .toDF("mt", "rec", "price")
    val e2 = intercept[IllegalArgumentException](sliced(nullSlice, "mt"))
    assert(e2.getMessage.contains("null slice"))
    // a manual override keyed to a slice with no rows must fail loudly,
    // not vanish (ADVICE r17 #2)
    val ok = Seq((0L, 1L, 100.0)).toDF("mt", "rec", "price")
    val e3 = intercept[IllegalArgumentException](
      sliced(ok, "mt", manual = Map(3L -> Seq((1L, 9.9)))))
    assert(e3.getMessage.contains("match no slice"))
    // int/short slices widen losslessly — accepted
    val intSlice = Seq((1, 1L, 100.0)).toDF("mt", "rec", "price")
    assert(sliced(intSlice, "mt").keySet == Set(1L))
  }

  /** A data dir holding only the two tables the footer gates read. */
  private def footerFixture(lineitem: Seq[(Long, Double, Int)],
                            orders: Seq[(Long, Long)]): String = {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_footer_gates").toString
    lineitem.toDF("l_orderkey", "l_quantity", "l_linenumber")
      .write.parquet(s"$dir/lineitem.parquet")
    orders.toDF("o_orderkey", "o_custkey").write.parquet(s"$dir/orders.parquet")
    dir
  }

  test("an empty corpus shows the zero footer, through Totals and through the footer gates") {
    assert(totals(Nil, Seq(TaxDef(10, "10%", "percent", 10.0)), Map(10L -> G1),
      manual = Seq((1L, 5.0))) == TaxTotals.Totals.zero)
    val dir = footerFixture(Nil, Nil)
    try {
      def rows(q: String) = Queries.all(q)(spark, dir).collect().toSeq.map(_.toSeq)
      val zero = Seq(Seq(3L, "(totals)", 0.0, 0.0, 0.0))
      assert(rows("q174_tax_totals") == zero)
      assert(rows("q179_tax_totals_multichain") == zero)
      assert(rows("q181_cash_rounding_footer") ==
        Seq("in_invoice", "in_refund", "out_invoice", "out_refund")
          .map(Seq(_, 0.0, 0.0, 0.0)))
    } finally Scratch.deleteRec(new java.io.File(dir))
  }

  test("building the footer gates starts no Spark job (the layout is in the plan)") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.GraftListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // building must not read the data, so a two-table fixture will do; a
    // table's first load infers its parquet schema with a job, once per
    // path (Tables' schema memo), which is the loader's, not the gate's
    val dir = footerFixture(Seq((1L, 3.0, 1)), Seq((7L, 2L)))
    Tables.lineitem(spark, dir); Tables.orders(spark, dir)
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      for (q <- Seq("q174_tax_totals", "q179_tax_totals_multichain",
          "q181_cash_rounding_footer")) {
        Queries.all(q)(spark, dir)
        GraftListenerBus.drain(sc)
        assert(jobs.get == 0, s"building $q started ${jobs.get} Spark jobs")
      }
    } finally {
      sc.removeSparkListener(listener)
      Scratch.deleteRec(new java.io.File(dir))
    }
  }

  test("group order follows (sequence, id); negative quantities re-sign (:479, :92-99)") {
    val g9 = GroupDef(9, "Late", sequence = 1) // same sequence as G1, higher id
    val chain = Seq(
      TaxDef(10, "a", "percent", 10.0, sequence = 1),
      TaxDef(20, "b", "percent", 20.0, sequence = 2))
    val t = totals(Seq((1L, 100.0, -1.0, 0.0, true)), chain,
      Map(10L -> g9, 20L -> G1))
    assert(t.groups.map(_.group.id) == Seq(1L, 9L))
    assert(t.groups == Seq(
      GroupTotal(G1, -100.0, -20.0), GroupTotal(g9, -100.0, -10.0)))
    assert(t.amountUntaxed == -100.0 && t.amountTotal == -130.0)
  }
}
