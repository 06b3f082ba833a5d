package graft.report

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.engine.TaxCompute
import graft.engine.TaxCompute.{Params, TaxDef}

/** The invoice tax-totals summary — the reference's `_aggregate_taxes` +
  * `_prepare_tax_totals` (etl_account/models/account_tax.py:354-530), the
  * per-tax-group aggregation over `compute_all` outputs that feeds every
  * invoice footer (account_move.py:606-674 `_compute_tax_totals`) and the
  * sales/purchase wizards' amount-by-group lists (wizard/sales_report.py,
  * wizard/purchase_report.py):
  *
  *  1. per line, `_compute_taxes_for_single_line` (:263-351): price after
  *     the line discount (:273) and optionally after an early-pay
  *     discount (:279-281), then the [[TaxCompute]]-compiled chain;
  *     `price_subtotal` = the dp-rounded total_excluded (:303); a line
  *     WITHOUT taxes contributes its currency-rounded subtotal and no
  *     tax lines (:342-349); each tax line also carries the COMPANY-
  *     currency leg (:330-340): `base_amount = currency.round(base /
  *     rate)`, `tax_amount = round(maybe_currency_round(amount / rate),
  *     dp)` where the currency round applies under round_per_line;
  *  2. `_aggregate_taxes` (:354-439) groups the tax lines by tax GROUP
  *     with the no-double-count rule (:393-404): within one (group,
  *     line-record) the base counts ONCE — the FIRST tax line's base in
  *     tax order — while tax amounts all add; the same accumulation also
  *     runs per RECORD (`tax_details_per_record`, :372-384), and the
  *     record-level company base is `currency.round(price_subtotal /
  *     rate)` (:415-417);
  *  3. `_prepare_tax_totals` (:441-530): per-group dp rounding (:466-467),
  *     manual tax-line overrides replacing a group's tax amount
  *     (:469-475), group order by (sequence, id) (:479), and the subtotal
  *     partition by preceding_subtotal — each subtotal line shows
  *     untaxed + the tax of the EARLIER subtotals (:503-513). The footer
  *     itself uses only the document-currency leg (:463-467); the company
  *     leg is exposed through [[aggregateTaxes]] / [[taxDetailsPerRecord]]
  *     for `_aggregate_taxes` consumers.
  *
  * Scale: the per-line computation is the same codegen'd projection as
  * q173 — no UDF, no driver loop over lines; the untaxed subtotal rides
  * the SAME exploded aggregation as the tax lines under a sentinel group,
  * so the whole summary is ONE scan into a two-level groupBy — (slice,
  * record, group) then (slice), one (base, tax) sum per group of the
  * static group dimension — whose second level has one row per slice.
  * [[footer]] lays `_prepare_tax_totals` out in the same plan, as columns
  * of that row, so building a footer starts no job and nothing is
  * collected before the caller's action. A corpus mixing SEVERAL tax
  * chains stays one scan too: each distinct chain compiles once and a
  * per-row key selects its exploded entry array (the compile-per-variant/
  * select-per-row mechanism of [[LineTotals.computePerPartner]]).
  *
  * The reference's `early_pay_discount_computation='excluded'` delta
  * branch (:307-324) is NOT implemented: the reference code in that
  * branch is unreachable-as-written (its `delta_tax = round(...),`
  * trailing commas build tuples, so `tax_res['amount'] += delta_tax`
  * raises TypeError on first use, and no reference test exercises it);
  * [[footer]] rejects it loudly. 'included' — a pure price
  * scaling (:279-281) — is supported.
  */
object TaxTotals {

  /** A tax group (the reference's account.tax.group dim): `sequence`
    * orders groups and drives the subtotal partition; `precedingSubtotal`
    * names the subtotal line the group appears under (None = the default
    * "Untaxed Amount" bucket, :490). */
  final case class GroupDef(id: Long, name: String, sequence: Int = 0,
                            precedingSubtotal: Option[String] = None)

  final case class GroupTotal(group: GroupDef, baseAmount: Double,
                              taxAmount: Double)
  final case class Subtotal(name: String, amount: Double)

  /** `_prepare_tax_totals`' result (:522-530), minus the locale
    * formatting strings (rendering, out of scope per SURVEY §2.1). */
  final case class Totals(amountUntaxed: Double, amountTax: Double,
                          amountTotal: Double, groups: Seq[GroupTotal],
                          subtotals: Seq[Subtotal],
                          subtotalsOrder: Seq[String],
                          displayTaxBase: Boolean)

  object Totals {
    /** What a slice with no records shows, and so an empty corpus. */
    val zero: Totals = Totals(0.0, 0.0, 0.0, Nil, Nil, Nil, displayTaxBase = false)
  }

  /** The footer's `round(tools.float_round(x, dp_dic[dp]), dp)` two-step
    * (:443 `dp_dic = {2: 0.01, 3: 0.001, 0: 0.01}`, used :466-467,
    * :508-513, :515-517). For dp ∈ {2,3} both steps round on the SAME
    * grid, so they collapse to one HALF_UP `round` (over the value's
    * decimal string, like Python's float_round). For dp = 0 the grids
    * DIFFER: float_round half-ups at CENTS first, then Python's `round`
    * — HALF-EVEN, `bround` — takes the cent value to the integer grid,
    * so 2.50 → 2 (not 3) and 1.496 → 1.50 → 2 (a direct half-up round
    * at 0 decimals would give 1). Any other dp raises, like the
    * reference's dp_dic KeyError — silent one-round behavior at dp = 0
    * is the one unacceptable outcome. */
  private[graft] def footerRound(v: Column, dp: Int): Column = dp match {
    case 2 | 3 => round(v, dp)
    case 0 => bround(round(v, 2), 0)
    case d => throw new IllegalArgumentException(
      s"footer decimal count $d is outside the reference's dp_dic " +
        "domain {0, 2, 3} (account_tax.py:443)")
  }

  /** `_aggregate_taxes`' per-record level (:372-384): one row per
    * (record, grouping key) with the once-per-record base rule —
    * `min_by(base, ord)` under (record, gid) — on each present
    * currency leg, while tax amounts all add (:393-404). The sentinel
    * group −1 row carries the record's untaxed subtotal: its
    * `base_amount` is the record's `price_subtotal` (the reference's
    * record-level base_amount_currency, :412-417) and its
    * `base_amount_company` the `currency.round(price_subtotal / rate)`
    * company leg. `hasCompanyLeg` states whether [[explodedTaxLines]]
    * built the company columns (footer callers don't, so they are
    * never computed there) — threaded explicitly so a caller frame
    * that happens to carry a `base_co` column can't flip the
    * aggregation shape silently. */
  private[graft] def perRecordDetails(taxLines: DataFrame,
                                      hasCompanyLeg: Boolean): DataFrame = {
    val company =
      if (!hasCompanyLeg) Nil
      else Seq(min_by(col("base_co"), col("ord")).as("base_amount_company"),
        sum(col("amount_co")).as("tax_amount_company"))
    taxLines
      .groupBy(col("rec"), col("gid"))
      .agg(min_by(col("base"), col("ord")).as("base_amount"),
        (sum(col("amount")).as("tax_amount") +: company): _*)
  }

  /** The per-tax-line explode feeding both aggregation levels: ONE scan
    * whose every row becomes (sentinel −1 row + one row per compiled tax
    * line of ITS chain). `chainKey` selects the row's chain among the
    * compiled `chains`; a key matching no chain (or a chain that is
    * empty) contributes like the reference's taxes-empty branch
    * (:342-349) — the currency-rounded subtotal under the sentinel, no
    * tax rows. `companyLeg` = Some(rate) additionally builds the
    * company-currency fields (amounts DIVIDE by the document→company
    * rate, :330, :415-417; pass lit(1.0) for company-currency
    * documents); None skips them entirely — the footer only reads the
    * document leg (:463-467), so it never pays for the conversion
    * arithmetic or the extra aggregate buffers.
    *
    * `groupingKey` mirrors `_aggregate_taxes`' `grouping_key_generator`
    * (:356-358, :425-426): None = the footer's by-tax-GROUP generator
    * (`_prepare_tax_totals` passes `{'tax_group': tax.tax_group_id}`,
    * :456-460), so gid = `taxToGroup(tax.id).id`; Some(f) = a custom
    * generator over the tax — [[byTax]] is the reference's DEFAULT
    * (`tax_repartition_line.tax_id`, :357). Custom keys must avoid the
    * sentinel −1 (checked against every chain tax up front, since the
    * chains are static). `taxToGroup` must cover every chain tax only
    * under the default generator.
    *
    * `filterTaxValues` mirrors `filter_tax_values_to_apply` (:422):
    * a POST-compute filter — the chain computes in full (affect-base /
    * price-included interactions intact, and the sentinel keeps the
    * full-chain `price_subtotal`) and only the AGGREGATION drops the
    * failing tax lines, exactly like the reference skips them inside
    * the accumulation loop. This is NOT pre-filtering the chain, which
    * would recompute the surviving taxes on different bases. The
    * predicate sees (chainKey, tax) — per-chain variation stands in for
    * the reference's base_line argument, whose consumers key off tax
    * attributes (e.g. cash-basis exigibility). */
  private[graft] def explodedTaxLines(lines: DataFrame, record: Column,
                                      priceUnit: Column, quantity: Column,
                                      discount: Column, chainKey: Column,
                                      chains: Seq[(Int, Seq[TaxDef])],
                                      taxToGroup: Map[Long, GroupDef],
                                      dp: Int, params: Params,
                                      earlyPayDiscount: Option[(String, Double)],
                                      companyLeg: Option[Column],
                                      groupingKey: Option[TaxDef => Long] = None,
                                      filterTaxValues: Option[(Int, TaxDef) => Boolean] = None): DataFrame = {
    require(!earlyPayDiscount.exists(_._1 == "excluded"),
      "early_pay_discount_computation='excluded' is unsupported: the " +
        "reference branch (account_tax.py:307-324) is broken as written " +
        "(tuple-building trailing commas) and untested — see scaladoc")
    require(dp == 2 || dp == 3,
      s"line decimal count $dp is outside _compute_taxes_for_single_line's " +
        "dp_dic domain {2, 3} (account_tax.py:265) — the reference raises " +
        "KeyError; a dp=0 CURRENCY rounds the footer only (pass footerDp)")
    chains.foreach { case (_, chain) =>
      chain.foreach { t =>
        groupingKey match {
          case None => require(taxToGroup.contains(t.id),
            s"tax ${t.id} has no tax group mapping")
          case Some(f) => require(f(t) != -1L,
            s"grouping key of tax ${t.id} collides with the sentinel -1")
        }
      }
    }
    require(chains.map(_._1).distinct.size == chains.size,
      "duplicate chain keys")
    val gidOf: TaxDef => Long =
      groupingKey.getOrElse(t => taxToGroup(t.id).id)

    // r18 optimization: every sequential accumulation point of the chain
    // compilation (and the shared discounted price) is MATERIALIZED as a
    // named projection column instead of re-inlined into each consumer
    // expression — [[TaxCompute.compile]]'s mat hook documents why (the
    // fully inlined generator tree exceeded the JVM's JIT method limit
    // and ran interpreted). Values are bit-identical; only sharing
    // changes. The columns are computed UNCONDITIONALLY per row (the old
    // when-chain evaluated only the row's own chain lazily) — pure
    // JIT-compiled double arithmetic, orders of magnitude cheaper than
    // the interpreted evaluation it replaces, and safe: no branch can
    // throw (double division yields ±Inf/NaN, consumed only by the row's
    // own chain entries via the chainKey selection).
    val matBuf = scala.collection.mutable.ArrayBuffer[(String, Column)]()
    def register(name: String, c: Column): Column = {
      matBuf += name -> c
      col(name)
    }

    // :273 line discount, then :279-281 the early-pay 'included' scaling
    val afterDiscount = priceUnit * (lit(1.0) - coalesce(discount, lit(0.0)) / 100.0)
    val price = register("__tc_price", earlyPayDiscount match {
      case Some(("included", pct)) => afterDiscount * ((100.0 - pct) / 100.0)
      case _ => afterDiscount
    })
    // company-currency conversions (:330-334, :415-417): bases currency-
    // round after /rate; per-line tax amounts currency-round only under
    // round_per_line, then dp-round either way
    def companyFields(base: Column, amount: Column): Seq[Column] =
      companyLeg.toSeq.flatMap { rt =>
        val conv = amount / rt
        Seq(round(base / rt, params.precision).as("base_co"),
          round(if (params.roundGlobally) conv
            else round(conv, params.precision), dp).as("amount_co"))
      }
    def entry(gid: Column, ord: Column, base: Column, amount: Column) =
      struct((Seq(gid.as("gid"), ord.as("ord"), base.as("base"),
        amount.as("amount")) ++ companyFields(base, amount)): _*)

    // the taxes-empty contribution (:342-349): currency-rounded subtotal
    val untaxedArr = array(entry(lit(-1L), lit(-1),
      round(price * quantity, params.precision), lit(0.0)))
    // one compiled entry array per distinct chain; the row's key selects
    val arr = chains.foldRight(untaxedArr) { case ((key, chain), other) =>
      if (chain.isEmpty) when(chainKey === key, untaxedArr).otherwise(other)
      else {
        val c = TaxCompute.compile(chain, price, quantity, params,
          (n, e) => register(s"__tc_${key}_$n", e))
        // price_subtotal: dp-rounded total_excluded for taxed lines (:303)
        val sentinel = entry(lit(-1L), lit(-1), round(c.totalExcluded, dp),
          lit(0.0))
        // ord = the tax-order index BEFORE filtering, so the first-base
        // rule still picks the first SURVIVING line in tax order (the
        // reference initializes the base from the first non-skipped
        // tax_values, :394-399)
        val entries = c.lines.zipWithIndex
          .filter { case (l, _) => filterTaxValues.forall(p => p(key, l.tax)) }
          .map { case (l, i) => entry(lit(gidOf(l.tax)), lit(i), l.base, l.amount) }
        when(chainKey === key, array(sentinel +: entries: _*)).otherwise(other)
      }
    }
    val companyCols =
      if (companyLeg.isEmpty) Nil
      else Seq(col("e.base_co").as("base_co"),
        col("e.amount_co").as("amount_co"))
    // one chained select per materialized column: each may reference the
    // previous ones, so they cannot share a single projection; Catalyst
    // keeps the multiply-referenced ones as real columns (CollapseProject
    // refuses to duplicate non-cheap expressions) and inlines the rest
    val withMats = matBuf.foldLeft(lines) { case (df, (n, c)) =>
      df.select(col("*"), c.as(n))
    }
    // `record` gets a GENERATOR-FREE projection of its own before the
    // explode: putting an aliased struct() in the same projection as a
    // generator lets the analyzer's generator extraction strip the
    // struct's field aliases (observed on the sliced footer's (s, r)
    // record struct, which then fails rec.s resolution). The entry ARRAY
    // stays an expression in the generator projection deliberately —
    // aliasing it as a single-use column would let CollapseProject
    // re-inline every materialized column into one giant expression
    // (measured: 1.5 MB of codegen, compile failure, interpreted
    // fallback), undoing the mat cut.
    withMats.select(col("*"), record.as("__tc_rec"))
      .select(col("__tc_rec").as("rec"), explode(arr).as("e"))
      .select((Seq(col("rec"), col("e.gid").as("gid"),
        col("e.ord").as("ord"), col("e.base").as("base"),
        col("e.amount").as("amount")) ++ companyCols): _*)
  }

  /** The reference's DEFAULT `grouping_key_generator` (:356-358): group
    * by the TAX itself (`tax_values['tax_repartition_line'].tax_id`) —
    * what `_aggregate_taxes` does when the caller passes no generator;
    * the footer overrides it with the by-tax-GROUP generator
    * (:456-460), which is this module's None default. */
  val byTax: TaxDef => Long = _.id

  /** The `_aggregate_taxes` group frame (:354-439) as a distributed
    * result: one row per grouping key — (gid, base_amount, tax_amount
    * [, base_amount_company, tax_amount_company]) — plus the sentinel
    * row gid −1 whose base columns are the corpus' untaxed subtotal on
    * each leg. The footer's explode and per-record level summed per
    * group, kept as a DataFrame for consumers aggregating further
    * (registers, company-level bookings).
    *
    * `rate` = Some(col) builds the company-currency leg by dividing
    * through the document→company rate (:330-340, :415-417; pass
    * Some(lit(1.0)) for company-currency documents); None SKIPS the
    * company columns entirely — consumers reading only the document leg
    * (registers) never pay the conversion arithmetic or the extra
    * aggregate buffers. `groupingKey` / `filterTaxValues` as on
    * [[explodedTaxLines]]: None groups by tax GROUP like the footer;
    * [[byTax]] is the reference's default by-TAX generator; the filter
    * drops tax lines from the aggregation post-compute (:422).
    *
    * `record` must identify the LINE (the reference's
    * base_line['record']), not a parent document: the once-per-record
    * base rule resolves ties by tax order WITHIN one record, so a
    * record spanning several lines would collapse their bases
    * nondeterministically (the reference itself overwrites the
    * record-level base per base_line, :428-434 — same contract). */
  def aggregateTaxes(lines: DataFrame, record: Column, priceUnit: Column,
                     quantity: Column, discount: Column, chainKey: Column,
                     chains: Seq[(Int, Seq[TaxDef])],
                     taxToGroup: Map[Long, GroupDef],
                     dp: Int = 2, params: Params = Params(),
                     earlyPayDiscount: Option[(String, Double)] = None,
                     rate: Option[Column] = None,
                     groupingKey: Option[TaxDef => Long] = None,
                     filterTaxValues: Option[(Int, TaxDef) => Boolean] = None): DataFrame = {
    val sums = Seq("base_amount", "tax_amount") ++
      (if (rate.isEmpty) Nil else Seq("base_amount_company", "tax_amount_company"))
    taxDetailsPerRecord(lines, record, priceUnit, quantity, discount, chainKey,
        chains, taxToGroup, dp, params, earlyPayDiscount, rate, groupingKey,
        filterTaxValues)
      .groupBy(col("gid"))
      .agg(sum(sums.head).as(sums.head), sums.tail.map(c => sum(c).as(c)): _*)
  }

  /** The reference's `tax_details_per_record` arm (:372-384) as a
    * distributed frame: one row per (record, grouping key) with base
    * counted once per record and tax amounts summed; the gid −1 row per
    * record carries its price_subtotal (the record-level base,
    * :412-417). Same single scan and explode as the footer — this is
    * the footer's FIRST groupBy level, exposed instead of discarded.
    *
    * `record` MUST be line-unique (one physical line per record id):
    * the sentinel rows all share ord −1, so an invoice-keyed record
    * over multi-line invoices would surface an ARBITRARY single line's
    * price_subtotal as the record base — silently lossy. Pre-aggregate
    * to one row per record (or keep the line id) before calling;
    * [[aggregateTaxes]] documents the same contract. `rate`,
    * `groupingKey`, `filterTaxValues` as on [[aggregateTaxes]] —
    * rate = None skips the company leg.
    *
    * SUPERSET vs the reference for records with NO surviving tax: the
    * sentinel gid −1 row is emitted for EVERY record (untaxed lines,
    * empty chains, and records whose taxes were all dropped by
    * `filterTaxValues`), whereas the reference's defaultdict
    * materializes a `tax_details_per_record` entry only inside the
    * per-tax loop (:428-434) — a record none of whose taxes survive is
    * simply ABSENT there. The global/footer level is unaffected (the
    * reference accumulates the record base BEFORE the filter loop,
    * :415-417, and so does the sentinel here); consumers wanting the
    * reference's absent-record shape filter the frame to records that
    * also carry a gid ≥ 0 row. */
  def taxDetailsPerRecord(lines: DataFrame, record: Column, priceUnit: Column,
                          quantity: Column, discount: Column, chainKey: Column,
                          chains: Seq[(Int, Seq[TaxDef])],
                          taxToGroup: Map[Long, GroupDef],
                          dp: Int = 2, params: Params = Params(),
                          earlyPayDiscount: Option[(String, Double)] = None,
                          rate: Option[Column] = None,
                          groupingKey: Option[TaxDef => Long] = None,
                          filterTaxValues: Option[(Int, TaxDef) => Boolean] = None): DataFrame =
    perRecordDetails(explodedTaxLines(lines, record, priceUnit, quantity,
      discount, chainKey, chains, taxToGroup, dp, params, earlyPayDiscount,
      companyLeg = rate, groupingKey = groupingKey,
      filterTaxValues = filterTaxValues), hasCompanyLeg = rate.nonEmpty)

  /** The cash-rounding footer arm of `_compute_tax_totals`
    * (etl_account/models/account_move.py:667-673): a move carrying a
    * 'rounding' line shows `amount_total_rounded = amount_total −
    * balance`, with the balance sign FLIPPED for out_refund / in_invoice
    * moves (:670-671); the sales/purchase wizards consume the same line
    * as `round_off = −1 · balance` (wizard/sales_report.py:169-171).
    * Returned raw — the reference rounds only in formatLang (display,
    * out of scope per SURVEY §2.1). The rounding LINE's own construction
    * (:676-770) is ORM line-write orchestration around core Odoo's
    * `account.cash.rounding.compute_difference` — the rounding-unit
    * policy is NOT part of the reference snapshot, so only its
    * observable footer arithmetic has a twin here. */
  def amountTotalRounded(amountTotal: Column, roundingBalance: Column,
                         moveType: Column): Column =
    amountTotal - when(moveType.isin("out_refund", "in_invoice"),
      -roundingBalance).otherwise(roundingBalance)

  /** A [[footer]]: the lazy laid-out `plan`, one row per footer line —
    * (slice, sec, name, gid, base_amount, tax_amount, amount,
    * display_tax_base) with sec 1 = a group (gid = its id), 2 = a
    * subtotal (gid = its first group), 3 = the invoice totals (gid −1,
    * the only line carrying display_tax_base) — and what reading it back
    * into [[Totals]] needs. */
  final case class Footer(plan: DataFrame, groups: Map[Long, GroupDef],
                          manualSlices: Set[Long]) {

    /** The plan collected once and decoded per slice; a slice with no
      * records is absent and reads as [[Totals.zero]] (a constant slice
      * is never absent: on an empty corpus its plan already holds that
      * zero footer). A null slice value (its rows would otherwise merge
      * into slice 0) and a manual override keyed to a slice with no
      * records (the override would be dropped silently) reject. The
      * reject is deliberately strict even though an empty slice's
      * override would be an arithmetic NO-OP (a manual amount only
      * REPLACES a group row the aggregation produced, :469-475): a
      * mistyped key and a legitimately-empty slice are indistinguishable
      * from the data, and silent typo-shaped number loss is the worse
      * failure for financial output. Both rejects are this reader's: a
      * caller reading `plan` directly passes a slice that cannot be null
      * and no overrides. */
    def collectTotals(): Map[Long, Totals] = {
      val rows = plan.collect() // bounded by slices × (groups + titles + 1)
      require(rows.forall(!_.isNullAt(0)),
        "null slice key: every line must carry a non-null slice value")
      val bySlice = rows.groupBy(_.getAs[Long]("slice"))
      val unusedManual = manualSlices -- bySlice.keySet
      require(unusedManual.isEmpty,
        s"manualBySlice keys ${unusedManual.toSeq.sorted.mkString(", ")} " +
          "match no slice in the corpus — manual tax-line overrides would " +
          "be dropped silently (empty slices are ABSENT from the footer)")
      def group(r: Row): GroupDef = groups(r.getAs[Long]("gid"))
      def lines(rs: Array[Row], sec: Long): Seq[Row] =
        rs.filter(_.getAs[Long]("sec") == sec).toSeq
          .sortBy(r => (group(r).sequence, group(r).id))
      bySlice.map { case (s, rs) =>
        val subtotals = lines(rs, 2).map(r =>
          Subtotal(r.getAs[String]("name"), r.getAs[Double]("amount")))
        val t = rs.find(_.getAs[Long]("sec") == 3).get
        s -> Totals(t.getAs[Double]("base_amount"), t.getAs[Double]("tax_amount"),
          t.getAs[Double]("amount"),
          lines(rs, 1).map(r => GroupTotal(group(r),
            r.getAs[Double]("base_amount"), r.getAs[Double]("tax_amount"))),
          subtotals, subtotals.map(_.name), t.getAs[Boolean]("display_tax_base"))
      }.withDefaultValue(Totals.zero)
    }
  }

  /** The invoice footer — `_prepare_tax_totals` (:441-530) — of every
    * slice of a line corpus, as ONE lazy plan: scan → explode → (slice,
    * record, group) → (slice), then the layout as columns and one explode
    * into footer lines. The whole-corpus footer is one constant slice
    * (`lit(0L)`), aggregated with no key so that an empty corpus still
    * lays out its all-zero totals line; several slices are the wizard
    * shape (each register iterates invoices/moves and reads
    * `_compute_tax_totals` per batch: move type, journal, company…),
    * still one plan instead of one job per batch.
    *
    * `record` identifies the line (the reference's base_line['record']);
    * `chainKey` selects each line's chain among `chains` (a key matching
    * no chain is the taxes-empty branch, :342-349); `discount` is the
    * line discount percent (:273). `taxToGroup` maps every chain tax id
    * to its group; `dp` is the partner's invoice_decimal (:265-272,
    * default 2); `params` forwards to [[TaxCompute.compile]];
    * `earlyPayDiscount` = Some(("included"|"excluded"), pct).
    * `manualBySlice` carries each slice's manual tax-line overrides,
    * (group id, tax amount) pairs from manually edited tax lines
    * (:469-475); [[Footer.collectTotals]] rejects a key naming no slice
    * present in the corpus. `footerDp` overrides the FOOTER's decimal
    * count when it differs from the line dp — the reference's no-partner
    * path takes dp from `currency.decimal_places` (:446-449, domain
    * {0,2,3} via dp_dic) while each line computes at the default 2.
    *
    * The group dimension and the manual overrides enter as literals, so
    * the layout's expressions grow with the number of groups: it suits
    * the bounded tax-group dimension it is written for. It lays out as
    * columns rather than as windows over (slice, group) rows because the
    * windows and their sorts compiled 47 classes for q174 against 20 for
    * this plan, enough to overflow Spark's 100-entry generated-class
    * cache on a report workload and recompile every pass. The slice
    * column must be integral: the key is widened to long, and a
    * string/double/date slice would land rows under the wrong batch
    * silently. */
  def footer(lines: DataFrame, slice: Column, record: Column,
             priceUnit: Column, quantity: Column, discount: Column,
             chainKey: Column, chains: Seq[(Int, Seq[TaxDef])],
             taxToGroup: Map[Long, GroupDef],
             dp: Int = 2, params: Params = Params(),
             earlyPayDiscount: Option[(String, Double)] = None,
             manualBySlice: Map[Long, Seq[(Long, Double)]] = Map(),
             footerDp: Option[Int] = None): Footer = {
    val sliceExpr = lines.select(slice).queryExecution.analyzed.expressions.head match {
      case a: Alias => a.child
      case e => e
    }
    val sliceType = sliceExpr.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(sliceType),
      s"slice column must be an integral type (byte/short/int/long), " +
        s"got $sliceType — cast explicitly only if the conversion is " +
        "genuinely lossless for every row")
    val fdp = footerDp.getOrElse(dp)
    def fRound(c: Column): Column = footerRound(c, fdp)
    // the group dimension is static, so the second level is ONE row per
    // slice with a (base, tax) sum per group, null where the slice has no
    // line of that group; the slice rides INSIDE the record struct through
    // the explode (every line belongs to one batch); the footer reads the
    // DOCUMENT leg only (:463-467), so the explode never builds the
    // company fields
    val groups = taxToGroup.values.toSeq.distinctBy(_.id).sortBy(g => (g.sequence, g.id))
    def sumOf(gid: Long, c: String): Column = sum(when(col("gid") === gid, col(c)))
    val perRecord = perRecordDetails(explodedTaxLines(lines,
        struct(slice.cast("long").as("s"), record.as("r")), priceUnit,
        quantity, discount, chainKey, chains, taxToGroup, dp, params,
        earlyPayDiscount, companyLeg = None), hasCompanyLeg = false)
    val sums = sumOf(-1, "base_amount").as("untaxed") +: groups.indices.flatMap(i =>
      Seq(sumOf(groups(i).id, "base_amount").as(s"b$i"),
        sumOf(groups(i).id, "tax_amount").as(s"t$i")))
    // a constant slice is the whole corpus: it aggregates with no key, so
    // an empty input still gets its (zero) footer, like an invoice with no
    // lines; any other slice shows only the slices that have records
    val perSlice =
      if (sliceExpr.foldable)
        perRecord.agg(sums.head, sums.tail: _*)
          .select(slice.cast("long").as("slice"), col("*"))
      else perRecord.groupBy(col("rec.s").as("slice")).agg(sums.head, sums.tail: _*)

    // per group, in (sequence, id) order (:479): present in the slice, the
    // dp-rounded base and tax (:466-467), manual lines replacing the tax
    // (:469-475) of a group the slice has lines of, never adding one it
    // has none of (null, like the base, when the group is absent)
    val present = groups.indices.map(i => col(s"b$i").isNotNull)
    val baseR = groups.indices.map(i => fRound(col(s"b$i")))
    val taxR = groups.indices.map { i =>
      when(present(i), fRound(manualBySlice.toSeq.flatMap { case (s, ms) =>
        val m = ms.filter(_._1 == groups(i).id)
        if (m.isEmpty) None else Some(s -> m.map(_._2).sum)
      }.foldLeft(col(s"t$i")) { case (other, (s, v)) =>
        when(col("slice") === s, v).otherwise(other)
      }))
    }
    // subtotal partition (:481-513): a title ranks by its first present
    // group and shows untaxed + the tax of the titles before it; each sum
    // adds in the reference's order (an absent group adds 0.0, which no
    // rounded output can tell apart)
    val titleOf = groups.map(_.precedingSubtotal.getOrElse("Untaxed Amount"))
    val opens = groups.indices.map(i => (0 until i).filter(titleOf(_) == titleOf(i))
      .foldLeft(present(i))((c, j) => c && !present(j)))
    def titleTax(t: String): Column = groups.indices.filter(titleOf(_) == t)
      .foldLeft(lit(0.0))((acc, i) => acc + coalesce(taxR(i), lit(0.0)))
    val before = groups.indices.scanLeft(lit(0.0)) { (acc, i) =>
      acc + when(opens(i), titleTax(titleOf(i))).otherwise(0.0)
    }
    // :515-517 — amount_tax and amount_total take ONLY the float_round
    // step, so at dp 0 they stay on the CENT grid; :519-524 — one group
    // whose base differs from untaxed on the CURRENCY's grid
    // (compare_amounts, params.precision), or more than one group
    val taxGrid = if (fdp == 0) 2 else fdp
    val untaxed = fRound(coalesce(col("untaxed"), lit(0.0)))
    val amountTax = round(before.last, taxGrid)
    val nGroups = present.foldLeft(lit(0))((n, p) => n + when(p, 1).otherwise(0))
    def onGrid(c: Column): Column = floor(c * math.pow(10.0, params.precision) + 0.5)
    val display = nGroups > 1 || (nGroups === 1 &&
      onGrid(coalesce(baseR :+ lit(null).cast("double"): _*)) =!= onGrid(untaxed))

    val none = lit(null).cast("double")
    def line(sec: Long, name: String, gid: Long, base: Column, tax: Column,
             amount: Column, display: Column = lit(null).cast("boolean")): Column =
      struct(lit(sec).as("sec"), lit(name).as("name"), lit(gid).as("gid"),
        base.as("base_amount"), tax.as("tax_amount"), amount.as("amount"),
        display.as("display_tax_base"))
    val footerLines = groups.indices.flatMap { i =>
      Seq(when(present(i), line(1, groups(i).name, groups(i).id, baseR(i), taxR(i), none)),
        when(opens(i), line(2, titleOf(i), groups(i).id, none, none,
          fRound(col("untaxed") + before(i)))))
    } :+ line(3, "(totals)", -1, untaxed, amountTax,
      round(untaxed + amountTax, taxGrid), display)
    val plan = perSlice.select(col("slice"), explode(array(footerLines: _*)).as("l"))
      .filter(col("l").isNotNull)
      .select(col("slice"), col("l.*"))
    Footer(plan, groups.map(g => g.id -> g).toMap, manualBySlice.keySet)
  }
}
