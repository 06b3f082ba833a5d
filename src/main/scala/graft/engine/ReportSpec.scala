package graft.engine

import java.time.LocalDate

/** The typed options/spec layer (SURVEY §1.2): the reference builds every
  * report evaluation from an options dict assembled by an ordered
  * initializer chain (account_report.py:1389-1456
  * `_get_options_initializers_in_sequence`: multi-company → date →
  * horizontal groups → comparison → ... → column headers → columns), then
  * compiles the options into a composed move-line domain
  * (`_get_options_domain`, :1460-1480: journals ∧ date ∧ partners ∧
  * posted-state ∧ unreconciled ∧ fiscal position ∧ account types) and a
  * CARTESIAN of comparison periods × horizontal-group members, each column
  * group carrying `forced_options` (its date override) and `forced_domain`
  * (its group membership) (:1193-1290 `_init_options_column_headers` /
  * `_init_options_columns`, :2162-2169 `_get_column_group_options`).
  *
  * Spark-first: the composed base domain compiles through [[Domain]] into
  * ONE pushed-down predicate on the fact scan shared by all groups, and the
  * per-group (period × member) windows become rows of [[ReportRunner]]'s
  * one aggregate — so 2 comparisons × 2 horizontal groups × N expressions
  * still cost exactly one fact scan, not 4× anything.
  */
object ReportSpec {

  /** A date column group (reference `_get_dates_period`). */
  final case class Period(key: String, from: LocalDate, to: LocalDate)

  /** One horizontal-group LEVEL (reference horizontal group field): the
    * cartesian multiplies every level's members. `members` are
    * (label, value) over `field` in the pre-joined fact frame. */
  final case class HorizontalGroup(field: String, members: Seq[(String, Any)])

  /** Field-name mapping from the reference's account.move.line columns to
    * the caller's fact columns. */
  final case class FieldMap(journal: String = "journal_id",
                            partner: String = "partner_id",
                            partnerCategory: String = "partner_category",
                            state: String = "parent_state",
                            reconciled: String = "reconciled",
                            accountType: String = "account_type",
                            nonTrade: String = "non_trade",
                            postedValue: Any = "posted",
                            cancelValue: Any = "cancel")

  /** The typed options tree — one field per reference initializer. */
  final case class Options(date: Period,
                           comparisons: Seq[Period] = Nil,
                           journals: Seq[Any] = Nil,
                           partners: Seq[Any] = Nil,
                           partnerCategories: Seq[Any] = Nil,
                           allEntries: Boolean = false,
                           unreconciled: Boolean = false,
                           accountTypes: Seq[String] = Nil,
                           horizontalGroups: Seq[HorizontalGroup] = Nil,
                           search: Option[(String, String)] = None,
                           extraDomain: Seq[Any] = Nil)

  /** The reference's four account-type filter ids
    * (`_get_options_account_type_domain`, :793-811). */
  private val AccountTypeDomains: Map[String, FieldMap => Seq[Any]] = Map(
    "trade_receivable" -> (f => Seq("&", (f.nonTrade, "=", false), (f.accountType, "=", "asset_receivable"))),
    "trade_payable" -> (f => Seq("&", (f.nonTrade, "=", false), (f.accountType, "=", "liability_payable"))),
    "non_trade_receivable" -> (f => Seq("&", (f.nonTrade, "=", true), (f.accountType, "=", "asset_receivable"))),
    "non_trade_payable" -> (f => Seq("&", (f.nonTrade, "=", true), (f.accountType, "=", "liability_payable"))))

  /** The initializer chain's composed base domain, in the reference's
    * order (`_get_options_domain`): journals, partners + categories,
    * posted-state, unreconciled, account types (OR-ed), search, extra.
    * Date is NOT here — it is per column group (the scope predicate). */
  def baseDomain(o: Options, f: FieldMap = FieldMap()): Seq[Any] = {
    val parts = Seq.newBuilder[Any]
    if (o.journals.nonEmpty) parts += ((f.journal, "in", o.journals))
    if (o.partners.nonEmpty) parts += ((f.partner, "in", o.partners))
    if (o.partnerCategories.nonEmpty)
      parts += ((f.partnerCategory, "in", o.partnerCategories))
    parts += (if (o.allEntries) (f.state, "!=", f.cancelValue)
              else (f.state, "=", f.postedValue))
    if (o.unreconciled) parts += ((f.reconciled, "=", false))
    if (o.accountTypes.nonEmpty) {
      val doms = o.accountTypes.map(t => AccountTypeDomains(t)(f))
      parts ++= (Seq.fill(doms.size - 1)("|") ++ doms.flatten)
    }
    o.search.foreach { case (field, needle) => parts += ((field, "ilike", needle)) }
    parts ++= o.extraDomain
    parts.result()
  }

  /** The column-group cartesian (reference
    * `_generate_columns_group_vals_recursively`): (date ++ comparisons) ×
    * every horizontal level's members. Group key = period key + member
    * labels joined with '|'; forced domain = one equality per level
    * (reference `_generate_domain_from_horizontal_group_hash_key_tuple`). */
  def columnGroups(o: Options): Seq[ReportRunner.ColumnGroup] = {
    val periods = o.date +: o.comparisons
    val combos = o.horizontalGroups.foldLeft(Seq(Seq.empty[(String, Any)])) {
      (acc, hg) => for (c <- acc; (label, v) <- hg.members)
        yield c :+ ((label, (hg.field, "=", v): Any))
    }
    for (p <- periods; combo <- combos) yield
      ReportRunner.ColumnGroup(
        key = (p.key +: combo.map(_._1)).mkString("|"),
        from = p.from, to = p.to,
        forced = combo.map(_._2))
  }

  /** Compile options to (pre-filtered journal predicate, column groups) —
    * the two things [[ReportRunner.run]] needs. */
  def compile(o: Options, f: FieldMap = FieldMap()): (org.apache.spark.sql.Column, Seq[ReportRunner.ColumnGroup]) =
    (Domain.compile(baseDomain(o, f)), columnGroups(o))
}
