package graft.engine

import java.time.{Instant, LocalDate, ZoneId}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The report evaluation lifecycle (SURVEY §3.1,
  * account_reports/models/account_report.py `get_report_informations` →
  * `_get_options` → `_compute_expression_totals_for_each_column_group`):
  * a declarative spec of expressions (one per report cell template) is
  * batched by engine, evaluated once per column group (comparison period),
  * and the `aggregation` engine resolves last as a driver-side fixpoint
  * over the collected totals.
  *
  * Spark-first orchestration choices (SURVEY §4.1 "formula batching"):
  * - ALL domain and account_codes expressions × ALL column groups come
  *   out of ONE aggregate: each (group, date scope) pair is a window row
  *   held as data, each journal row is repeated for the windows it falls
  *   in, and one `groupBy(window, code)` sums the measure and one column
  *   per distinct (domain, mode). Period bounds are data, not code, so a
  *   new period set or group count compiles nothing new (the reference
  *   issues one SQL query per engine batch per group).
  * - the small per-(window, code) result is collected once; domain totals
  *   sum its codes and account_codes formulas prefix-match and gate its
  *   per-code balances driver-side, like the reference's post-processing.
  * - external values aggregate per group from the external-values table.
  * - aggregation formulas never touch row data: [[AggregationEvaluator]]
  *   fixpoint over the other engines' totals.
  *
  * At 100 TB: one fact scan per report regardless of expression or period
  * count; each fact row is repeated once per window it falls in before
  * the partial aggregation; driver state is one row per (window, code). */
object ReportRunner {

  sealed trait Engine
  /** Sum `measure` over rows matching the domain (P1) within the scope.
    * `mode` is the reference's domain-engine subformula
    * (account_report.py:2604-2710): "sum" (default), "sum_if_pos" /
    * "sum_if_neg" (keep the sum only when the UN-negated total's sign
    * matches, at currency precision, with >= 0 counting as positive —
    * :2692 "0 is considered positive"), or "count_rows" (row count).
    * `negate` is the '-' subformula prefix, applied AFTER the sign
    * gate. */
  final case class DomainSum(domain: Seq[Any], negate: Boolean = false,
                             mode: String = "sum") extends Engine
  /** account_codes DSL over per-code balances (§2.5). */
  final case class CodesFormula(formula: String) extends Engine
  /** external-values engine, `sum` or `most_recent` mode (§2.5). */
  final case class External(exprId: String, mostRecent: Boolean = false) extends Engine
  /** arithmetic over other expressions' codes, fixpoint-resolved (§2.5).
    * `crossScope` marks a cross_report formula (account_report.py:
    * 2279-2419): its terms resolve against `Ctx.crossExprs` — ANOTHER
    * report's expressions — re-evaluated under this forced date scope
    * (the reference's forced_date_scope), shadowing same-named local
    * codes. */
  final case class Aggregation(formula: String,
                               bounds: Seq[AggregationEvaluator.Bound] = Nil,
                               crossScope: Option[DateScope.Scope] = None) extends Engine

  final case class Expr(code: String, engine: Engine,
                        scope: DateScope.Scope = DateScope.StrictRange)
  /** `forced` is the column group's forced_domain (reference
    * `_get_column_group_options`, account_report.py:2162-2169): the
    * horizontal-group membership predicates from [[ReportSpec]], AND-ed
    * into every fact predicate of this group. */
  final case class ColumnGroup(key: String, from: LocalDate, to: LocalDate,
                               forced: Seq[Any] = Nil)

  /** `crossExprs`: the OTHER report's expression set for cross_report
    * aggregations — its domain and account_codes leaves ride the one
    * aggregate under each forced scope, and the other report's own aggregation
    * formulas resolve over those leaves per forced scope (the reference
    * expands the referenced expressions with `_expand_aggregations`, so a
    * cross term may name any engine's expression,
    * test_report_engines.py:865-960). */
  final case class Ctx(journal: DataFrame, dateCol: Column, codeCol: Column,
                       measure: Column, external: Option[DataFrame] = None,
                       fc: DateScope.FiscalConfig = DateScope.FiscalConfig(),
                       crossExprs: Seq[Expr] = Nil)

  /** Evaluate every expression under every column group.
    * Returns group key -> expression code -> value. */
  def run(ctx: Ctx, exprs: Seq[Expr], groups: Seq[ColumnGroup]): Map[String, Map[String, Double]] = {
    val domainExprs = exprs.collect { case e @ Expr(_, _: DomainSum, _) => e }
    val codesExprs = exprs.collect { case e @ Expr(_, _: CodesFormula, _) => e }
    val extExprs = exprs.collect { case e @ Expr(_, _: External, _) => e }
    val aggExprs = exprs.collect { case e @ Expr(_, _: Aggregation, _) => e }

    // ---- one aggregate: every domain and codes leaf, every group -------
    // Each (column group, date scope) pair is one window row held as data.
    // Cross-report leaves ride the same rows: for each forced scope a
    // cross_report aggregation uses, the other report's domain and codes
    // expressions read that scope's windows (reference:
    // other_cross_report_expr_totals_by_scope).
    val crossScopes: Seq[DateScope.Scope] = aggExprs
      .map(_.engine.asInstanceOf[Aggregation]).flatMap(_.crossScope).distinct
    val crossDomainExprs = ctx.crossExprs.collect { case e @ Expr(_, _: DomainSum, _) => e }
    val crossCodesExprs = ctx.crossExprs.collect { case e @ Expr(_, _: CodesFormula, _) => e }
    val crossAggExprs = ctx.crossExprs.collect { case e @ Expr(_, _: Aggregation, _) => e }
    val crossLeafScopes =
      if (crossDomainExprs.isEmpty && crossCodesExprs.isEmpty) Nil else crossScopes
    val scopes = ((domainExprs ++ codesExprs).map(_.scope) ++ crossLeafScopes).distinct
    val sumKeys = (domainExprs ++ crossDomainExprs).map(sumKey).distinct
    val windows = Windows.aggregate(ctx, groups, scopes, sumKeys)

    // currency-precision sign compare (reference compare_amounts; the
    // sum_if_pos/neg gates round to the currency's 2 decimals first)
    def cmp0(v: Double): Int =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).signum

    // the sign gate reads the UN-negated total, then '-' applies
    // (reference strips the '-' prefix before classifying the policy,
    // account_report.py:2683-2688)
    def domainTotal(gi: Int, e: Expr, scope: DateScope.Scope): Double = {
      val ds = e.engine.asInstanceOf[DomainSum]
      val raw = windows.sum(gi, scopes.indexOf(scope), sumKeys.indexOf(sumKey(e)))
      val gated = ds.mode match {
        case "sum_if_pos" => if (cmp0(raw) >= 0) raw else 0.0
        case "sum_if_neg" => if (cmp0(raw) < 0) raw else 0.0
        case _ => raw
      }
      if (ds.negate) -gated else gated
    }
    def codesTotal(gi: Int, e: Expr, scope: DateScope.Scope): Double =
      evalCodes(e.engine.asInstanceOf[CodesFormula].formula,
        windows.balances(gi, scopes.indexOf(scope)))

    val leafTotals: Map[(String, String), Double] =
      (for ((g, gi) <- groups.zipWithIndex; e <- domainExprs ++ codesExprs) yield
        (g.key, e.code) -> (e.engine match {
          case _: DomainSum => domainTotal(gi, e, e.scope)
          case _ => codesTotal(gi, e, e.scope)
        })).toMap

    // (group key, forced scope) -> other-report code -> value: domain +
    // codes leaves, then the other report's own aggregation formulas
    // resolved over them under that scope
    val crossTotals: Map[(String, DateScope.Scope), Map[String, Double]] =
      (for ((g, gi) <- groups.zipWithIndex; sc <- crossScopes) yield {
        val leaves =
          crossDomainExprs.map(e => e.code -> domainTotal(gi, e, sc)).toMap ++
            crossCodesExprs.map(e => e.code -> codesTotal(gi, e, sc))
        val aggs = crossAggExprs.map { e =>
          val a = e.engine.asInstanceOf[Aggregation]
          e.code -> AggregationEvaluator.Expr(a.formula, a.bounds)
        }.toMap
        (g.key, sc) -> (leaves ++ AggregationEvaluator.evaluate(aggs, leaves))
      }).toMap

    // ---- external values: every (external expr × group) in ONE scan ---
    // The value table first collapses to one row per (expression, date):
    // the reference's most_recent is the SUM of all values at the latest
    // date in the window (account_report.py:2907-2912 `GROUP BY date ORDER
    // BY date DESC LIMIT 1` around SUM(value)) — a tax unit writes several
    // same-dated carryover values per company and they must net. Sum mode
    // is unchanged by the pre-aggregation. Each expression's date window
    // honors its date scope (account_report.py:2883 feeds the expression's
    // date_scope through `_get_date_bounds_info` — e.g. the
    // `_applied_carryover_balance` expressions read `previous_tax_period`).
    // Everything is still aggregation buffers of ONE job over the (tiny)
    // external-values table.
    val extTotals: Map[(String, String), Double] =
      if (extExprs.isEmpty) Map.empty
      else {
        val ext = ctx.external.getOrElse(
          throw new IllegalStateException("external exprs need ctx.external"))
        val extByDate = ext.groupBy(col("expression_id"), col("date"))
          .agg(sum(col("value")).as("value"))
        val cols = for (g <- groups; e <- extExprs) yield {
          val eng = e.engine.asInstanceOf[External]
          val (fOpt, t) = DateScope.bounds(e.scope, g.from, g.to, ctx.fc)
          val inRange = col("date") <= lit(t.toString) &&
            fOpt.map(f => col("date") >= lit(f.toString)).getOrElse(lit(true)) &&
            col("expression_id") === lit(eng.exprId)
          val agg =
            if (eng.mostRecent) max_by(when(inRange, col("value")), when(inRange, col("date")))
            else sum(when(inRange, col("value")))
          coalesce(agg, lit(0.0)).as(s"${g.key}||${e.code}")
        }
        val row = extByDate.agg(cols.head, cols.tail: _*).head()
        (for ((g, i) <- groups.zipWithIndex; (e, j) <- extExprs.zipWithIndex)
          yield (g.key, e.code) -> row.getDouble(i * extExprs.size + j)).toMap
      }

    // ---- aggregation fixpoint per group (resolved LAST) ---------------
    groups.map { g =>
      val leaves = (leafTotals ++ extTotals).collect {
        case ((gk, code), v) if gk == g.key => code -> v
      }
      val aggs = aggExprs.map { e =>
        val a = e.engine.asInstanceOf[Aggregation]
        val crossLeaves = a.crossScope
          .map(sc => crossTotals((g.key, sc))).getOrElse(Map.empty)
        e.code -> AggregationEvaluator.Expr(a.formula, a.bounds, crossLeaves)
      }.toMap
      val resolved = AggregationEvaluator.evaluate(aggs, leaves)
      g.key -> (leaves ++ resolved)
    }.toMap
  }

  /** A domain sum's aggregate: its domain, and whether it counts rows. */
  private def sumKey(e: Expr): (Seq[Any], Boolean) = {
    val ds = e.engine.asInstanceOf[DomainSum]
    (ds.domain, ds.mode == "count_rows")
  }

  /** One (column group, date scope) window as data: the scope's exact
    * [[DateScope.Span]] in session-time-zone instants (the timestamps a
    * `yyyy-MM-dd` literal casts to) and the index of the group's forced
    * domain. */
  private final case class Window(gi: Int, si: Int, fi: Int, lo: Option[Instant],
                                  hi: Instant, hiInclusive: Boolean)

  /** The one aggregate behind every domain and codes leaf: per window and
    * account code, the plain balance and one sum per domain key. */
  private final class Windows(rows: Map[(Int, Int), Array[Row]]) {
    private def of(gi: Int, si: Int) = rows.getOrElse((gi, si), Array.empty[Row])
    private def num(r: Row, i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    /** Domain key `k`'s total over every code of one window. */
    def sum(gi: Int, si: Int, k: Int): Double = of(gi, si).map(num(_, 4 + k)).sum
    /** The per-code balances of one window; a null code matches no prefix. */
    def balances(gi: Int, si: Int): Seq[(String, Double)] =
      of(gi, si).toSeq.collect { case r if !r.isNullAt(2) => r.getString(2) -> num(r, 3) }
  }

  private object Windows {
    /** The windows pass through the plan as ONE array-of-struct literal,
      * which generated code reads from its references, so a new period set
      * or group count reuses the compiled classes. Each journal row meets
      * every window (`explode`) and a filter keeps the windows it falls
      * in; both stay in whole-stage codegen, where a `filter` lambda over
      * the array would be interpreted per row and window (2.7x slower at
      * 12 groups on sf0.1). One `groupBy(window, code)` then sums the
      * measure and every (domain, mode), and ONE `collect` brings the
      * chart-of-accounts-sized result to the driver. */
    def aggregate(ctx: Ctx, groups: Seq[ColumnGroup], scopes: Seq[DateScope.Scope],
                  sumKeys: Seq[(Seq[Any], Boolean)]): Windows =
      if (scopes.isEmpty) new Windows(Map.empty)
      else {
        val zone = ZoneId.of(ctx.journal.sparkSession.conf.get("spark.sql.session.timeZone"))
        def at(d: LocalDate) = d.atStartOfDay.atZone(zone).toInstant
        val forced = groups.map(_.forced).distinct
        val windows = for ((g, gi) <- groups.zipWithIndex; (sc, si) <- scopes.zipWithIndex) yield {
          val s = DateScope.span(sc, g.from, g.to, ctx.fc)
          Window(gi, si, forced.indexOf(g.forced), s.lo.map(at), at(s.hi), s.hiInclusive)
        }
        val domains = sumKeys.map(_._1).distinct
        // the date compares as a timestamp, as against a timestamp literal
        val facts = ctx.journal.select(
          Seq(ctx.dateCol.cast("timestamp").as("d"), ctx.codeCol.cast("string").as("code"),
            ctx.measure.cast("double").as("m"), array(forced.map(Domain.compile): _*).as("forced")) ++
            domains.zipWithIndex.map { case (dom, i) => Domain.compile(dom).as(s"f$i") }: _*)
        val (d, w) = (col("d"), col("w"))
        val sums = sumKeys.map { case (dom, countRows) =>
          sum(when(col(s"f${domains.indexOf(dom)}"), if (countRows) lit(1.0) else col("m")))
        }
        val rows = facts.select(explode(typedLit(windows)).as("w"), col("*"))
          .filter((w("lo").isNull || d >= w("lo")) &&
            when(w("hiInclusive"), d <= w("hi")).otherwise(d < w("hi")) &&
            col("forced")(w("fi")))
          .groupBy(col("w.gi"), col("w.si"), col("code"))
          .agg(sum(col("m")), sums: _*)
          .collect() // bounded by windows × chart of accounts, not the fact table
        new Windows(rows.groupBy(r => (r.getInt(0), r.getInt(1))))
      }
  }

  /** Driver-side account_codes evaluation over collected (code, balance)
    * pairs — prefix match, exclusions, D/C gate, term sign (mirrors
    * [[AccountCodes.evaluate]] for the orchestrated path). */
  private def evalCodes(formula: String, balances: Seq[(String, Double)]): Double =
    AccountCodes.parse(formula).map { t =>
      balances.collect {
        case (code, bal)
          if code.startsWith(t.prefix) &&
            !t.excluded.exists(code.startsWith) &&
            (t.balanceChar match {
              case Some('D') => bal >= 0
              case Some('C') => bal < 0
              case _ => true
            }) => bal * t.sign
      }.sum
    }.sum

  /** Render totals as a [[graft.report.LineTree.Line]] matrix (one value
    * per column group, in `groups` order) for tree post-processing. */
  def toLines(totals: Map[String, Map[String, Double]], exprs: Seq[Expr],
              groups: Seq[ColumnGroup]): Seq[graft.report.LineTree.Line] =
    exprs.map { e =>
      graft.report.LineTree.Line(e.code, None, e.code,
        groups.map(g => totals(g.key).getOrElse(e.code, 0.0)))
    }
}
