package graft.engine

import java.time.LocalDate
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's six expression date scopes
  * (account_reports/models/account_report.py:622-654): every measure can be
  * re-evaluated under a rewritten date window (initial balances, fiscal-year
  * openings, prior tax period). Fiscal-year boundaries are company-
  * configurable (:386-394) — here a (month, day) year-end.
  *
  * The scope resolves to a plain Column predicate on the date field, so it
  * composes with any domain filter and still pushes down to the scan.
  */
object DateScope {

  sealed trait Scope
  /** date BETWEEN from AND to. */
  case object StrictRange extends Scope
  /** (date <= to) AND (date >= from OR includeInitialFlag) — the `normal`
    * scope's disjunction (:633-637). */
  case object Normal extends Scope
  /** date <= to (all history up to the period end). */
  case object FromBeginning extends Scope
  /** date < from (everything strictly before the period). */
  case object ToBeginningOfPeriod extends Scope
  /** fiscal-year start of `to` <= date <= to. */
  case object FromFiscalyear extends Scope
  /** date < fiscal-year start of `to`. */
  case object ToBeginningOfFiscalyear extends Scope
  /** The tax period immediately before the one starting at `from`
    * (account_report.py:650-653: the period containing `from - 1 day`,
    * res_company.py:217-227 `_get_tax_closing_period_boundaries`), for a
    * company tax periodicity of `periodicityMonths` (res_company.py:229-240:
    * year=12, semester=6, trimester=3, monthly=1...). Carries the applied-
    * carryover external values of the previous VAT period. */
  final case class PreviousTaxPeriod(periodicityMonths: Int = 12) extends Scope

  final case class FiscalConfig(lastMonth: Int = 12, lastDay: Int = 31)

  /** Boundaries of the tax period containing `d` for a periodicity of
    * `months` (res_company.py:217-227): month-aligned windows of `months`
    * months counted from January. */
  def taxPeriodBoundaries(d: LocalDate, months: Int): (LocalDate, LocalDate) = {
    require(months >= 1 && 12 % months == 0, s"bad periodicity: $months")
    val periodNumber = d.getMonthValue / months +
      (if (d.getMonthValue % months != 0) 1 else 0)
    val end = LocalDate.of(d.getYear, periodNumber * months, 1)
      .plusMonths(1).minusDays(1)
    val start = end.withDayOfMonth(1).minusMonths(months - 1)
    (start, end)
  }

  /** Start of the fiscal year containing `d` (reference `compute_fiscalyear_dates`). */
  def fiscalYearStart(d: LocalDate, fc: FiscalConfig): LocalDate = {
    val endThisYear = LocalDate.of(d.getYear, fc.lastMonth, fc.lastDay)
    val end = if (d.isAfter(endThisYear)) endThisYear.plusYears(1) else endThisYear
    end.minusYears(1).plusDays(1)
  }

  /** A scope's exact date window: `lo <= date` when `lo` is set, and
    * `date <= hi`, or `date < hi` when `hiInclusive` is false (the two
    * "to beginning" scopes end strictly before their bound). */
  final case class Span(lo: Option[LocalDate], hi: LocalDate, hiInclusive: Boolean)

  /** The one statement of each scope's bounds (account_report.py:622-654);
    * [[predicate]], [[bounds]] and the report runner's period windows all
    * read it. */
  def span(scope: Scope, from: LocalDate, to: LocalDate,
           fc: FiscalConfig = FiscalConfig()): Span = scope match {
    case StrictRange | Normal => Span(Some(from), to, hiInclusive = true)
    case FromBeginning => Span(None, to, hiInclusive = true)
    case ToBeginningOfPeriod => Span(None, from, hiInclusive = false)
    case FromFiscalyear => Span(Some(fiscalYearStart(to, fc)), to, hiInclusive = true)
    case ToBeginningOfFiscalyear => Span(None, fiscalYearStart(to, fc), hiInclusive = false)
    case PreviousTaxPeriod(m) =>
      val (pf, pt) = taxPeriodBoundaries(from.minusDays(1), m)
      Span(Some(pf), pt, hiInclusive = true)
  }

  /** Compile a scope to a predicate over `dateCol`.
    * `includeInitial` is the `account_id.include_initial_balance` leg of the
    * `normal` scope — pass `lit(false)` when the dimension has no such flag. */
  def predicate(scope: Scope, dateCol: Column, from: LocalDate, to: LocalDate,
                fc: FiscalConfig = FiscalConfig(),
                includeInitial: Column = lit(false)): Column = {
    def d(x: LocalDate): Column = lit(x.toString).cast("timestamp")
    val s = span(scope, from, to, fc)
    val upper = if (s.hiInclusive) dateCol <= d(s.hi) else dateCol < d(s.hi)
    (scope, s.lo) match {
      case (Normal, Some(lo)) => upper && (dateCol >= d(lo) || includeInitial)
      case (_, Some(lo)) => dateCol >= d(lo) && upper
      case (_, None) => upper
    }
  }

  /** The scope as a closed [from?, to] date window (account_report.py:
    * 622-654 `_get_date_bounds_info`) — the form the external-values engine
    * consumes, filtering its value table by date bounds rather than a fact
    * predicate, so a strict end moves back one day. `Normal`'s
    * include-initial-balance leg is per-account and has no closed window;
    * for value tables it degrades to the strict range, as the reference's
    * bounds do. */
  def bounds(scope: Scope, from: LocalDate, to: LocalDate,
             fc: FiscalConfig = FiscalConfig()): (Option[LocalDate], LocalDate) = {
    val s = span(scope, from, to, fc)
    (s.lo, if (s.hiInclusive) s.hi else s.hi.minusDays(1))
  }
}
