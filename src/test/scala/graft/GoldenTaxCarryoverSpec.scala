package graft

import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{AggregationEvaluator, DateScope, ReportRunner => RR}

/** Golden values transcribed from the REFERENCE'S OWN tax-carryover tests
  * (account_reports/tests/test_tax_report_carryover.py) — VERDICT r12
  * item #2: carryover across two periods with sign conditions is the
  * highest-risk semantics in the external engine, and these specs pin it
  * to the reference's literal expected values rather than to our own SQL
  * restatement.
  *
  * The report line under test is the reference's exact expression set
  * (test_tax_report_carryover.py:29-66):
  *   tag                         domain sum over expense lines
  *   _applied_carryover_balance  external, most_recent, previous_tax_period
  *   balance_unbound             tag + _applied_carryover_balance
  *   _carryover_balance          balance_unbound, if_below(EUR(0))
  *   balance                     balance_unbound, if_above(EUR(0))
  * Companies close yearly (:20 account_tax_periodicity = 'year').
  *
  * The closing flow mirrors account_report.py:2971-3018
  * `_generate_carryover_external_values`: the carryover expressions are
  * evaluated once at unit level and once per member company; each
  * company's non-zero value is persisted (dated at the period end), and
  * the main company receives the unit-minus-sum difference as a
  * "Carryover adjustment for tax unit" value — the bound subformulas make
  * the unit value differ from the sum of the members'. */
class GoldenTaxCarryoverSpec extends AnyFunSuite with SparkSpec {

  private val Tag = "test_carryover.tag"
  private val Applied = "test_carryover._applied_carryover_balance"
  private val Unbound = "test_carryover.balance_unbound"
  private val Carry = "test_carryover._carryover_balance"
  private val Balance = "test_carryover.balance"

  /** The reference's expression set, engines and subformulas verbatim
    * (test_tax_report_carryover.py:34-65; subformula strings through the
    * real [[AggregationEvaluator.parseBound]]). */
  private def exprs = Seq(
    RR.Expr(Tag, RR.DomainSum(Seq(("account_type", "=", "expense")))),
    RR.Expr(Applied, RR.External(Applied, mostRecent = true),
      scope = DateScope.PreviousTaxPeriod(12)),
    RR.Expr(Unbound, RR.Aggregation(s"$Tag + $Applied")),
    RR.Expr(Carry, RR.Aggregation(Unbound,
      Seq(AggregationEvaluator.parseBound("if_below(EUR(0))")))),
    RR.Expr(Balance, RR.Aggregation(Unbound,
      Seq(AggregationEvaluator.parseBound("if_above(EUR(0))")))))

  /** Journal rows: (date, account_type, company, debit, credit). */
  private def journal(rows: Seq[(String, String, Int, Double, Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("d", "account_type", "company", "debit", "credit")
      .withColumn("d", col("d").cast("timestamp"))
  }

  /** External values: (expression_id, value, date, company). */
  private def externals(rows: Seq[(String, Double, String, Int)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("expression_id", "value", "date", "company")
  }

  /** One report evaluation scoped to `companies` (the reference's
    * allowed_company_ids context / the external engine's company clause,
    * account_report.py:2889-2891). */
  private def eval(j: DataFrame, ext: DataFrame, companies: Seq[Int],
                   from: LocalDate, to: LocalDate): Map[String, Double] = {
    val inCompanies = col("company").isin(companies: _*)
    val ctx = RR.Ctx(j.filter(inCompanies), col("d"), col("account_type"),
      col("debit") - col("credit"), external = Some(ext.filter(inCompanies)))
    RR.run(ctx, exprs, Seq(RR.ColumnGroup("p", from, to)))("p")
  }

  /** account_report.py:2995-3018: per-company carryovers plus the main
    * company's unit-difference adjustment; zero values are not persisted
    * (:3043 `is_zero` guard). Returns the (company, value) rows to date
    * at the period end. */
  private def closingValues(unitCarry: Double, perCompany: Seq[(Int, Double)],
                            mainCompany: Int): Seq[(Int, Double)] = {
    val written = perCompany.filter(_._2 != 0.0)
    val diff = unitCarry - written.map(_._2).sum
    written ++ (if (diff != 0.0) Seq(mainCompany -> diff) else Nil)
  }

  private val p2021 = (LocalDate.of(2021, 1, 1), LocalDate.of(2021, 12, 31))
  private val p2022 = (LocalDate.of(2022, 1, 1), LocalDate.of(2022, 12, 31))

  // -------------------------------------------------------------------
  // test_tax_report_carry_over (:67-135): single company.
  // -------------------------------------------------------------------
  test("carryover is persisted at closing and applied on the next period (reference :67-135)") {
    // :70-88 — expense credit 1000, payable debit 1000 on 2021-03-01
    val j = journal(Seq(
      ("2021-03-01", "expense", 1, 0.0, 1000.0),
      ("2021-03-01", "payable", 1, 1000.0, 0.0)))
    val noExt = externals(Nil)

    // closing at 2021 year end: the report's carryover value is -1000
    val atClosing = eval(j, noExt, Seq(1), p2021._1, p2021._2)
    assert(atClosing(Tag) == -1000.0 && atClosing(Carry) == -1000.0)

    // :97-101 — exactly one external value: -1000.0 dated 2021-12-31
    // targeting _applied_carryover_balance
    val written = closingValues(atClosing(Carry), Seq(1 -> atClosing(Carry)), 1)
    assert(written == Seq(1 -> -1000.0))
    val ext = externals(written.map { case (c, v) => (Applied, v, "2021-12-31", c) })

    // :103-112 — 2021 report after closing: no displayed value (the
    // carryover swallows it; '' = 0.0), carryover popup -1000 (:115-116)
    val r2021 = eval(j, ext, Seq(1), p2021._1, p2021._2)
    assert(r2021(Balance) == 0.0)
    assert(r2021(Carry) == -1000.0)
    // the just-written value is dated INSIDE 2021, outside the previous
    // tax period — it must not feed back into 2021's own applied value
    assert(r2021(Applied) == 0.0)

    // :118-134 — next period: the carryover is applied, still no
    // displayed value, both popups -1000
    val r2022 = eval(j, ext, Seq(1), p2022._1, p2022._2)
    assert(r2022(Tag) == 0.0)
    assert(r2022(Applied) == -1000.0)
    assert(r2022(Balance) == 0.0)
    assert(r2022(Carry) == -1000.0)
  }

  // -------------------------------------------------------------------
  // test_tax_report_carry_over_tax_unit (:137-320): two companies in a
  // tax unit with company 1 as main company.
  // -------------------------------------------------------------------
  test("tax unit: per-company carryover plus adjustment net to the unit value (reference :137-320)") {
    // :152-184 — company 1: expense credit 1000; company 2: expense
    // debit 2000 (payable counter-legs excluded by the domain)
    val j = journal(Seq(
      ("2021-03-01", "expense", 1, 0.0, 1000.0),
      ("2021-03-01", "payable", 1, 1000.0, 0.0),
      ("2021-03-01", "expense", 2, 2000.0, 0.0),
      ("2021-03-01", "payable", 2, 0.0, 2000.0)))
    val noExt = externals(Nil)

    // closing evaluates the carryover at unit level and per company
    val unit = eval(j, noExt, Seq(1, 2), p2021._1, p2021._2)
    val co1 = eval(j, noExt, Seq(1), p2021._1, p2021._2)
    val co2 = eval(j, noExt, Seq(2), p2021._1, p2021._2)
    assert(unit(Unbound) == 1000.0 && unit(Carry) == 0.0)
    assert(co1(Carry) == -1000.0 && co2(Carry) == 0.0)

    // :198-212 — company 1 ends with TWO values dated 2021-12-31, -1000
    // and +1000 (the unit adjustment); company 2 with none
    val written = closingValues(unit(Carry),
      Seq(1 -> co1(Carry), 2 -> co2(Carry)), mainCompany = 1)
    assert(written.sortBy(_._2) == Seq(1 -> -1000.0, 1 -> 1000.0))
    val ext = externals(written.map { case (c, v) => (Applied, v, "2021-12-31", c) })

    // current period (:218-266): unit shows 1000 with no carryover popup;
    // company 1 shows '' with popup -1000; company 2 shows 2000, no popup
    val u21 = eval(j, ext, Seq(1, 2), p2021._1, p2021._2)
    assert(u21(Balance) == 1000.0 && u21(Carry) == 0.0)
    val c1y21 = eval(j, ext, Seq(1), p2021._1, p2021._2)
    assert(c1y21(Balance) == 0.0 && c1y21(Carry) == -1000.0)
    val c2y21 = eval(j, ext, Seq(2), p2021._1, p2021._2)
    assert(c2y21(Balance) == 2000.0 && c2y21(Carry) == 0.0)

    // next period (:268-320): every view shows '' and NO popups — the
    // same-dated -1000/+1000 pair must NET to zero through most_recent
    // (the sum-at-latest-date semantics; a single-latest-row reading
    // would leak ±1000 into 2022)
    val u22 = eval(j, ext, Seq(1, 2), p2022._1, p2022._2)
    assert(u22(Applied) == 0.0 && u22(Balance) == 0.0 && u22(Carry) == 0.0)
    val c1y22 = eval(j, ext, Seq(1), p2022._1, p2022._2)
    assert(c1y22(Applied) == 0.0 && c1y22(Balance) == 0.0 && c1y22(Carry) == 0.0)
    val c2y22 = eval(j, ext, Seq(2), p2022._1, p2022._2)
    assert(c2y22(Applied) == 0.0 && c2y22(Balance) == 0.0 && c2y22(Carry) == 0.0)
  }

  test("previous_tax_period boundaries follow the company periodicity (res_company.py:217-227)") {
    // yearly: the period before 2022 is calendar 2021
    assert(DateScope.taxPeriodBoundaries(LocalDate.of(2021, 12, 31), 12) ==
      (LocalDate.of(2021, 1, 1), LocalDate.of(2021, 12, 31)))
    // quarterly ('trimester', 3 months): 2021-05-15 sits in Q2
    assert(DateScope.taxPeriodBoundaries(LocalDate.of(2021, 5, 15), 3) ==
      (LocalDate.of(2021, 4, 1), LocalDate.of(2021, 6, 30)))
    // monthly, and an exact period-end day stays in its own period
    assert(DateScope.taxPeriodBoundaries(LocalDate.of(2021, 2, 28), 1) ==
      (LocalDate.of(2021, 2, 1), LocalDate.of(2021, 2, 28)))
    // the scope window for a period starting 2022-01-01 is all of 2021
    assert(DateScope.bounds(DateScope.PreviousTaxPeriod(12),
      LocalDate.of(2022, 1, 1), LocalDate.of(2022, 12, 31)) ==
      (Some(LocalDate.of(2021, 1, 1)), LocalDate.of(2021, 12, 31)))
  }
}
