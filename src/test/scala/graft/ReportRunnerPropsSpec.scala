package graft

import java.time.{LocalDate, LocalDateTime}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ReportRunner => RR}
import graft.engine.DateScope._

/** ScalaCheck properties: [[RR.run]] against a plain-Scala model over the
  * journal rows, to the cent. The model sums integer cents row by row,
  * tests each date against the scope's bounds with `java.time` alone,
  * and states the domains and the account_codes formulas as Scala
  * predicates, so no Spark expression and no engine code decides which
  * rows count.
  *
  * Generated cases mix 1-12 overlapping column groups (month-end,
  * leap-day, single-day and empty windows), all seven date scopes with a
  * fiscal year that may end outside December and tax periods of 1, 3
  * and 12 months, the four domain modes with and without `negate`,
  * codes formulas with exclusions and D/C gates, forced (horizontal
  * group) domains, and cross-report formulas under forced scopes. Each
  * runs with the date column as a timestamp (midnight and noon, so the
  * strict bounds show), a date, and a `yyyy-MM-dd` string. */
class ReportRunnerPropsSpec extends AnyFunSuite with SparkSpec {

  private final case class JRow(at: LocalDateTime, code: String, state: String,
                                branch: Long, cents: Long)

  // ---- the model --------------------------------------------------------

  /** (domain, its meaning over a row). */
  private val domains: IndexedSeq[(Seq[Any], JRow => Boolean)] = IndexedSeq(
    (Nil, _ => true),
    (Seq(("state", "=", "posted")), _.state == "posted"),
    (Seq("|", ("state", "=", "draft"), ("branch", "=", 2L)),
      r => r.state == "draft" || r.branch == 2L),
    (Seq(("code", "=like", "1%")), _.code.startsWith("1")))

  /** One account_codes term: prefix, sign, balance gate, excluded prefixes. */
  private final case class Term(prefix: String, sign: Int, gate: Option[Char],
                                excluded: Seq[String])

  private val formulas: IndexedSeq[(String, Seq[Term])] = IndexedSeq(
    ("1", Seq(Term("1", 1, None, Nil))),
    ("1 + 2C", Seq(Term("1", 1, None, Nil), Term("2", 1, Some('C'), Nil))),
    ("1\\(101) - 2D", Seq(Term("1", 1, None, Seq("101")), Term("2", -1, Some('D'), Nil))),
    ("10D - 3 + 20", Seq(Term("10", 1, Some('D'), Nil), Term("3", -1, None, Nil),
      Term("20", 1, None, Nil))))

  private val scopes: IndexedSeq[Scope] = IndexedSeq(StrictRange, Normal,
    FromBeginning, ToBeginningOfPeriod, FromFiscalyear, ToBeginningOfFiscalyear,
    PreviousTaxPeriod(1), PreviousTaxPeriod(3), PreviousTaxPeriod(12))

  /** The scope's rows, read off the DateScope docs: bounds are midnights,
    * the two "to beginning" scopes end strictly before theirs. */
  private def inScope(sc: Scope, at: LocalDateTime, g: RR.ColumnGroup,
                      fc: FiscalConfig): Boolean = {
    def m(d: LocalDate) = d.atStartOfDay
    def between(lo: LocalDate, hi: LocalDate) = !at.isBefore(m(lo)) && !at.isAfter(m(hi))
    sc match {
      case StrictRange | Normal => between(g.from, g.to)
      case FromBeginning => !at.isAfter(m(g.to))
      case ToBeginningOfPeriod => at.isBefore(m(g.from))
      case FromFiscalyear => between(fiscalYearStart(g.to, fc), g.to)
      case ToBeginningOfFiscalyear => at.isBefore(m(fiscalYearStart(g.to, fc)))
      case PreviousTaxPeriod(n) =>
        val (pf, pt) = taxPeriodBoundaries(g.from.minusDays(1), n)
        between(pf, pt)
    }
  }

  /** A generated domain expression: indexes into [[domains]]. */
  private final case class DomExpr(code: String, dom: Int, negate: Boolean,
                                   mode: String, scope: Scope) {
    def expr: RR.Expr = RR.Expr(code, RR.DomainSum(domains(dom)._1, negate, mode), scope)
  }
  private final case class CodesExpr(code: String, formula: Int, scope: Scope) {
    def expr: RR.Expr = RR.Expr(code, RR.CodesFormula(formulas(formula)._1), scope)
  }
  /** Cross-report leaves XD.bal (domain) and XC.bal (codes), the other
    * report's XA.bal = XD.bal + XC.bal, and two local formulas reading
    * them under forced scopes. */
  private final case class Cross(xd: DomExpr, xc: CodesExpr, s1: Scope, s2: Scope)

  private final case class Case(rows: Seq[JRow], groups: Seq[RR.ColumnGroup],
                                fc: FiscalConfig, doms: Seq[DomExpr],
                                codes: Seq[CodesExpr], cross: Option[Cross]) {
    def exprs: Seq[RR.Expr] = doms.map(_.expr) ++ codes.map(_.expr) ++ cross.toSeq.flatMap(c => Seq(
      RR.Expr("X0.bal", RR.Aggregation("XA.bal - XD.bal", crossScope = Some(c.s1))),
      RR.Expr("X1.bal", RR.Aggregation("XD.bal", crossScope = Some(c.s2)))))
    def crossExprs: Seq[RR.Expr] = cross.toSeq.flatMap(c => Seq(c.xd.expr, c.xc.expr,
      RR.Expr("XA.bal", RR.Aggregation("XD.bal + XC.bal"))))
  }

  private def forcedOk(g: RR.ColumnGroup, r: JRow): Boolean = g.forced match {
    case Seq(("branch", "=", b: Long)) => r.branch == b
    case _ => true
  }

  /** Model cents (or a row count) of a domain expression in one group. */
  private def domModel(c: Case, g: RR.ColumnGroup, e: DomExpr, scope: Scope): Double = {
    val rows = c.rows.filter(r => forcedOk(g, r) && inScope(scope, r.at, g, c.fc) &&
      domains(e.dom)._2(r))
    val raw = if (e.mode == "count_rows") rows.size * 100L else rows.map(_.cents).sum
    val gated = e.mode match {
      case "sum_if_pos" => if (raw >= 0) raw else 0L
      case "sum_if_neg" => if (raw < 0) raw else 0L
      case _ => raw
    }
    (if (e.negate) -gated else gated) / 100.0
  }

  private def codesModel(c: Case, g: RR.ColumnGroup, e: CodesExpr, scope: Scope): Double = {
    val bal = c.rows.filter(r => forcedOk(g, r) && inScope(scope, r.at, g, c.fc))
      .groupMapReduce(_.code)(_.cents)(_ + _)
    formulas(e.formula)._2.map { t =>
      bal.collect { case (code, b) if code.startsWith(t.prefix) &&
          !t.excluded.exists(code.startsWith) &&
          (t.gate match { case Some('D') => b >= 0; case Some('C') => b < 0; case _ => true }) =>
        b * t.sign
      }.sum
    }.sum / 100.0
  }

  private def model(c: Case, g: RR.ColumnGroup): Map[String, Double] =
    c.doms.map(e => e.code -> domModel(c, g, e, e.scope)).toMap ++
      c.codes.map(e => e.code -> codesModel(c, g, e, e.scope)) ++
      c.cross.toSeq.flatMap(x => Seq(
        "X0.bal" -> codesModel(c, g, x.xc, x.s1),
        "X1.bal" -> domModel(c, g, x.xd, x.s2)))

  // ---- generators -------------------------------------------------------

  private val specialDays: Seq[LocalDate] = Seq("2023-12-31", "2024-01-01",
    "2024-01-31", "2024-02-28", "2024-02-29", "2024-03-01", "2024-03-31",
    "2024-06-30", "2024-07-01", "2024-09-30", "2024-12-31", "2025-01-01")
    .map(LocalDate.parse)

  private val genDay: Gen[LocalDate] = Gen.frequency(
    3 -> Gen.oneOf(specialDays),
    2 -> Gen.choose(0L, 3L * 366).map(LocalDate.of(2023, 1, 1).plusDays))

  private def genRow(noon: Boolean): Gen[JRow] = for {
    day <- genDay
    hour <- if (noon) Gen.oneOf(0, 0, 12) else Gen.const(0)
    code <- Gen.oneOf("101", "1011", "102", "15", "201", "2", "30", "301")
    state <- Gen.oneOf("posted", "posted", "draft")
    branch <- Gen.oneOf(1L, 2L)
    cents <- Gen.choose(-50000L, 50000L)
  } yield JRow(day.atTime(hour, 0), code, state, branch, cents)

  private def genGroup(i: Int, forced: Boolean): Gen[RR.ColumnGroup] = for {
    from <- Gen.frequency(3 -> Gen.oneOf(specialDays), 2 -> genDay.map(_.withDayOfMonth(1)),
      1 -> genDay)
    to <- Gen.oneOf(
      from.withDayOfMonth(from.lengthOfMonth), // month end
      from.plusMonths(3).minusDays(1), from.plusYears(1).minusDays(1),
      from, from.minusDays(1), // one day, empty
      LocalDate.of(2024, 2, 29))
    branch <- Gen.oneOf(0L, 1L, 2L)
  } yield RR.ColumnGroup(s"g$i", from, to,
    if (forced && branch > 0) Seq(("branch", "=", branch)) else Nil)

  private def genDom(code: String): Gen[DomExpr] = for {
    dom <- Gen.choose(0, domains.size - 1)
    negate <- Gen.oneOf(true, false)
    mode <- Gen.oneOf("sum", "sum_if_pos", "sum_if_neg", "count_rows")
    scope <- Gen.oneOf(scopes)
  } yield DomExpr(code, dom, negate, mode, scope)

  private def genCodes(code: String): Gen[CodesExpr] = for {
    f <- Gen.choose(0, formulas.size - 1)
    scope <- Gen.oneOf(scopes)
  } yield CodesExpr(code, f, scope)

  private def genCase(noon: Boolean): Gen[Case] = for {
    rows <- Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, genRow(noon)))
    forced <- Gen.oneOf(true, false)
    k <- Gen.choose(1, 12)
    groups <- Gen.sequence[Seq[RR.ColumnGroup], RR.ColumnGroup](
      (0 until k).map(genGroup(_, forced)))
    fc <- Gen.oneOf(FiscalConfig(), FiscalConfig(6, 30), FiscalConfig(3, 31),
      FiscalConfig(9, 30))
    nd <- Gen.choose(1, 4)
    doms <- Gen.sequence[Seq[DomExpr], DomExpr]((0 until nd).map(i => genDom(s"D$i.bal")))
    nc <- Gen.choose(0, 2)
    codes <- Gen.sequence[Seq[CodesExpr], CodesExpr]((0 until nc).map(i => genCodes(s"C$i.bal")))
    cross <- Gen.option(for {
      xd <- genDom("XD.bal")
      xc <- genCodes("XC.bal")
      s1 <- Gen.oneOf(scopes)
      s2 <- Gen.oneOf(scopes)
    } yield Cross(xd, xc, s1, s2))
  } yield Case(rows, groups, fc, doms, codes, cross)

  // ---- the property -----------------------------------------------------

  /** The journal with its date column as `dateType`. */
  private def journal(rows: Seq[JRow], dateType: String): DataFrame = {
    val s = spark; import s.implicits._
    val df = rows.map(r => (r.at.toString.replace('T', ' '), r.code, r.state, r.branch,
      r.cents / 100.0)).toDF("d", "code", "state", "branch", "v")
    dateType match {
      case "string" => df.withColumn("d", substring(col("d"), 1, 10))
      case t => df.withColumn("d", col("d").cast(t))
    }
  }

  private def prop(dateType: String): Prop =
    Prop.forAll(genCase(noon = dateType == "timestamp")) { c =>
      val ctx = RR.Ctx(journal(c.rows, dateType), col("d"), col("code"), col("v"),
        fc = c.fc, crossExprs = c.crossExprs)
      val out = RR.run(ctx, c.exprs, c.groups)
      val bad = for {
        g <- c.groups
        (code, want) <- model(c, g).toSeq.sortBy(_._1)
        got = out(g.key)(code)
        if math.abs(got - want) >= 0.005
      } yield s"${g.key} [${g.from}, ${g.to}] forced=${g.forced} $code: runner $got vs model $want"
      bad.isEmpty :| (s"fc=${c.fc} exprs=${c.exprs} cross=${c.crossExprs}\n" +
        bad.mkString("\n"))
    }

  for (dateType <- Seq("timestamp", "date", "string")) {
    test(s"the runner equals its plain-Scala model to the cent ($dateType date column)") {
      val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), prop(dateType))
      assert(r.passed, Pretty.pretty(r, Pretty.Params(1)))
    }
  }
}
