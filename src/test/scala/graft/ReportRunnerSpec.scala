package graft

import java.time.LocalDate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine._

/** End-to-end orchestrator spec in the reference's golden-matrix style
  * (account_reports/tests/common.py assertLinesValues): a tiny journal,
  * expressions across four engines, two comparison periods → expected
  * value matrix. */
class ReportRunnerSpec extends AnyFunSuite with SparkSpec {

  private def fixture = {
    val s = spark; import s.implicits._
    // (date, account code, state, amount)
    Seq(
      ("2023-11-15", "101", "posted", 100.0), // prior period
      ("2024-01-10", "101", "posted", 10.0),
      ("2024-01-20", "101", "draft", 99.0),   // excluded by posted domain
      ("2024-02-05", "201", "posted", -30.0),
      ("2024-02-06", "301", "posted", 7.0),
      ("2025-03-01", "101", "posted", 1000.0) // next period
    ).toDF("d", "code", "state", "v")
      .withColumn("d", col("d").cast("timestamp"))
  }

  test("four engines, two column groups, aggregation resolved last") {
    val ctx = ReportRunner.Ctx(fixture, col("d"), col("code"), col("v"))
    val exprs = Seq(
      ReportRunner.Expr("POSTED.bal",
        ReportRunner.DomainSum(Seq(("state", "=", "posted")))),
      ReportRunner.Expr("ALLHIST.bal",
        ReportRunner.DomainSum(Seq(("state", "=", "posted"))),
        scope = DateScope.FromBeginning),
      // codes: prefix 1 and 2, 2 gated to credit (C)
      ReportRunner.Expr("CODES.bal", ReportRunner.CodesFormula("1 + 2C")),
      ReportRunner.Expr("RATIO.bal", ReportRunner.Aggregation(
        "100 * POSTED.bal / ALLHIST.bal",
        Seq(AggregationEvaluator.RoundTo(2)))))
    val groups = Seq(
      ReportRunner.ColumnGroup("p2024",
        LocalDate.of(2024, 1, 1), LocalDate.of(2024, 12, 31)),
      ReportRunner.ColumnGroup("p2023",
        LocalDate.of(2023, 1, 1), LocalDate.of(2023, 12, 31)))
    val out = ReportRunner.run(ctx, exprs, groups)

    // 2024: posted in range = 10 - 30 + 7 = -13; all history <= 2024-12-31
    // posted = 100 + 10 - 30 + 7 = 87; codes strict-range (draft counts,
    // domain not applied to codes engine): code 1* = 10+99, 2C = -30
    assert(out("p2024")("POSTED.bal") == -13.0)
    assert(out("p2024")("ALLHIST.bal") == 87.0)
    assert(out("p2024")("CODES.bal") == 79.0)
    assert(out("p2024")("RATIO.bal") == -14.94) // 100*-13/87 rounded
    // 2023: only the November posting
    assert(out("p2023")("POSTED.bal") == 100.0)
    assert(out("p2023")("ALLHIST.bal") == 100.0)
    assert(out("p2023")("CODES.bal") == 100.0)
    assert(out("p2023")("RATIO.bal") == 100.0)
  }

  test("a request with new periods and a new group count compiles no class " +
      "and runs one aggregate") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.GraftListenerBus
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val ctx = ReportRunner.Ctx(fixture, col("d"), col("code"), col("v"))
    val exprs = Seq(
      ReportRunner.Expr("POSTED.bal", ReportRunner.DomainSum(Seq(("state", "=", "posted")))),
      ReportRunner.Expr("ALLHIST.bal", ReportRunner.DomainSum(Seq(("state", "=", "posted"))),
        scope = DateScope.FromBeginning),
      ReportRunner.Expr("CODES.bal", ReportRunner.CodesFormula("1 + 2C")),
      ReportRunner.Expr("RATIO.bal", ReportRunner.Aggregation("100 * POSTED.bal / ALLHIST.bal")))
    def group(key: String, from: String, to: String) =
      ReportRunner.ColumnGroup(key, LocalDate.parse(from), LocalDate.parse(to))
    ReportRunner.run(ctx, exprs, Seq(group("p2024", "2024-01-01", "2024-12-31"),
      group("p2023", "2023-01-01", "2023-12-31")))

    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = ReportRunner.run(ctx, exprs, Seq(group("q1", "2024-01-01", "2024-03-31"),
        group("feb", "2024-02-01", "2024-02-29"), group("h2", "2023-07-01", "2023-12-31")))
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      GraftListenerBus.drain(sc)
      assert(compiled == 0, s"$compiled classes compiled for new period bounds")
      assert(jobs.get <= 3, s"${jobs.get} Spark jobs for one request")
      assert(out("q1")("POSTED.bal") == -13.0 && out("feb")("CODES.bal") == -30.0 &&
        out("h2")("ALLHIST.bal") == 100.0)
    } finally sc.removeSparkListener(listener)
  }

  test("report spec: initializer domain + comparison × horizontal cartesian") {
    import ReportSpec._
    val opts = Options(
      date = Period("p1", LocalDate.of(2024, 1, 1), LocalDate.of(2024, 12, 31)),
      comparisons = Seq(Period("p0", LocalDate.of(2023, 1, 1), LocalDate.of(2023, 12, 31))),
      journals = Seq("BNK", "INV"),
      accountTypes = Seq("trade_receivable", "trade_payable"),
      unreconciled = true,
      horizontalGroups = Seq(
        HorizontalGroup("branch", Seq("B1" -> 1L, "B2" -> 2L)),
        HorizontalGroup("cc", Seq("CC9" -> 9L))))
    // base domain: journals AND posted AND unreconciled AND (tr OR tp)
    val dom = baseDomain(opts)
    assert(dom.head == (("journal_id", "in", Seq("BNK", "INV"))))
    assert(dom.contains(("parent_state", "=", "posted")))
    assert(dom.contains(("reconciled", "=", false)))
    assert(dom.count(_ == "|") == 1 && dom.count(_ == "&") == 2)
    // cartesian: 2 periods × 2 branches × 1 cc = 4 groups, ordered
    // period-major like the reference's recursive header expansion
    val groups = columnGroups(opts)
    assert(groups.map(_.key) == Seq("p1|B1|CC9", "p1|B2|CC9", "p0|B1|CC9", "p0|B2|CC9"))
    assert(groups.head.forced == Seq(("branch", "=", 1L), ("cc", "=", 9L)))
    assert(groups.head.from == LocalDate.of(2024, 1, 1))
    assert(groups.last.from == LocalDate.of(2023, 1, 1))
    // the composed domain parses + compiles through the Domain engine
    Domain.compile(dom)
  }

  test("report spec drives the runner: forced domains split the fact rows") {
    val s = spark; import s.implicits._
    import ReportSpec._
    val facts = Seq(
      ("2024-02-01", "posted", 1L, 10.0),
      ("2024-03-01", "posted", 2L, 20.0),
      ("2024-04-01", "draft", 1L, 99.0),  // dropped by the base domain
      ("2023-05-01", "posted", 1L, 5.0))
      .toDF("d", "parent_state", "branch", "v")
      .withColumn("d", col("d").cast("timestamp"))
    val opts = Options(
      date = Period("p1", LocalDate.of(2024, 1, 1), LocalDate.of(2024, 12, 31)),
      comparisons = Seq(Period("p0", LocalDate.of(2023, 1, 1), LocalDate.of(2023, 12, 31))),
      horizontalGroups = Seq(HorizontalGroup("branch", Seq("B1" -> 1L, "B2" -> 2L))))
    val (pred, groups) = compile(opts)
    val ctx = ReportRunner.Ctx(facts.filter(pred), col("d"), col("branch"), col("v"))
    val out = ReportRunner.run(ctx,
      Seq(ReportRunner.Expr("T.bal", ReportRunner.DomainSum(Nil))), groups)
    assert(out("p1|B1")("T.bal") == 10.0)
    assert(out("p1|B2")("T.bal") == 20.0)
    assert(out("p0|B1")("T.bal") == 5.0)
    assert(out("p0|B2")("T.bal") == 0.0)
  }

  test("cross_report: terms resolve against the other report under a forced scope") {
    val ctx = ReportRunner.Ctx(fixture, col("d"), col("code"), col("v"),
      crossExprs = Seq(
        ReportRunner.Expr("OTH.bal",
          ReportRunner.DomainSum(Seq(("state", "=", "posted")))),
        // same code as a LOCAL expression — must shadow it (reference merges
        // other_reports_eval_dict OVER current_report_eval_dict)
        ReportRunner.Expr("POSTED.bal", ReportRunner.DomainSum(Nil))))
    val exprs = Seq(
      ReportRunner.Expr("POSTED.bal",
        ReportRunner.DomainSum(Seq(("state", "=", "posted")))),
      // cross formula under FromBeginning: OTH.bal cumulative = 87,
      // local POSTED.bal keeps its own strict-range value = -13
      ReportRunner.Expr("X.bal", ReportRunner.Aggregation("OTH.bal",
        crossScope = Some(DateScope.FromBeginning))),
      // shadowing: POSTED.bal here is the CROSS one (no state filter,
      // strict range: 10 + 99 - 30 + 7 = 86), not the local -13
      ReportRunner.Expr("Y.bal", ReportRunner.Aggregation("POSTED.bal",
        crossScope = Some(DateScope.StrictRange))),
      // no crossScope -> plain local resolution
      ReportRunner.Expr("Z.bal", ReportRunner.Aggregation("POSTED.bal + 1")))
    val groups = Seq(ReportRunner.ColumnGroup("p2024",
      LocalDate.of(2024, 1, 1), LocalDate.of(2024, 12, 31)))
    val out = ReportRunner.run(ctx, exprs, groups)
    assert(out("p2024")("POSTED.bal") == -13.0)
    assert(out("p2024")("X.bal") == 87.0)
    assert(out("p2024")("Y.bal") == 86.0)
    assert(out("p2024")("Z.bal") == -12.0)
  }

  test("external engine + toLines matrix") {
    val s = spark; import s.implicits._
    val ext = Seq(
      ("CARRY.bal", 5.0, "2024-01-31", 1L),
      ("CARRY.bal", 7.0, "2024-06-30", 2L))
      .toDF("expression_id", "value", "date", "value_id")
    val ctx = ReportRunner.Ctx(fixture, col("d"), col("code"), col("v"),
      external = Some(ext))
    val exprs = Seq(
      ReportRunner.Expr("SUMEXT.bal", ReportRunner.External("CARRY.bal")),
      ReportRunner.Expr("LASTEXT.bal",
        ReportRunner.External("CARRY.bal", mostRecent = true)))
    val groups = Seq(ReportRunner.ColumnGroup("p2024",
      LocalDate.of(2024, 1, 1), LocalDate.of(2024, 12, 31)))
    val out = ReportRunner.run(ctx, exprs, groups)
    assert(out("p2024")("SUMEXT.bal") == 12.0)
    assert(out("p2024")("LASTEXT.bal") == 7.0)
    val lines = ReportRunner.toLines(out, exprs, groups)
    assert(lines.map(l => (l.id, l.values)) ==
      Seq(("SUMEXT.bal", Seq(12.0)), ("LASTEXT.bal", Seq(7.0))))
  }
}
