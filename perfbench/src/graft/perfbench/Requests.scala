package graft.perfbench

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The workloads, the requests they issue, and how a response is
  * checked. A request is one call into the program (a gate constructor or a
  * parameterized `ReportRunner.run`, or in curation_x10 a memo build),
  * followed by a timed action that computes every output column. */
object Requests {

  /** `data` names the input directory: "base" (the sf0.01 fixture) or
    * "x10" (the scaled curation corpus). `runners` is the number of
    * parameterized ReportRunner requests per pass. `coldS` and `warmS` are
    * the nominal cold and warm pass times on 4 cores, which size a run. */
  final case class Workload(name: String, data: String, gates: Seq[String],
                            runners: Int, memos: Seq[String], coldS: Double, warmS: Double) {
    /** Warm passes of a run: as many as nominally fit the measuring window
      * after the cold pass, at least two. Fixed by `seconds` alone, so every
      * run of the workload measures the same passes (unless a run passes
      * twice its window, when it stops after two warm passes); a slow host
      * makes the run longer instead of shorter in passes, and the JVM's warm-up,
      * which goes on for minutes, cannot move a metric through the number
      * of passes that fit. */
    def warmPasses(seconds: Double): Int = math.max(2, ((seconds - coldS) / warmS).toInt)
  }

  val ledgerReports = Workload("ledger_reports", "base", Seq(
    "q47_general_ledger", "q174_tax_totals", "q79_fifo_allocation",
    "q44_agg_fixpoint", "q71_report_spec", "q113_bank_reconciliation"),
    runners = 2, memos = Nil, coldS = 15, warmS = 6.3)

  val curationX10 = Workload("curation_x10", "x10", Seq(
    "q32_ngram_jaccard", "q59_dup_clusters", "q31_dedup_exact", "q40_winnow_fingerprint"),
    runners = 0, memos = Seq("pairs05", "cc05"), coldS = 15, warmS = 5.2)

  /** Small workload for the self-tests: cheap gates plus one runner. */
  val selfTest = Workload("selftest", "base", Seq(
    "q44_agg_fixpoint", "q70_like_domain", "q109_domain_negation"),
    runners = 1, memos = Nil, coldS = 2, warmS = 1)

  val all: Map[String, Workload] =
    Seq(ledgerReports, curationX10, selfTest).map(w => w.name -> w).toMap

  /** Memo builds of the curation chain, timed first in every pass after
    * `ArtifactMemo.invalidate`, as a new corpus version would. */
  val memoBuilds: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pairs05" -> ((s, d) => graft.queries.PairMemo.pairs(s, d)),
    "cc05" -> ((s, d) => graft.queries.PairMemo.clusters(s, d)))

  /** Gates of the request sets that read a memo artifact, for the
    * hit/build ledger. */
  val memoConsumers: Set[String] = Set("q32_ngram_jaccard", "q59_dup_clusters")

  // ---- fingerprint -------------------------------------------------------

  /** Order-insensitive fingerprint of a whole result: `count(*)` plus the
    * exact decimal sum of `xxhash64` over every column. Floating values are
    * rounded to 4 decimals (and -0.0 folded into 0.0) first, so summation
    * order inside the program cannot fail a correct answer; maps become
    * sorted entry arrays because Spark does not hash maps.
    *
    * The action runs the gate's own plan into Spark's no-op sink and takes
    * the fingerprint as observed metrics alongside it. Nothing is put on
    * top of the plan that Catalyst could prune it under: the metrics need
    * every output column, and a top-level Sort, Limit or Window stays, as
    * do the range-partition sample job and shuffle of a final orderBy. (An
    * aggregate over the result would let EliminateSorts drop the Sort.) */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"), sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val h = Option(m("h")).map(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal]))
      .getOrElse(BigDecimal(0))
    (m("n").asInstanceOf[Long], h)
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        norm(e.getField("key"), kt).as("key"), norm(e.getField("value"), vt).as("value"))))
    case StructType(fs) if fs.exists(f => needsNorm(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(struct(fs.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  // ---- parameterized ReportRunner request --------------------------------

  /** One comparison period: [from, to], both inclusive. */
  final case class Period(from: LocalDate, to: LocalDate) {
    def key: String = s"$from/$to"
  }

  /** Candidate periods: months 1995-01 .. 2001-07 (the fixture's order
    * dates) with spans of 1, 2, 3, 6 and 12 months. The reference file holds
    * an independently computed value for every candidate. */
  val candidatePeriods: IndexedSeq[Period] =
    for {
      m <- 0 until 79
      span <- Seq(1, 2, 3, 6, 12)
    } yield {
      val from = LocalDate.of(1995, 1, 1).plusMonths(m.toLong)
      Period(from, from.plusMonths(span.toLong).minusDays(1))
    }

  val runnerExprCodes: Seq[String] = Seq("D1.bal", "D2.bal", "C1.bal", "A1.bal")

  /** The q54 report (domain, account_codes and aggregation engines) over
    * the orders journal, evaluated for the drawn periods. Returns
    * period key -> expression code -> value rounded to 2 decimals. */
  def runReport(s: SparkSession, dir: String, periods: Seq[Period]): Map[String, Map[String, Double]] = {
    import graft.engine.{AggregationEvaluator, DateScope, ReportRunner}
    val journal = s.read.parquet(s"$dir/orders.parquet").select(
      col("o_orderdate").as("d"),
      (col("o_custkey") % 100).cast("string").as("code"),
      col("o_orderstatus").as("state"),
      col("o_totalprice").as("v"))
    val ctx = ReportRunner.Ctx(journal, col("d"), col("code"), col("v"))
    val exprs = Seq(
      ReportRunner.Expr("D1.bal", ReportRunner.DomainSum(Seq(("state", "=", "F")))),
      ReportRunner.Expr("D2.bal", ReportRunner.DomainSum(Seq(("state", "=", "F"))),
        scope = DateScope.FromBeginning),
      ReportRunner.Expr("C1.bal", ReportRunner.CodesFormula("1\\(15) + 2C")),
      ReportRunner.Expr("A1.bal", ReportRunner.Aggregation(
        "100 * D1.bal / D2.bal", Seq(AggregationEvaluator.RoundTo(2)))))
    val groups = periods.map(p => ReportRunner.ColumnGroup(p.key, p.from, p.to))
    val out = ReportRunner.run(ctx, exprs, groups)
    periods.map(p => p.key -> runnerExprCodes.map { e =>
      e -> BigDecimal(out(p.key)(e)).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap).toMap
  }
}
