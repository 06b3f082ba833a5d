package graft.report

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.{ColumnGroupPlanner, DateScope}

/** Report handlers (SURVEY §7.2 step 5) composed from the engine layer —
  * the Spark-native equivalents of the reference's custom report models.
  * They operate over a generic journal shape: (dateCol, account key
  * columns, an amount measure) supplied by the caller, so any fact table
  * maps in. */
object Handlers {

  /** General ledger (account_reports/models/account_general_ledger.py:
    * 223-316): per-account initial balance (history before the period),
    * period movement, and closing balance — evaluated in ONE scan via
    * column-group conditional aggregation instead of the reference's
    * initial-balance UNION ALL branch. */
  object GeneralLedger {
    def accountSummary(journal: DataFrame, dateCol: Column, accountCols: Seq[Column],
                       amount: Column, from: LocalDate, to: LocalDate): DataFrame = {
      val initial = DateScope.predicate(DateScope.ToBeginningOfPeriod, dateCol, from, to)
      val period = DateScope.predicate(DateScope.StrictRange, dateCol, from, to)
      ColumnGroupPlanner.evaluate(journal, accountCols,
          Seq(ColumnGroupPlanner.Group("initial", initial),
            ColumnGroupPlanner.Group("period", period)),
          Map("bal" -> amount))
        .withColumn("closing_bal", col("initial_bal") + col("period_bal"))
    }

    /** Unaffected-earnings collapse (SURVEY §2.4 A18,
      * account_general_ledger.py:258-316): journal rows dated before the
      * fiscal-year start are re-keyed to a single synthetic equity account
      * per grouping, so prior-year P&L shows as one opening line. */
    def collapsePriorYears(journal: DataFrame, dateCol: Column, accountCol: Column,
                           fyStart: LocalDate, unaffectedKey: Long): DataFrame =
      journal.withColumn(s"account_collapsed",
        when(dateCol < lit(fyStart.toString).cast("timestamp"), lit(unaffectedKey))
          .otherwise(accountCol))
  }

  /** Partner/journal ledger detail (SURVEY §2.6 W1/W2,
    * account_journal_report.py:109-237 `cumulate_balance`,
    * account_partner_ledger.py:347-409): per-key running balance over the
    * period's rows, SEEDED with the pre-period balance — the reference
    * threads `progress` through Python; here the seed is a pre-aggregated
    * initial-balance join and the cumulation is one window function. */
  object Ledger {
    def runningDetail(journal: DataFrame, dateCol: Column, keyCol: Column,
                      idCol: Column, amount: Column,
                      from: LocalDate, to: LocalDate): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val initial = journal
        .filter(DateScope.predicate(DateScope.ToBeginningOfPeriod, dateCol, from, to))
        .groupBy(keyCol.as("k")).agg(sum(amount).as("init_bal"))
      val w = Window.partitionBy(keyCol).orderBy(dateCol, idCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      journal
        .filter(DateScope.predicate(DateScope.StrictRange, dateCol, from, to))
        .withColumn("cum", sum(amount).over(w))
        .join(initial, keyCol === col("k"), "left")
        .withColumn("running_bal", coalesce(col("init_bal"), lit(0.0)) + col("cum"))
        .drop("k", "cum")
    }
  }

  /** Journal report, composed (account_journal_report.py:109-237 move
    * lines with cumulated balance threaded through `progress`, :728-756
    * `_query_months` month sectioning, :205-237 tax summary section): for
    * ONE journal, render
    *   sect 0 — month header rows with monthly subtotals (W4 pattern),
    *   sect 1 — per-move lines carrying a running balance seeded from the
    *            pre-period balance ([[Ledger.runningDetail]], W1/W2),
    *   sect 2 — the per-tax-group summary section.
    * All three sections read the SAME filtered journal frame; the running
    * balance's single-partition window is per-journal by nature (a bank
    * statement's cumulative display is inherently sequential and bounded
    * by one journal's lines — the reference threads it row by row too). */
  object JournalReport {
    def render(journal: DataFrame, dateCol: Column, journalCol: Column,
               journalKey: Any, idCol: Column, amount: Column,
               taxGroupCol: Column, from: LocalDate, to: LocalDate): DataFrame = {
      val j = journal.filter(journalCol === lit(journalKey))
      val inPeriod = j.filter(DateScope.predicate(DateScope.StrictRange, dateCol, from, to))
      val month = date_format(dateCol, "yyyy-MM")
      val lines = Ledger.runningDetail(j, dateCol, journalCol, idCol, amount, from, to)
        .select(lit(1L).as("sect"), month.as("mth"),
          idCol.cast("double").as("line_id"),
          lit(null).cast("string").as("grp"),
          amount.as("amount"), col("running_bal").as("run_bal"))
      val months = inPeriod
        .groupBy(month.as("mth"))
        .agg(sum(amount).as("amount"))
        .select(lit(0L).as("sect"), col("mth"),
          lit(null).cast("double").as("line_id"),
          lit(null).cast("string").as("grp"),
          col("amount"), lit(null).cast("double").as("run_bal"))
      val tax = inPeriod
        .groupBy(taxGroupCol.cast("string").as("grp"))
        .agg(sum(amount).as("amount"))
        .select(lit(2L).as("sect"), lit(null).cast("string").as("mth"),
          lit(null).cast("double").as("line_id"), col("grp"),
          col("amount"), lit(null).cast("double").as("run_bal"))
      months.unionByName(lines).unionByName(tax)
    }
  }

  /** Cash-flow statement (SURVEY §2.8,
    * account_cash_flow_report.py:280-360): a three-way UNION ALL of
    * differently-sourced cash movements, each tagged with its statement
    * category, aggregated per category plus a grand-total line. Sources
    * project to a common (category, amount) schema with `unionByName`. */
  object CashFlow {
    /** `sources`: (category label, DataFrame with an `amount` column). */
    def compute(sources: Seq[(String, DataFrame)]): DataFrame = {
      val tagged = sources.map { case (cat, df) =>
        df.select(lit(cat).as("category"), col("amount"))
      }.reduce(_ unionByName _)
      tagged.rollup(col("category"))
        .agg(count(lit(1)).as("n"), round(sum(col("amount")), 2).as("total"))
        .select(coalesce(col("category"), lit("(total)")).as("category"),
          col("n"), col("total"))
    }
  }

  /** Multicurrency revaluation (SURVEY §2.3 J10/J8,
    * account_multicurrency_revaluation_report.py:170-243): foreign-currency
    * balances revalued at an as-of rate table (a plan-time literal VALUES
    * dim, broadcast), minus accounts excluded from revaluation (anti-join).
    * adjustment = Σamount_currency / rate − Σbalance per currency. */
  object MulticurrencyReval {
    def compute(facts: DataFrame, currencyCol: Column, balance: Column,
                amountCurrency: Column, asOfRates: Seq[(Long, Double)],
                excludedKeys: DataFrame, keyCol: String): DataFrame = {
      val spark = facts.sparkSession
      import spark.implicits._
      val rates = asOfRates.toDF("cur", "rate")
      facts
        .join(excludedKeys, Seq(keyCol), "left_anti")
        .withColumn("__cur", currencyCol)
        .join(broadcast(rates), col("__cur") === col("cur"))
        .groupBy(col("__cur").as("currency"))
        .agg(
          round(sum(balance), 2).as("balance"),
          round(sum(amountCurrency), 2).as("amount_currency"),
          round(sum(amountCurrency / col("rate")) - sum(balance), 2).as("adjustment"))
    }
  }

  /** Aged-balance bucketing (SURVEY §2.3 J6 / §2.6 W6,
    * account_aged_partner_balance.py:82-89): the interval VALUES table
    * folded into a codegen'd when-chain. `bounds` are inclusive upper edges
    * in days; anything above the last bound lands in the final bucket. */
  /** Bank reconciliation report (reference
    * account_bank_reconciliation_report.py:16-110 `_dynamic_lines_generator`
    * + :274/:441 statement/payment sections): the book balance of the
    * journal's bank account, then the not-yet-reconciled statement lines
    * and outstanding payments split into plus/less sections, and the
    * unexplained difference between the book balance and the last
    * statement's running balance (= the reconciled statement sum here,
    * zero opening). Scale: both inputs union into ONE conditional
    * aggregation (no per-section rescans, no driver round trip), which
    * explodes into the 6-line report. */
  object Reconciliation {
    /** `statements`: (`amount`, `reconciled` bool). `payments`:
      * (`amount`, `outstanding` bool). Returns
      * (ord, section, n_lines, amount). */
    def compute(statements: DataFrame, payments: DataFrame): DataFrame = {
      def r2(x: Column): Column = floor(x * 100 + 0.5) / 100
      val (st, flag, amount) = (col("st"), col("flag"), col("amount"))
      // `flag` is `reconciled` on statement rows, `outstanding` on payments
      val both = statements.select(lit(true).as("st"), amount, col("reconciled").as("flag"))
        .unionByName(payments.select(lit(false).as("st"), amount, col("outstanding").as("flag")))
      def n(c: Column): Column = count(when(c, 1))
      // coalesce: a sum over no rows is NULL; the report emits zeroed lines
      def sumIf(c: Column): Column =
        coalesce(sum(when(c, amount).otherwise(lit(0.0))), lit(0.0))
      val sections = Seq(st && !flag && amount > 0, st && !flag && amount < 0,
        !st && flag && amount > 0, !st && flag && amount < 0)
      val totals = both.agg(n(st).as("n"), Seq(
        coalesce(sum(when(st, amount)), lit(0.0)).as("gl"),
        sumIf(st && flag).as("rec")) ++
        sections.zipWithIndex.flatMap { case (c, i) =>
          Seq(n(c).as(s"n$i"), sumIf(c).as(s"s$i")) }: _*)
      def line(ord: Long, section: String, lines: Column, value: Column): Column =
        struct(lit(ord).as("ord"), lit(section).as("section"), lines.as("n_lines"),
          r2(value).as("amount"))
      totals.select(explode(array(
        line(1L, "balance_gl", col("n"), col("gl")),
        line(2L, "plus_unreconciled_statements", col("n0"), col("s0")),
        line(3L, "less_unreconciled_statements", col("n1"), col("s1")),
        line(4L, "plus_outstanding_payments", col("n2"), col("s2")),
        line(5L, "less_outstanding_payments", col("n3"), col("s3")),
        line(6L, "unexplained_difference", lit(0L), col("gl") - col("rec")))).as("line"))
        .select("line.*")
    }
  }

  object AgedBalance {
    def bucketCol(asOf: Column, due: Column, bounds: Seq[Int]): Column = {
      val age = datediff(asOf, due)
      val named = bounds.zipWithIndex.map { case (b, i) => (b, s"b${i}_le_$b") }
      named.foldRight(lit(s"b${bounds.size}_gt_${bounds.last}"): Column) {
        case ((bound, name), rest) => when(age <= bound, name).otherwise(rest)
      }
    }

    /** Pivot amounts into one column per bucket (A4). */
    def pivotBuckets(df: DataFrame, keys: Seq[Column], bucket: Column,
                     amount: Column, bounds: Seq[Int]): DataFrame = {
      val names = bounds.zipWithIndex.map { case (b, i) => s"b${i}_le_$b" } :+
        s"b${bounds.size}_gt_${bounds.last}"
      val aggs = names.map(n =>
        round(sum(when(bucket === n, amount).otherwise(lit(0.0))), 2).as(n))
      df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    }
  }
}
