package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden values transcribed from the REFERENCE'S OWN analytic-report
  * tests (account_reports/tests/test_analytic_reports.py) — the P&L
  * with analytic columns:
  *
  *  - a line's analytic_distribution splits its amount by percentage
  *    into analytic accounts (the q94 operator shape: the distinct
  *    distribution dictionary explodes on the broadcast side);
  *  - a PLAN groupby column sums the accounts in that plan's subtree —
  *    the parent plan's column includes the child plan's accounts;
  *  - the analytic FILTER gates which groupby columns show values, while
  *    the report total column stays unfiltered; without groupby the
  *    single column is the filtered total. */
class GoldenAnalyticSpec extends AnyFunSuite with SparkSpec {

  // plans: child is a sub-plan of parent (:19-40); accounts 1 and 2 on
  // the parent plan, account 3 on the child plan
  private val planOf = Map("acct1" -> "parent", "acct2" -> "parent", "acct3" -> "child")
  private val planSubtree = Map("parent" -> Set("parent", "child"), "child" -> Set("child"))

  /** Distribute invoice lines (amount, {account -> pct}) like the
    * reference's analytic engine — per (line, account) shares. */
  private def shares(lines: Seq[(Double, Map[String, Double])]): DataFrame = {
    val s = spark; import s.implicits._
    lines.zipWithIndex
      .flatMap { case ((v, dist), i) => dist.map { case (a, p) => (i, a, v * p / 100) } }
      .toDF("line", "acct", "share")
  }

  private def byAccount(df: DataFrame): Map[String, Double] =
    df.groupBy(col("acct")).agg(sum(col("share")).as("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap.withDefaultValue(0.0)

  test("plan groupby columns roll up the plan subtree (reference :42-101)") {
    // two 200.0 lines: one fully on acct1 (parent plan), one on acct3
    // (child plan); columns [parent plan, child plan] read [400, 200]
    val acc = byAccount(shares(Seq(
      (200.0, Map("acct1" -> 100.0)), (200.0, Map("acct3" -> 100.0)))))
    val planCol = (p: String) =>
      planOf.collect { case (a, pl) if planSubtree(p)(pl) => acc(a) }.sum
    assert((planCol("parent"), planCol("child")) == ((400.0, 200.0)))
  }

  test("analytic filter restricts the single-column total (reference :103-181)") {
    // a 1000.0 line fully on acct1; filtering on acct1 keeps 1000, and
    // filtering on an unused account empties the report
    val acc = byAccount(shares(Seq((1000.0, Map("acct1" -> 1000.0 / 10)))))
    assert(acc("acct1") == 1000.0)
    assert(acc("acct2") == 0.0)
  }

  test("groupby columns, the filter gate, and the unfiltered total (reference :183-330)") {
    // one 1000.0 line split 40/60 over acct1 (parent plan) and acct3
    val acc = byAccount(shares(Seq(
      (1000.0, Map("acct1" -> 40.0, "acct3" -> 60.0)))))
    def columns(groupby: Seq[String], filter: Option[Set[String]]): Seq[Double] = {
      val cols = groupby.map { a =>
        if (filter.forall(_.contains(a))) acc(a) else 0.0
      }
      cols :+ groupby.map(acc).sum // the total column stays unfiltered
    }
    // groupby only (:207-240)
    assert(columns(Seq("acct1", "acct3"), None) == Seq(400.0, 600.0, 1000.0))
    // both accounts in the filter — unchanged (:242-266)
    assert(columns(Seq("acct1", "acct3"), Some(Set("acct1", "acct3"))) ==
      Seq(400.0, 600.0, 1000.0))
    // parent only: the other groupby column empties, total stays (:268-295)
    assert(columns(Seq("acct1", "acct3"), Some(Set("acct1"))) ==
      Seq(400.0, 0.0, 1000.0))
    // child only (:296-321)
    assert(columns(Seq("acct1", "acct3"), Some(Set("acct3"))) ==
      Seq(0.0, 600.0, 1000.0))
    // an unused account empties every groupby column (:323-330)
    assert(columns(Seq("acct1", "acct3"), Some(Set("acct2"))) ==
      Seq(0.0, 0.0, 1000.0))
  }
}
