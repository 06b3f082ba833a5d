package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.report.LoadMore

/** The general ledger's load-more pagination, transcribed from the
  * REFERENCE'S OWN test (account_reports/tests/
  * test_general_ledger_report.py:311-362 `test_general_ledger_load_more`
  * with `load_more_limit = 2`): unfolding 400000 Product Sales pages its
  * five 2017 move lines as 2 + 2 + 1, the balance column threading
  * 2000 → 5000 │ 9000 → 14000 │ 20000 through the load-more progress,
  * and only the first two pages carry a 'Load more…' row.
  */
class GoldenLoadMoreSpec extends AnyFunSuite with SparkSpec {

  test("unfolded 400000 pages 2+2+1 with the balance threaded (reference :311-362)") {
    val s = spark; import s.implicits._
    // the account's move lines from the shared fixture
    // (test_general_ledger_report.py:43-60 move_2017_1)
    val detail = Seq(
      ("INV/2017/00001", "2017-01-01", 1L, 2000.0),
      ("INV/2017/00001", "2017-01-01", 2L, 3000.0),
      ("INV/2017/00001", "2017-01-01", 3L, 4000.0),
      ("INV/2017/00001", "2017-01-01", 4L, 5000.0),
      ("INV/2017/00001", "2017-01-01", 5L, 6000.0))
      .toDF("move", "d", "line_id", "debit")
    val order = Seq(col("d"), col("line_id"))

    // first expansion: offset 0, progress 0 (no initial balance — the
    // P&L history collapsed into 999999, reference :327-338)
    val p1 = LoadMore.page(detail, order, col("debit"), 0, 2, 0.0)
    assert(p1.rows.map(r => (r._1.getString(0), r._1.getDouble(3), r._2)) == Seq(
      ("INV/2017/00001", 2000.0, 2000.0), ("INV/2017/00001", 3000.0, 5000.0)))
    assert(p1.hasMore && p1.nextOffset == 2 && p1.progress == 5000.0)

    // first load-more (:340-351): resumes at the threaded progress
    val p2 = LoadMore.page(detail, order, col("debit"), p1.nextOffset, 2, p1.progress)
    assert(p2.rows.map(r => (r._1.getDouble(3), r._2)) == Seq(
      (4000.0, 9000.0), (5000.0, 14000.0)))
    assert(p2.hasMore && p2.nextOffset == 4 && p2.progress == 14000.0)

    // second load-more (:353-362): the last line, no further page
    val p3 = LoadMore.page(detail, order, col("debit"), p2.nextOffset, 2, p2.progress)
    assert(p3.rows.map(r => (r._1.getDouble(3), r._2)) == Seq((6000.0, 20000.0)))
    assert(!p3.hasMore && p3.nextOffset == 5 && p3.progress == 20000.0)

    // the account total the pages must converge to (reference :332)
    assert(p3.progress == 20000.0)
  }

  test("a page exactly at the boundary reports no more (the +1 probe row)") {
    val s = spark; import s.implicits._
    val detail = Seq((1L, 10.0), (2L, 20.0)).toDF("line_id", "debit")
    val p = LoadMore.page(detail, Seq(col("line_id")), col("debit"), 0, 2, 0.0)
    assert(p.rows.map(_._2) == Seq(10.0, 30.0))
    assert(!p.hasMore && p.nextOffset == 2)
  }
}
