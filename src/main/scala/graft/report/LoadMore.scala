package graft.report

import org.apache.spark.sql.{Column, DataFrame, Row}

/** Load-more pagination of an unfolded report line's detail rows
  * (reference account_general_ledger.py:661-720
  * `_report_expand_unfoldable_line_general_ledger` +
  * account_report.py:3867-3931): each page fetches `limit + 1` rows at
  * `offset` under a deterministic ORDER BY — the one extra row answers
  * `has_more` without a COUNT — and threads a running-balance PROGRESS
  * so every page's balance column continues where the previous page
  * stopped. The next page resumes at `offset + emitted` with the last
  * emitted balance as its progress.
  *
  * Scale: one page is a sort-limited scan of ONE group's detail (Spark
  * plans orderBy + offset + limit as a take-ordered, never a full
  * materialization), and the progress threading keeps every page
  * O(limit) regardless of how deep the user scrolls.
  */
object LoadMore {

  /** `rows` are the page's detail rows paired with their threaded
    * running balance; `progress` is the balance to seed the NEXT page;
    * `nextOffset` its offset. */
  final case class Page(rows: Seq[(Row, Double)], hasMore: Boolean,
                        progress: Double, nextOffset: Int)

  /** One load-more page over `detail` (a single unfolded line's rows),
    * ordered by `order`, accumulating `amount` onto `progress`. */
  def page(detail: DataFrame, order: Seq[Column], amount: Column,
           offset: Int, limit: Int, progress: Double): Page = {
    val fetched = detail
      .withColumn("__amt", amount)
      .orderBy(order: _*)
      .offset(offset).limit(limit + 1)
      .collect().toSeq
    val hasMore = fetched.length > limit
    var bal = progress
    val rows = fetched.take(limit).map { r =>
      bal += r.getDouble(r.fieldIndex("__amt"))
      (r, bal)
    }
    Page(rows, hasMore, bal, offset + rows.length)
  }
}
