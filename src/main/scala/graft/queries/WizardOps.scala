package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables

/** Round-4 wizard-register gates — the composed twins the round-3 verdict
  * listed as missing: document summary (q127), serial-numbers register
  * (q128), bank-statement CSV import (q129), stock reconciliation register
  * (q130), auditlog relational value rendering (q131). Fixture mapping
  * follows the house convention: orders/lineitem stand in for the
  * journal/stock-move fact, part/customer for the dims, with deterministic
  * modulo-derived wizard attributes. */
object WizardOps {

  /** q127 — document-summary register
    * (etl_account/wizard/document_summary.py:37-200 via
    * [[graft.registers.DocumentSummary]]): six domain-defined document
    * natures over the 1995 journal of one branch; per section the serial
    * range in (date, name) order, total / cancelled / net counts, with the
    * reference's Debit-Note column swap preserved. */
  def q127(s: SparkSession, d: String): DataFrame = {
    import graft.registers.DocumentSummary, DocumentSummary.Section
    val mv = Tables.orders(s, d)
      .filter(col("o_orderdate").between(
        to_date(lit("1995-01-01")), to_date(lit("1995-12-31"))) &&
        col("o_custkey") % 4 === 1)
      .select(
        concat(lit("INV/"),
          lpad(col("o_orderkey").cast("string"), 12, "0")).as("nm"),
        col("o_orderdate").as("dt"),
        (col("o_orderstatus") === "P").as("cancelled"),
        when(col("o_orderkey") % 4 === 1, "in_refund")
          .when(col("o_orderkey") % 4 === 2, "out_refund")
          .otherwise("out_invoice").as("mt"),
        when(col("o_orderpriority") === "1-URGENT", "export")
          .when(col("o_orderpriority") === "2-HIGH", "rt_sales")
          .when(col("o_orderpriority") === "3-MEDIUM", "stock")
          .otherwise("normal").as("st"))
    val sections = Seq(
      Section(1L, "Outward Supply", col("mt") === "out_invoice" &&
        !col("st").isin("export", "rt_sales", "stock")),
      Section(2L, "Outward Supply Retreading",
        col("mt") === "out_invoice" && col("st") === "rt_sales"),
      Section(3L, "Outward Supply - Export",
        col("mt") === "out_invoice" && col("st") === "export"),
      Section(4L, "Outward Supply - Stock Transfer",
        col("mt") === "out_invoice" && col("st") === "stock"),
      Section(5L, "Debit Note", col("mt") === "in_refund",
        netInTotalCol = true),
      Section(6L, "Credit Note", col("mt") === "out_refund"))
    DocumentSummary.compute(mv, col("nm"), col("dt"), col("cancelled"),
      sections)
  }

  val q127Sql: String =
    """WITH mv AS (
      |  SELECT 'INV/' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS nm,
      |         strftime(o_orderdate, '%Y-%m-%d') AS dt,
      |         (o_orderstatus = 'P') AS cancelled,
      |         CASE WHEN o_orderkey % 4 = 1 THEN 'in_refund'
      |              WHEN o_orderkey % 4 = 2 THEN 'out_refund'
      |              ELSE 'out_invoice' END AS mt,
      |         CASE WHEN o_orderpriority = '1-URGENT' THEN 'export'
      |              WHEN o_orderpriority = '2-HIGH' THEN 'rt_sales'
      |              WHEN o_orderpriority = '3-MEDIUM' THEN 'stock'
      |              ELSE 'normal' END AS st
      |  FROM orders
      |  WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'
      |    AND o_custkey % 4 = 1),
      |tagged AS (
      |  SELECT CASE
      |    WHEN mt = 'out_invoice' AND st NOT IN ('export','rt_sales','stock') THEN 1
      |    WHEN mt = 'out_invoice' AND st = 'rt_sales' THEN 2
      |    WHEN mt = 'out_invoice' AND st = 'export' THEN 3
      |    WHEN mt = 'out_invoice' AND st = 'stock' THEN 4
      |    WHEN mt = 'in_refund' THEN 5
      |    WHEN mt = 'out_refund' THEN 6 END AS ord,
      |    dt || '|' || nm AS k, cancelled
      |  FROM mv),
      |agg AS (
      |  SELECT ord, min(k) AS kf, max(k) AS kt, count(*) AS total,
      |         sum(CASE WHEN cancelled THEN 1 ELSE 0 END) AS canc
      |  FROM tagged WHERE ord IS NOT NULL GROUP BY ord),
      |dim AS (SELECT * FROM (VALUES
      |  (1, 'Outward Supply', FALSE),
      |  (2, 'Outward Supply Retreading', FALSE),
      |  (3, 'Outward Supply - Export', FALSE),
      |  (4, 'Outward Supply - Stock Transfer', FALSE),
      |  (5, 'Debit Note', TRUE),
      |  (6, 'Credit Note', FALSE)) AS t(ord, nature, swap))
      |SELECT CAST(d.ord AS BIGINT) AS ord, d.nature,
      |  split_part(kf, '|', 2) AS serial_from,
      |  split_part(kt, '|', 2) AS serial_to,
      |  CAST(coalesce(CASE WHEN d.swap THEN total - canc ELSE total END, 0) AS BIGINT) AS total_no,
      |  CAST(coalesce(canc, 0) AS BIGINT) AS cancelled_no,
      |  CAST(coalesce(CASE WHEN d.swap THEN total ELSE total - canc END, 0) AS BIGINT) AS net_issued
      |FROM dim d LEFT JOIN agg a ON d.ord = a.ord
      |ORDER BY ord""".stripMargin

  /** q128 — serial-numbers register (etl_stock/wizard/serial_report.py:47-
    * 120 via [[graft.registers.StockRegisters.serialRegister]]): as-of
    * on-hand qty per (location, product, serial) for the wizard's category
    * selection, zero-qty serials dropped, sheet ordering. */
  def q128(s: SparkSession, d: String): DataFrame = {
    val moves = Tables.lineitem(s, d).select(
      concat(lit("LOC-"), (col("l_suppkey") % 3).cast("string")).as("location"),
      col("l_partkey").as("product_key"),
      concat(lit("SN-"),
        lpad((col("l_orderkey") % 5000).cast("string"), 6, "0")).as("serial"),
      when(col("l_returnflag") === "R", -col("l_quantity"))
        .otherwise(col("l_quantity")).as("qty"),
      col("l_shipdate").as("mv_date"))
    val products = Tables.part(s, d)
      .filter(col("p_brand").isin("Brand#11", "Brand#22", "Brand#33"))
      .select(col("p_partkey").as("product_key"),
        concat(lit("P"), col("p_partkey")).as("product_code"),
        col("p_name").as("product_name"), col("p_brand").as("category"))
    graft.registers.StockRegisters.serialRegister(
      moves, products, to_date(lit("1996-12-31")))
  }

  val q128Sql: String =
    """WITH mv AS (
      |  SELECT 'LOC-' || CAST(l_suppkey % 3 AS VARCHAR) AS location,
      |         l_partkey AS product_key,
      |         'SN-' || lpad(CAST(l_orderkey % 5000 AS VARCHAR), 6, '0') AS serial,
      |         CAST(floor((CASE WHEN l_returnflag = 'R' THEN -l_quantity
      |                          ELSE l_quantity END) * 1000 + 0.5) AS BIGINT) AS qty_m
      |  FROM lineitem WHERE l_shipdate <= DATE '1996-12-31'),
      |a AS (
      |  SELECT location, product_key, serial, CAST(sum(qty_m) AS BIGINT) AS qm
      |  FROM mv GROUP BY 1, 2, 3 HAVING sum(qty_m) <> 0)
      |SELECT location, product_key,
      |       'P' || CAST(p_partkey AS VARCHAR) AS product_code,
      |       p_name AS product_name, p_brand AS category, serial,
      |       CAST(qm AS DOUBLE) / 1000.0 AS qty
      |FROM a JOIN part ON product_key = p_partkey
      |WHERE p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
      |ORDER BY location, product_name, product_key, serial""".stripMargin

  /** q129 — bank-statement CSV import
    * (etl_account/wizard/statement_import.py via
    * [[graft.sources.StatementImport]]): the 4-part statement file (balance
    * header row, balances+narration, line header row, dd-MM-yyyy lines with
    * thousands-separator amounts) is written from the orders dim-slice,
    * ingested with the chained-balance validation, and the normalized line
    * table is emitted with the header balances alongside. The oracle
    * recomputes the normalization straight from `orders`. */
  def q129(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.fresh("gate_stmt")
    val rows = Tables.orders(s, d).filter(col("o_custkey") % 1000 === 7)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "dd-MM-yyyy").as("dt"),
        col("o_totalprice"))
      .orderBy("o_orderkey").collect() // dim-slice: ~15 rows per sf0.01
    val f = new java.io.File(dir, "statement.csv")
    val pw = new java.io.PrintWriter(f)
    try {
      pw.println("starting_balance,ending_balance,narration")
      pw.println("1000.00,2000.00,JULY STATEMENT")
      pw.println("Date,Label,Amount")
      rows.foreach { r =>
        val amt = String.format(java.util.Locale.US, "%,.2f",
          Double.box(r.getDouble(2)))
        pw.println(s"""${r.getString(1)},PAY/${r.getLong(0)},"$amt"""")
      }
    } finally pw.close()
    val st = graft.sources.StatementImport.read(s, f.getPath,
      previousEnding = Some(1000.0))
    st.lines
      .withColumnRenamed("date", "stmt_date")
      .withColumn("balance_start", lit(st.balanceStart))
      .withColumn("balance_end", lit(st.balanceEnd))
      .withColumn("narration", lit(st.narration))
      .orderBy("payment_ref")
  }

  val q129Sql: String =
    """SELECT strftime(o_orderdate, '%Y-%m-%d') AS stmt_date,
      |       'PAY/' || CAST(o_orderkey AS VARCHAR) AS payment_ref,
      |       floor(o_totalprice * 100 + 0.5) / 100 AS amount,
      |       CAST(1000.00 AS DOUBLE) AS balance_start,
      |       CAST(2000.00 AS DOUBLE) AS balance_end,
      |       'JULY STATEMENT' AS narration
      |FROM orders WHERE o_custkey % 1000 = 7
      |ORDER BY payment_ref""".stripMargin

  /** q130 — stock reconciliation register
    * (etl_stock/wizard/reconcile_report.py:38-135 via
    * [[graft.registers.StockRegisters.reconcileRegister]]): per product,
    * opening balance before 1995, receipts/issues within 1995 (issues as
    * absolute values), closing = ob + in − out, value columns and
    * unit_price = balance/closing, all-zero products dropped. */
  def q130(s: SparkSession, d: String): DataFrame = {
    val moves = Tables.lineitem(s, d).select(
      col("l_partkey").as("product_key"),
      when(col("l_returnflag") === "R", -col("l_quantity"))
        .otherwise(col("l_quantity")).as("qty"),
      when(col("l_returnflag") === "R", -col("l_extendedprice"))
        .otherwise(col("l_extendedprice")).as("value"),
      col("l_shipdate").as("mv_date"))
    val products = Tables.part(s, d)
      .filter(col("p_type").isin("STANDARD", "ECONOMY"))
      .select(col("p_partkey").as("product_key"),
        concat(lit("P"), col("p_partkey")).as("product_code"),
        col("p_name").as("product_name"), col("p_type").as("category"))
    graft.registers.StockRegisters.reconcileRegister(moves, products,
      to_date(lit("1995-01-01")), to_date(lit("1995-12-31")))
  }

  val q130Sql: String =
    """WITH mv AS (
      |  SELECT l_partkey AS product_key, l_shipdate AS mv_date,
      |    CAST(floor((CASE WHEN l_returnflag = 'R' THEN -l_quantity
      |                     ELSE l_quantity END) * 1000 + 0.5) AS BIGINT) AS qty_m,
      |    CAST(floor((CASE WHEN l_returnflag = 'R' THEN -l_extendedprice
      |                     ELSE l_extendedprice END) * 100 + 0.5) AS BIGINT) AS val_c
      |  FROM lineitem WHERE l_shipdate <= DATE '1995-12-31'),
      |a AS (
      |  SELECT product_key,
      |    CAST(sum(CASE WHEN mv_date < DATE '1995-01-01' THEN qty_m ELSE 0 END) AS BIGINT) AS ob_m,
      |    CAST(sum(CASE WHEN mv_date >= DATE '1995-01-01' AND qty_m > 0 THEN qty_m ELSE 0 END) AS BIGINT) AS in_m,
      |    CAST(abs(sum(CASE WHEN mv_date >= DATE '1995-01-01' AND qty_m < 0 THEN qty_m ELSE 0 END)) AS BIGINT) AS out_m,
      |    CAST(sum(CASE WHEN mv_date >= DATE '1995-01-01' AND qty_m > 0 THEN val_c ELSE 0 END) AS BIGINT) AS in_c,
      |    CAST(abs(sum(CASE WHEN mv_date >= DATE '1995-01-01' AND qty_m < 0 THEN val_c ELSE 0 END)) AS BIGINT) AS out_c,
      |    CAST(sum(val_c) AS BIGINT) AS bal_c
      |  FROM mv GROUP BY 1),
      |b AS (
      |  SELECT *, ob_m + in_m - out_m AS cb_m FROM a
      |  WHERE NOT (ob_m = 0 AND in_m = 0 AND out_m = 0
      |             AND ob_m + in_m - out_m = 0 AND bal_c = 0))
      |SELECT product_key, 'P' || CAST(p_partkey AS VARCHAR) AS product_code,
      |  p_name AS product_name, p_type AS category,
      |  floor(CAST(ob_m AS DOUBLE) / 1000.0 * 100 + 0.5) / 100 AS ob,
      |  floor(CAST(in_m AS DOUBLE) / 1000.0 * 100 + 0.5) / 100 AS in_qty,
      |  floor(CAST(out_m AS DOUBLE) / 1000.0 * 100 + 0.5) / 100 AS out_qty,
      |  floor(CAST(cb_m AS DOUBLE) / 1000.0 * 100 + 0.5) / 100 AS cb,
      |  floor((CASE WHEN cb_m <> 0
      |              THEN (CAST(bal_c AS DOUBLE) / 100.0) / (CAST(cb_m AS DOUBLE) / 1000.0)
      |              ELSE 0.0 END) * 100 + 0.5) / 100 AS unit_price,
      |  CAST(in_c AS DOUBLE) / 100.0 AS in_amount,
      |  CAST(out_c AS DOUBLE) / 100.0 AS out_amount,
      |  CAST(bal_c AS DOUBLE) / 100.0 AS balance_amount
      |FROM b JOIN part ON product_key = p_partkey
      |WHERE p_type IN ('STANDARD', 'ECONOMY')
      |ORDER BY category, product_name, product_key""".stripMargin

  /** q131 — auditlog relational value rendering
    * (auditlog/models/rule.py:626-659 via [[graft.cdc.AuditRender]]):
    * *2many old/new id arrays rendered as "(id,display_name)" pair lists in
    * stored order, unresolvable ids as "(id,DELETED)" — one broadcast
    * left join per side instead of the reference's per-record browse(). */
  def q131(s: SparkSession, d: String): DataFrame = {
    val log = Tables.orders(s, d).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("log_id"), lit("tag_ids").as("field"),
        array(col("o_custkey"), col("o_custkey") * 2).as("old_value"),
        array(col("o_custkey") + 1, lit(9999999L)).as("new_value"))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("id"), col("c_name").as("display_name"))
    graft.cdc.AuditRender.renderPairs(log, dim).orderBy("log_id")
  }

  val q131Sql: String =
    """WITH log AS (
      |  SELECT o_orderkey AS log_id, 'tag_ids' AS field,
      |         [o_custkey, o_custkey * 2] AS old_value,
      |         [o_custkey + 1, CAST(9999999 AS BIGINT)] AS new_value
      |  FROM orders WHERE o_orderkey % 97 = 0),
      |eo AS (SELECT log_id, field, old_value,
      |         unnest(range(1, len(old_value) + 1)) AS pos FROM log),
      |eo2 AS (SELECT log_id, field, pos, old_value[pos] AS id FROM eo),
      |ro AS (SELECT e.log_id, e.field,
      |         string_agg('(' || CAST(id AS VARCHAR) || ',' ||
      |                    coalesce(c_name, 'DELETED') || ')', '; '
      |                    ORDER BY pos) AS old_value_text
      |       FROM eo2 e LEFT JOIN customer ON id = c_custkey
      |       GROUP BY 1, 2),
      |en AS (SELECT log_id, field, new_value,
      |         unnest(range(1, len(new_value) + 1)) AS pos FROM log),
      |en2 AS (SELECT log_id, field, pos, new_value[pos] AS id FROM en),
      |rn AS (SELECT e.log_id, e.field,
      |         string_agg('(' || CAST(id AS VARCHAR) || ',' ||
      |                    coalesce(c_name, 'DELETED') || ')', '; '
      |                    ORDER BY pos) AS new_value_text
      |       FROM en2 e LEFT JOIN customer ON id = c_custkey
      |       GROUP BY 1, 2)
      |SELECT r1.log_id, r1.field, old_value_text, new_value_text
      |FROM ro r1 JOIN rn r2 ON r1.log_id = r2.log_id AND r1.field = r2.field
      |ORDER BY r1.log_id""".stripMargin

  /** q133 — document resequencing (etl_account/wizard/
    * account_resequence.py via [[graft.operators.Resequence]]): each
    * priority-journal's order numbers are redistributed over its documents
    * in (date, name) order; numbers are conserved per journal. */
  def q133(s: SparkSession, d: String): DataFrame = {
    val mv = Tables.orders(s, d)
      .filter(col("o_orderdate").between(
        to_date(lit("1995-01-01")), to_date(lit("1995-03-31"))))
      .select(col("o_orderpriority").as("journal"),
        concat(lit("INV/"),
          lpad(col("o_orderkey").cast("string"), 12, "0")).as("name"),
        col("o_orderkey").as("seq"), col("o_orderdate").as("dt"))
    graft.operators.Resequence.byDate(mv)
      .select(col("journal"), col("old_name"),
        date_format(col("dt"), "yyyy-MM-dd").as("dt"),
        concat(lit("INV/"),
          lpad(col("new_seq").cast("string"), 12, "0")).as("new_name"))
      .orderBy(col("journal"), col("old_name"))
  }

  val q133Sql: String =
    """WITH mv AS (
      |  SELECT o_orderpriority AS j,
      |         'INV/' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS nm,
      |         o_orderkey AS sq, o_orderdate AS dt
      |  FROM orders
      |  WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'),
      |bn AS (SELECT j, sq AS new_seq,
      |         row_number() OVER (PARTITION BY j ORDER BY sq) AS rk FROM mv),
      |bd AS (SELECT j, nm, dt,
      |         row_number() OVER (PARTITION BY j ORDER BY dt, nm) AS rk FROM mv)
      |SELECT bd.j AS journal, bd.nm AS old_name,
      |  strftime(bd.dt, '%Y-%m-%d') AS dt,
      |  'INV/' || lpad(CAST(bn.new_seq AS VARCHAR), 12, '0') AS new_name
      |FROM bd JOIN bn ON bd.j = bn.j AND bd.rk = bn.rk
      |ORDER BY journal, old_name""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q133_resequence", q133, q133Sql), Gate("q127_document_summary", q127, q127Sql),
    Gate("q128_serial_register", q128, q128Sql), Gate("q129_statement_import", q129, q129Sql),
    Gate("q130_stock_reconcile", q130, q130Sql), Gate("q131_audit_value_pairs", q131, q131Sql))
}
