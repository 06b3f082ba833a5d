package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables

/** SURVEY §2 operators q16–q30: in/out ledgers (A11), multi-period column
  * groups (A14/A17), growth (W5), rollup (A15/A16), windows (W1–W4),
  * sort/limit/pagination (O1/O4/O5), set ops (§2.8), scalar functions (§2.9),
  * JSON map access (P6), search filter (P5). */
object RelationalB {

  /** A11 — in-minus-out net quantity: two grouped sums joined full-outer,
    * coalesce(in,0)-coalesce(out,0) (serial.py:401-438,
    * stock_ageing.py:180-216). Scale: both aggs shrink before the join;
    * full-outer hash join on the (already shuffled) group key. */
  def q16(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val in = ev.filter(col("event_type").isin("purchase", "signup"))
      .groupBy(col("user_id").as("u_in")).agg(sum(col("value")).as("v_in"))
    val out = ev.filter(col("event_type").isin("error", "click"))
      .groupBy(col("user_id").as("u_out")).agg(sum(col("value")).as("v_out"))
    in.join(out, col("u_in") === col("u_out"), "full_outer")
      .select(coalesce(col("u_in"), col("u_out")).as("user_id"),
        round(coalesce(col("v_in"), lit(0.0)) - coalesce(col("v_out"), lit(0.0)), 2).as("net_value"))
      .orderBy(col("user_id"))
  }

  val q16Sql: String =
    """WITH i AS (SELECT user_id AS u_in, sum(value) AS v_in FROM events
      |           WHERE event_type IN ('purchase','signup') GROUP BY user_id),
      |o AS (SELECT user_id AS u_out, sum(value) AS v_out FROM events
      |      WHERE event_type IN ('error','click') GROUP BY user_id)
      |SELECT coalesce(u_in, u_out) AS user_id,
      |  round(coalesce(v_in, 0) - coalesce(v_out, 0), 2) AS net_value
      |FROM i FULL OUTER JOIN o ON u_in = u_out
      |ORDER BY user_id""".stripMargin

  /** A14/A17 — multi-period column groups evaluated in ONE scan as
    * conditional aggregates instead of the reference's per-group UNION ALL
    * (account_general_ledger.py:223-290, account_report.py:2127-2144).
    * Scale: N comparison periods cost one fact scan, not N. */
  def q17(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val y = year(col("o_orderdate"))
    o.groupBy(col("o_orderpriority"))
      .agg(
        round(sum(when(y === 1995, col("o_totalprice")).otherwise(0.0)), 2).as("p1995"),
        round(sum(when(y === 1996, col("o_totalprice")).otherwise(0.0)), 2).as("p1996"),
        round(sum(when(y === 1997, col("o_totalprice")).otherwise(0.0)), 2).as("p1997"))
      .orderBy(col("o_orderpriority"))
  }

  val q17Sql: String =
    """SELECT o_orderpriority,
      |  round(sum(CASE WHEN year(o_orderdate) = 1995 THEN o_totalprice ELSE 0 END), 2) AS p1995,
      |  round(sum(CASE WHEN year(o_orderdate) = 1996 THEN o_totalprice ELSE 0 END), 2) AS p1996,
      |  round(sum(CASE WHEN year(o_orderdate) = 1997 THEN o_totalprice ELSE 0 END), 2) AS p1997
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** W5 — growth/variance column between two period columns
    * ((a-b)/b, zero-divide → NULL, account_report.py:4445-4483). Built on
    * q17's single-scan pivot; the division runs on identical rounded inputs
    * on both sides, so fr() keeps it bit-identical. */
  def q18(s: SparkSession, d: String): DataFrame = {
    val base = q17(s, d)
    base.select(col("o_orderpriority"), col("p1995"), col("p1996"),
      when(col("p1995") === 0.0, lit(null).cast("double"))
        .otherwise(Parity.fr((col("p1996") - col("p1995")) / col("p1995"), 4)).as("growth"))
      .orderBy(col("o_orderpriority"))
  }

  val q18Sql: String =
    """WITH base AS (
      |  SELECT o_orderpriority,
      |    round(sum(CASE WHEN year(o_orderdate) = 1995 THEN o_totalprice ELSE 0 END), 2) AS p1995,
      |    round(sum(CASE WHEN year(o_orderdate) = 1996 THEN o_totalprice ELSE 0 END), 2) AS p1996
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, p1995, p1996,
      |  CASE WHEN p1995 = 0.0 THEN NULL
      |       ELSE floor((p1996 - p1995) / p1995 * 10000 + 0.5) / 10000 END AS growth
      |FROM base ORDER BY o_orderpriority""".stripMargin

  /** A15/A16 — grouping-sets/hierarchy rollup: region→nation→(all) subtotals
    * in one pass (multi-level groupby chain, account_report.py:4786-4921;
    * hierarchy totals :845-994). Rollup nulls coalesced to a sentinel so the
    * compare is null-proof. */
  def q19(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("bal"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("n_cust"), col("bal"))
      .orderBy(col("region"), col("nation"))
  }

  val q19Sql: String =
    """SELECT coalesce(r_name, '(all)') AS region,
      |  coalesce(n_name, '(all)') AS nation,
      |  count(*) AS n_cust, round(sum(c_acctbal), 2) AS bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  /** W1/W2 — running balance per partition ordered by (date, id)
    * (cumulate_balance, account_journal_report.py:109-237). Scale: window
    * shuffles once on custkey; within-partition sort is the standard
    * running-ledger plan. */
  def q20(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
      round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
      .orderBy(col("o_custkey"), col("order_date"), col("o_orderkey"))
  }

  val q20Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
      |  round(sum(o_totalprice) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM orders
      |ORDER BY o_custkey, order_date, o_orderkey""".stripMargin

  /** W3 — most_recent value per key: row_number over desc (date, id)
    * (account_report.py:2907-2912). */
  def q21(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_type"),
        round(col("value"), 2).as("last_value"))
      .orderBy(col("user_id"))
  }

  val q21Sql: String =
    """SELECT user_id, last_type, last_value FROM (
      |  SELECT user_id, event_type AS last_type, round(value, 2) AS last_value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** W4 — first row per (key, month) — DISTINCT ON analog
    * (account_journal_report.py:728-756). */
  def q22(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val month = date_format(col("o_orderdate"), "yyyy-MM")
    val w = Window.partitionBy(col("o_custkey"), month)
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    o.withColumn("om", month).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("om"))
      .agg(count(lit(1)).as("n_first"), round(sum(col("o_totalprice")), 2).as("amount"))
      .orderBy(col("om"))
  }

  val q22Sql: String =
    """WITH firsts AS (
      |  SELECT strftime(o_orderdate, '%Y-%m') AS om, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey, strftime(o_orderdate, '%Y-%m')
      |      ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders)
      |SELECT om, count(*) AS n_first, round(sum(o_totalprice), 2) AS amount
      |FROM firsts WHERE rn = 1 GROUP BY om ORDER BY om""".stripMargin

  /** O1/O4 — deterministic ORDER BY + OFFSET/LIMIT pagination
    * (load-more, account_report.py:2955-2969). */
  def q23(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .offset(100).limit(50)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"),
        col("o_orderpriority"))

  val q23Sql: String =
    """SELECT o_orderkey, round(o_totalprice, 2) AS total, o_orderpriority
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 50 OFFSET 100""".stripMargin

  /** O5 — prefix-grouping of a large key list
    * (account_report.py:3934-4065). */
  def q24(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(substring(col("c_name"), 1, 12).as("name_prefix"))
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
      .orderBy(col("name_prefix"))

  val q24Sql: String =
    """SELECT substring(c_name, 1, 12) AS name_prefix,
      |  count(*) AS n, round(sum(c_acctbal), 2) AS bal
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin

  /** §2.8 — UNION ALL of heterogeneous sources projected to a common schema
    * (cash-flow three-way union, account_cash_flow_report.py:280-360;
    * unionByName per SURVEY). */
  def q25(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(lit("order").as("doc_type"), col("o_orderkey").as("doc_key"),
        col("o_totalprice").as("amount"))
    val li = Tables.lineitem(s, d)
      .select(lit("line").as("doc_type"), col("l_orderkey").as("doc_key"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("amount"))
    val ev = Tables.events(s, d)
      .select(lit("event").as("doc_type"), col("event_id").as("doc_key"),
        col("value").as("amount"))
    o.unionByName(li).unionByName(ev)
      .groupBy(col("doc_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("amount")), 2).as("total"))
      .orderBy(col("doc_type"))
  }

  val q25Sql: String =
    """WITH u AS (
      |  SELECT 'order' AS doc_type, o_orderkey AS doc_key, o_totalprice AS amount FROM orders
      |  UNION ALL
      |  SELECT 'line', l_orderkey, l_extendedprice * (1 - l_discount) FROM lineitem
      |  UNION ALL
      |  SELECT 'event', event_id, value FROM events)
      |SELECT doc_type, count(*) AS n, round(sum(amount), 2) AS total
      |FROM u GROUP BY doc_type ORDER BY doc_type""".stripMargin

  /** §2.9 — scalar-function projection: concat_ws, substring, coalesce,
    * length, month/quarter extraction, datediff (all §2.9 rows). */
  def q26(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderkey") <= 1000)
      .select(
        col("o_orderkey"),
        concat_ws("/", col("c_name"), coalesce(col("c_mktsegment"), lit("?"))).as("label"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        length(col("c_name")).cast("long").as("name_len"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        quarter(col("o_orderdate")).cast("long").as("order_quarter"),
        datediff(lit("2000-01-01").cast("timestamp"), col("o_orderdate")).cast("long").as("age_days"))
      .orderBy(col("o_orderkey"))
  }

  val q26Sql: String =
    """SELECT o_orderkey,
      |  concat_ws('/', c_name, coalesce(c_mktsegment, '?')) AS label,
      |  substring(o_orderpriority, 1, 1) AS prio_code,
      |  length(c_name) AS name_len,
      |  month(o_orderdate) AS order_month,
      |  quarter(o_orderdate) AS order_quarter,
      |  datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS age_days
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderkey <= 1000
      |ORDER BY o_orderkey""".stripMargin

  /** P6 — JSON map-value extraction (analytic_distribution JSONB,
    * account_analytic_report.py:171-178) via regex on both sides to stay
    * engine-neutral; bucketed containment-style filter on the extracted key. */
  def q27(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val k = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long")
    ev.withColumn("k", k)
      .filter(col("k") % 10 === 0)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("k"))
  }

  val q27Sql: String =
    """SELECT CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k,
      |  count(*) AS n, round(sum(value), 2) AS total
      |FROM events
      |WHERE CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) % 10 = 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** P5 — search-bar fuzzy filter: lower(col) contains needle
    * (account_general_ledger.py:233-234). */
  def q28(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(lower(col("p_name")).contains("gear"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), round(sum(col("p_retailprice")), 2).as("retail"))
      .orderBy(col("p_brand"))

  val q28Sql: String =
    """SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS retail
      |FROM part WHERE contains(lower(p_name), 'gear')
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** UDTF analog — explode a text column into tokens (the analytic-line
    * explode, account_analytic_report.py:90-168 maps to explode());
    * top tokens with deterministic tiebreak. */
  def q29(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)
  }

  val q29Sql: String =
    """SELECT word, count(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |WHERE word <> ''
      |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin

  /** Streaming batch-equivalent — tumbling-window aggregation over the event
    * stream (readStream→window(ts) in streaming/EventsStream; here the batch
    * twin with date_trunc for oracle parity). */
  def q30(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("hour"), col("event_type"))
  }

  val q30Sql: String =
    """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS hour,
      |  event_type, count(*) AS n, round(sum(value), 2) AS total
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q57 — as-of join (graft.operators.AsOfJoin): every click joined to
    * the user's most recent purchase at ts <= click ts, aggregated per
    * user. Oracle: DuckDB's native ASOF LEFT JOIN. The Spark plan is the
    * union+window formulation — one key shuffle, no range-join blowup. */
  def q57(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value").as("click_value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("p_value"), col("event_id").as("p_event"))
    graft.operators.AsOfJoin.asOf(clicks, purchases,
        key = "user_id", tsCol = "ts", tiebreak = "event_id",
        payload = Seq("click_value"), rightCols = Seq("p_value", "p_event"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_clicks"),
        count(col("p_event")).as("n_matched"),
        round(sum(coalesce(col("p_value"), lit(0.0))), 2).as("matched_value"))
      .orderBy(col("user_id"))
  }

  val q57Sql: String =
    """WITH clicks AS (
      |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click'),
      |purch AS (
      |  SELECT user_id, ts, event_id AS p_event, value AS p_value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, count(*) AS n_clicks, count(p.p_event) AS n_matched,
      |  round(sum(coalesce(p.p_value, 0)), 2) AS matched_value
      |FROM clicks c ASOF LEFT JOIN purch p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  /** q58 — range join via bucketized equi-join
    * (graft.operators.RangeJoin): customer balance-mod-100 points matched
    * to nation intervals [4k, 4k+6]. The bare range predicate would plan a
    * nested loop; the bucket trick shuffles on the bucket id. */
  def q58(s: SparkSession, d: String): DataFrame = {
    val points = Tables.customer(s, d)
      .select(col("c_custkey"),
        (col("c_acctbal") - floor(col("c_acctbal") / 100) * 100).as("p"))
    val intervals = Tables.nation(s, d)
      .select(col("n_name"),
        (col("n_nationkey") * lit(4.0)).as("lo"),
        (col("n_nationkey") * lit(4.0) + lit(6.0)).as("hi"))
    graft.operators.RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi",
        bucketWidth = 8.0)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"), round(sum(col("p")), 2).as("psum"))
      .orderBy(col("n_name"))
  }

  val q58Sql: String =
    """WITH pts AS (
      |  SELECT c_custkey, c_acctbal - floor(c_acctbal / 100) * 100 AS p
      |  FROM customer),
      |iv AS (SELECT n_name, n_nationkey * 4.0 AS lo,
      |              n_nationkey * 4.0 + 6.0 AS hi FROM nation)
      |SELECT n_name, count(*) AS n, round(sum(p), 2) AS psum
      |FROM iv JOIN pts ON p >= lo AND p <= hi
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** q61 — A3 ARRAY_AGG(DISTINCT): multi-valued group results as a
    * deterministically sorted set, joined to a string for the compare
    * (collect_set + sort_array — the reference's aged-report partner-id
    * aggregation, account_aged_partner_balance.py:166-174). */
  def q61(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segments"),
        countDistinct(col("c_mktsegment")).as("n_segments"))
      .orderBy(col("n_name"))
  }

  val q61Sql: String =
    """SELECT n_name,
      |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
      |  count(DISTINCT c_mktsegment) AS n_segments
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** q86 — exact grouped percentiles (order statistics over the full
    * group, the reference's ageing/ledger reports eyeball these
    * distributions in XLS): median and p95 order value per nation. Spark's
    * sort-based `percentile` interpolates with the same a+(b−a)·f IEEE
    * arithmetic as DuckDB's `quantile_cont` — verified bit-equal. Scale:
    * one shuffle on the group key; for heavy groups the approximate
    * t-digest (`percentile_approx`) is the swap-in, traded out here only
    * because approximate sketches cannot hash-match an oracle. */
  def q86(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.95)).as("p95"),
        max(col("o_totalprice")).as("pmax"))
      .orderBy(col("n_name"))
  }

  val q86Sql: String =
    """SELECT n_name, count(*) AS n_orders,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.95) AS p95,
      |  max(o_totalprice) AS pmax
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** q87 — unpivot/melt (the inverse of the register pivots A4/A5): wide
    * per-part measures to long (attr, value) rows via `Dataset.unpivot`,
    * then a per-attribute profile. DuckDB mirrors with UNPIVOT. */
  def q87(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_retailprice").as("retailprice"),
        col("p_size").cast("double").as("size"))
      .unpivot(Array(col("p_partkey")), Array(col("retailprice"), col("size")),
        "attr", "val")
      .groupBy(col("attr"))
      .agg(count(lit(1)).as("n"), round(sum(col("val")), 2).as("total"),
        min(col("val")).as("vmin"), max(col("val")).as("vmax"))
      .orderBy(col("attr"))

  val q87Sql: String =
    """WITH wide AS (
      |  SELECT p_partkey, p_retailprice AS retailprice,
      |         CAST(p_size AS DOUBLE) AS size
      |  FROM part),
      |long AS (
      |  UNPIVOT wide ON retailprice, size INTO NAME attr VALUE val)
      |SELECT attr, count(*) AS n, round(sum(val), 2) AS total,
      |  min(val) AS vmin, max(val) AS vmax
      |FROM long GROUP BY attr ORDER BY attr""".stripMargin

  /** q94 — analytic distribution apply (the reference's
    * `analytic_distribution` JSONB map {analytic_account: percentage},
    * account_analytic_report.py:53,130-131,177): each line's amount is
    * split across analytic accounts by percentage. Spark side does the
    * real thing — parse the JSON as map<string,double>, explode, weight
    * the amount — with the parse on the DISTINCT-distribution dictionary
    * side of a broadcast join (see body). The oracle applies the same
    * distribution via a VALUES lookup join (DuckDB's JSON table functions
    * don't compose in a CTE as cleanly, and the semantics are identical). */
  def q94(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Dictionary parse: distributions repeat across lines, so each DISTINCT
    // JSON is parsed once on a 3-row broadcast side and joined back —
    // 600k rows cost 3 JSON parses, not 600k (the plan that holds when the
    // fact table is 10^12 rows and the distinct distributions are 10^4).
    val dict = Seq(
      0 -> "{\"A\": 100}",
      1 -> "{\"A\": 40, \"B\": 60}",
      2 -> "{\"A\": 25, \"B\": 25, \"C\": 50}")
      .toDF("b", "dist_json")
      .withColumn("dist", from_json(col("dist_json"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.DoubleType)))
      .select(col("b"), explode(col("dist")).as(Seq("acct", "pct")))
    Tables.lineitem(s, d)
      .select(col("l_extendedprice"), (col("l_linenumber") % 3).as("b"))
      .join(broadcast(dict), Seq("b"))
      .groupBy(col("acct"))
      .agg(count(lit(1)).as("n_lines"),
        // share in integer cents (extprice·pct = cents of extprice·pct/100)
        // so the sum is exact regardless of row order, divided once
        (sum(floor(col("l_extendedprice") * col("pct") + 0.5).cast("long"))
          .cast("double") / 100).as("total_share"))
      .orderBy(col("acct"))
  }

  val q94Sql: String =
    """WITH dist(b, acct, pct) AS (VALUES
      |  (0, 'A', 100.0), (1, 'A', 40.0), (1, 'B', 60.0),
      |  (2, 'A', 25.0), (2, 'B', 25.0), (2, 'C', 50.0))
      |SELECT d.acct, count(*) AS n_lines,
      |  CAST(sum(CAST(floor(l_extendedprice * d.pct + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100 AS total_share
      |FROM lineitem l JOIN dist d ON d.b = l.l_linenumber % 3
      |GROUP BY 1 ORDER BY acct""".stripMargin

  /** q95 — forward fill (gap filling, W-family): carry each user's last
    * purchase amount forward across their event timeline
    * (`last(ignoreNulls)` over an unbounded-preceding frame — one window
    * pass per key, the canonical sparse→dense repair before feature
    * extraction). Cents so the carried value is exact; sentinel −1 for
    * "nothing yet" so null formatting cannot drift. */
  def q95(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("pv", when(col("event_type") === "purchase",
        floor(col("value") * 100 + 0.5).cast("long")))
      .withColumn("last_purchase_cents",
        coalesce(last(col("pv"), ignoreNulls = true).over(w), lit(-1L)))
      .select(col("user_id"), col("event_id"), col("last_purchase_cents"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q95Sql: String =
    """SELECT user_id, event_id,
      |  coalesce(last_value(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS UNBOUNDED PRECEDING), -1) AS last_purchase_cents
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  /** q97 — CUBE (completes the grouping-sets family next to q19's rollup
    * and q51's drill-down chain): all four (returnflag × linestatus)
    * grouping combinations in one pass, with GROUPING markers
    * distinguishing real NULLs from subtotal rows. */
  def q97(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("g_rf"), col("g_ls"), col("sum_qty"), col("n"))
      .orderBy("rf", "ls", "g_rf", "g_ls")

  val q97Sql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS rf,
      |  coalesce(l_linestatus, 'ALL') AS ls,
      |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
      |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY rf, ls, g_rf, g_ls""".stripMargin

  /** q98 — INTERSECT / EXCEPT (§2.8 completeness; the reference uses only
    * UNION/semi/anti, but an engine swap needs the full set-op family):
    * customers with orders in BOTH years vs only the first, via
    * `intersect`/`except` on the key projections. */
  def q98(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def buyers(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey"))
    val both = buyers(1995).intersect(buyers(1996))
      .withColumn("kind", lit("both"))
    val only95 = buyers(1995).except(buyers(1996))
      .withColumn("kind", lit("only_1995"))
    both.unionByName(only95)
      .groupBy(col("kind")).agg(count(lit(1)).as("n_customers"))
      .orderBy(col("kind"))
  }

  val q98Sql: String =
    """WITH b95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
      |b96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
      |both_y AS (SELECT o_custkey FROM b95 INTERSECT SELECT o_custkey FROM b96),
      |only95 AS (SELECT o_custkey FROM b95 EXCEPT SELECT o_custkey FROM b96)
      |SELECT 'both' AS kind, count(*) AS n_customers FROM both_y
      |UNION ALL
      |SELECT 'only_1995', count(*) FROM only95
      |ORDER BY kind""".stripMargin

  /** q99 — edit-distance fuzzy matching (the search-bar / partner-matching
    * family beyond q28's substring search): nations whose names are within
    * Levenshtein distance 2 of each other — both engines implement the
    * classic integer DP, so parity is exact. */
  def q99(s: SparkSession, d: String): DataFrame = {
    val n = Tables.nation(s, d).select(col("n_name"))
    n.as("a").crossJoin(n.as("b"))
      .filter(col("a.n_name") < col("b.n_name"))
      .select(col("a.n_name").as("name_a"), col("b.n_name").as("name_b"),
        levenshtein(col("a.n_name"), col("b.n_name")).cast("long").as("dist"))
      .filter(col("dist") <= 2)
      .orderBy("name_a", "name_b")
  }

  val q99Sql: String =
    """SELECT a.n_name AS name_a, b.n_name AS name_b,
      |  CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS dist
      |FROM nation a JOIN nation b ON a.n_name < b.n_name
      |WHERE levenshtein(a.n_name, b.n_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q57_asof_join", q57, q57Sql), Gate("q58_range_join", q58, q58Sql),
    Gate("q61_array_agg", q61, q61Sql), Gate("q86_percentiles", q86, q86Sql),
    Gate("q87_unpivot", q87, q87Sql), Gate("q94_analytic_distribution", q94, q94Sql),
    Gate("q95_forward_fill", q95, q95Sql), Gate("q97_cube", q97, q97Sql),
    Gate("q98_intersect_except", q98, q98Sql), Gate("q99_edit_distance", q99, q99Sql),
    Gate("q16_in_minus_out", q16, q16Sql), Gate("q17_multi_period", q17, q17Sql),
    Gate("q18_growth", q18, q18Sql), Gate("q19_rollup", q19, q19Sql),
    Gate("q20_running_balance", q20, q20Sql), Gate("q21_most_recent", q21, q21Sql),
    Gate("q22_first_per_month", q22, q22Sql), Gate("q23_pagination", q23, q23Sql),
    Gate("q24_prefix_group", q24, q24Sql), Gate("q25_union_sources", q25, q25Sql),
    Gate("q26_scalar_funcs", q26, q26Sql), Gate("q27_json_extract", q27, q27Sql),
    Gate("q28_search_filter", q28, q28Sql), Gate("q29_explode_tokens", q29, q29Sql),
    Gate("q30_events_hourly", q30, q30Sql))
}
