package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables
import Parity.fr

/** SURVEY §2 operators q1–q15: scans/filters (P*), joins (J*), core
  * aggregations (A1–A11). Each `qN` has a DuckDB oracle `qNSql`.
  *
  * Scale notes are inline per query — every join states its distribution
  * strategy (broadcast vs shuffle) as it would run on a 1000-executor
  * cluster, not just local[32].
  */
object RelationalA {

  /** A1/S1/P2 — grouped multi-aggregate over the big fact with a pushed date
    * filter (general-ledger account sums shape,
    * account_general_ledger.py:242-256). Scale: single map-side-combinable
    * shuffle on low-cardinality keys. */
  def q1(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(avg(l_quantity), 4) AS avg_qty,
      |  count(*) AS count_order,
      |  strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** P2/P3 — composite "date scope" predicate: the reference's `normal` scope
    * is `(date in range) OR (flag)` (account_report.py:622-654) composed with
    * a posted-only filter; here: shipdate-in-1996 OR returnflag='R', AND
    * orderstatus='F'. Scale: pure filter+agg, disjunction still prunable via
    * parquet min/max on the date leg. */
  def q2(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
    val inRange = col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-01-01").cast("timestamp")
    li.filter(inRange || col("l_returnflag") === "R")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("amount"))
      .orderBy(col("ship_month"))
  }

  val q2Sql: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
      |  count(*) AS n, round(sum(l_extendedprice), 2) AS amount
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE ((l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
      |       OR l_returnflag = 'R')
      |  AND o_orderstatus = 'F'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** J1 — fact→dim star join chain with explicitly broadcast dims
    * (account_general_ledger.py:399-406). Scale: dims (customer/nation/
    * region) are broadcast so the 100-TB fact never shuffles; only the final
    * small groupBy shuffles. */
  def q3(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q3Sql: String =
    """SELECT r_name, n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** J2/A1 — currency-table pattern: join a per-key rate, SUM(ROUND(x*rate,p))
    * with the round INSIDE the sum (account_report.py:2563,
    * account_general_ledger.py:242-256). rate = 1 + n_nationkey/100.
    * Per-row rounding uses the IEEE-deterministic fr(). Scale: rate dim
    * broadcast; one shuffle for the groupBy. */
  def q4(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
      .withColumn("rate", lit(1.0) + col("n_nationkey").cast("double") / lit(100.0))
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(fr(col("c_acctbal") * col("rate"), 2)), 2).as("converted_bal"),
        count(lit(1)).as("n_cust"))
      .orderBy(col("n_name"))
  }

  val q4Sql: String =
    """SELECT n_name,
      |  round(sum(floor(c_acctbal * (1.0 + n_nationkey / 100.0) * 100 + 0.5) / 100), 2)
      |    AS converted_bal,
      |  count(*) AS n_cust
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** J3 — many-to-many bridge join: two equi-joins through a bridge table
    * (aml↔tag via rel table, account_report.py:2572-2576). Here
    * orders↔lineitem↔part. Scale: part is dim-sized → broadcast; the
    * orders↔lineitem join co-partitions on orderkey. */
  def q5(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey", "l_extendedprice")
    val p = Tables.part(s, d).select("p_partkey", "p_brand")
    o.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("o_orderstatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("amount"), count(lit(1)).as("n"))
      .orderBy(col("p_brand"), col("o_orderstatus"))
  }

  val q5Sql: String =
    """SELECT p_brand, o_orderstatus,
      |  round(sum(l_extendedprice), 2) AS amount, count(*) AS n
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand, o_orderstatus ORDER BY p_brand, o_orderstatus""".stripMargin

  /** J4 — OR-condition theta join rewritten as a union of two equi-joins
    * (reconciliation partials `aml.id = debit_move_id OR aml.id =
    * credit_move_id`, account_partner_ledger.py:335-339). A BNLJ on the OR
    * predicate would be quadratic at scale; the union form is two shuffled
    * (or broadcast) hash joins. */
  def q6(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "user_id", "value")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val debit = ev.join(o, col("user_id") === col("o_custkey"))
      .select(lit("user_side").as("side"), col("value"))
    val credit = ev.join(o, col("event_id") === col("o_orderkey"))
      .select(lit("event_side").as("side"), col("value"))
    debit.unionByName(credit)
      .groupBy(col("side"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("side"))
  }

  val q6Sql: String =
    """WITH ev AS (SELECT event_id, user_id, value FROM events),
      |both_sides AS (
      |  SELECT 'user_side' AS side, value FROM ev JOIN orders ON user_id = o_custkey
      |  UNION ALL
      |  SELECT 'event_side' AS side, value FROM ev JOIN orders ON event_id = o_orderkey)
      |SELECT side, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM both_sides GROUP BY side ORDER BY side""".stripMargin

  /** J5/A7 — decorrelated LATERAL: pre-aggregate the detail ≤ cutoff, then
    * left-join to the header and keep non-zero residuals (aged partials,
    * account_aged_partner_balance.py:183-195,212-221). Scale: agg shrinks the
    * fact before the join; both sides hash-partition on orderkey. */
  def q7(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    val shipped = Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= cutoff)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice")).as("shipped_raw"))
    o.join(shipped, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("total"),
        round(coalesce(col("shipped_raw"), lit(0.0)), 2).as("shipped"),
        round(col("o_totalprice") - coalesce(col("shipped_raw"), lit(0.0)), 2).as("residual"))
      .filter(col("residual") =!= 0.0)
      .orderBy(col("o_orderkey"))
  }

  val q7Sql: String =
    """WITH shipped AS (
      |  SELECT l_orderkey, sum(l_extendedprice) AS shipped_raw
      |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY l_orderkey)
      |SELECT o_orderkey, round(o_totalprice, 2) AS total,
      |  round(coalesce(shipped_raw, 0), 2) AS shipped,
      |  round(o_totalprice - coalesce(shipped_raw, 0), 2) AS residual
      |FROM orders LEFT JOIN shipped ON o_orderkey = l_orderkey
      |WHERE round(o_totalprice - coalesce(shipped_raw, 0), 2) <> 0
      |ORDER BY o_orderkey""".stripMargin

  /** J6/W6/A4 — interval-bucket join collapsed to a CASE chain + conditional
    * pivot (6 aging buckets, account_aged_partner_balance.py:82-89,146-157).
    * Scale: no join at all — the bucket VALUES table folds into a codegen'd
    * when-chain; single shuffle on the small group key. */
  def q8(s: SparkSession, d: String): DataFrame = {
    val asOf = lit("2000-01-01").cast("timestamp")
    val o = Tables.orders(s, d)
    val age = datediff(asOf, col("o_orderdate"))
    val bucket = when(age <= 0, "b0_future").when(age <= 180, "b1_0_180")
      .when(age <= 365, "b2_180_365").when(age <= 730, "b3_1_2y")
      .when(age <= 1460, "b4_2_4y").otherwise("b5_older")
    o.withColumn("bucket", bucket)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum(when(col("bucket") === "b0_future", col("o_totalprice")).otherwise(0.0)), 2).as("b0_future"),
        round(sum(when(col("bucket") === "b1_0_180", col("o_totalprice")).otherwise(0.0)), 2).as("b1_0_180"),
        round(sum(when(col("bucket") === "b2_180_365", col("o_totalprice")).otherwise(0.0)), 2).as("b2_180_365"),
        round(sum(when(col("bucket") === "b3_1_2y", col("o_totalprice")).otherwise(0.0)), 2).as("b3_1_2y"),
        round(sum(when(col("bucket") === "b4_2_4y", col("o_totalprice")).otherwise(0.0)), 2).as("b4_2_4y"),
        round(sum(when(col("bucket") === "b5_older", col("o_totalprice")).otherwise(0.0)), 2).as("b5_older"))
      .orderBy(col("o_orderpriority"))
  }

  val q8Sql: String =
    """WITH aged AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    CASE WHEN datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') <= 0 THEN 'b0_future'
      |         WHEN datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') <= 180 THEN 'b1_0_180'
      |         WHEN datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') <= 365 THEN 'b2_180_365'
      |         WHEN datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') <= 730 THEN 'b3_1_2y'
      |         WHEN datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') <= 1460 THEN 'b4_2_4y'
      |         ELSE 'b5_older' END AS bucket
      |  FROM orders)
      |SELECT o_orderpriority,
      |  round(sum(CASE WHEN bucket = 'b0_future' THEN o_totalprice ELSE 0 END), 2) AS b0_future,
      |  round(sum(CASE WHEN bucket = 'b1_0_180' THEN o_totalprice ELSE 0 END), 2) AS b1_0_180,
      |  round(sum(CASE WHEN bucket = 'b2_180_365' THEN o_totalprice ELSE 0 END), 2) AS b2_180_365,
      |  round(sum(CASE WHEN bucket = 'b3_1_2y' THEN o_totalprice ELSE 0 END), 2) AS b3_1_2y,
      |  round(sum(CASE WHEN bucket = 'b4_2_4y' THEN o_totalprice ELSE 0 END), 2) AS b4_2_4y,
      |  round(sum(CASE WHEN bucket = 'b5_older' THEN o_totalprice ELSE 0 END), 2) AS b5_older
      |FROM aged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** J8 — semi/anti joins (EXISTS / NOT EXISTS,
    * account_multicurrency_revaluation_report.py:205-242): customers with and
    * without orders, tagged and unioned. Scale: left_semi/left_anti avoid
    * materializing the join fan-out. */
  def q9(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal")
    val o = Tables.orders(s, d).select("o_custkey")
    val n = Tables.nation(s, d)
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("tag", lit("has_orders"))
    val noO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("tag", lit("no_orders"))
    withO.unionByName(noO)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("tag"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("bal"))
      .orderBy(col("n_name"), col("tag"))
  }

  val q9Sql: String =
    """WITH tagged AS (
      |  SELECT c_custkey, c_nationkey, c_acctbal, 'has_orders' AS tag FROM customer
      |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  UNION ALL
      |  SELECT c_custkey, c_nationkey, c_acctbal, 'no_orders' AS tag FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
      |SELECT n_name, tag, count(*) AS n_cust, round(sum(c_acctbal), 2) AS bal
      |FROM tagged JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name, tag ORDER BY n_name, tag""".stripMargin

  /** J9 — prefix-membership join: keys matched to a prefix set with
    * exclusions (account_codes prefix map, account_report.py:2765-2802).
    * Implemented as a broadcast cross of the tiny prefix dim + startsWith,
    * exactly the precomputed prefix→key map the survey prescribes. */
  def q10(s: SparkSession, d: String): DataFrame = {
    val s0 = s
    import s0.implicits._
    val prefixes = Seq("small", "red", "blue").toDF("prefix")
    val p = Tables.part(s, d).select("p_partkey", "p_name", "p_retailprice")
    p.join(broadcast(prefixes), col("p_name").startsWith(col("prefix")))
      .filter(!(col("prefix") === "small" && col("p_name").startsWith("small ring")))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_parts"), round(sum(col("p_retailprice")), 2).as("retail"))
      .orderBy(col("prefix"))
  }

  val q10Sql: String =
    """SELECT prefix, count(*) AS n_parts, round(sum(p_retailprice), 2) AS retail
      |FROM part
      |JOIN (VALUES ('small'), ('red'), ('blue')) pre(prefix)
      |  ON p_name LIKE prefix || '%'
      |WHERE NOT (prefix = 'small' AND p_name LIKE 'small ring%')
      |GROUP BY prefix ORDER BY prefix""".stripMargin

  /** A6 — sign-conditional debit/credit split
    * (account_partner_ledger.py:331-333). */
  def q11(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(sum(when(col("value") > 100.0, col("value")).otherwise(0.0)), 2).as("big_total"),
        round(sum(when(col("value") <= 100.0, col("value")).otherwise(0.0)), 2).as("small_total"),
        count(when(col("value") > 100.0, lit(1))).as("n_big"))
      .orderBy(col("event_type"))

  val q11Sql: String =
    """SELECT event_type,
      |  round(sum(CASE WHEN value > 100.0 THEN value ELSE 0 END), 2) AS big_total,
      |  round(sum(CASE WHEN value <= 100.0 THEN value ELSE 0 END), 2) AS small_total,
      |  count(CASE WHEN value > 100.0 THEN 1 END) AS n_big
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** A8 — signed aggregation with stacked ±1 sign flips (tax_negate ×
    * tax_tag_invert, account_report.py:2562-2566). */
  def q12(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val sign1 = when(col("l_returnflag") === "R", lit(-1.0)).otherwise(lit(1.0))
    val sign2 = when(col("l_linestatus") === "F", lit(-1.0)).otherwise(lit(1.0))
    li.groupBy(date_format(col("l_shipdate"), "yyyy").as("ship_year"))
      .agg(round(sum(col("l_extendedprice") * sign1 * sign2), 2).as("signed_amount"),
        count(lit(1)).as("n"))
      .orderBy(col("ship_year"))
  }

  val q12Sql: String =
    """SELECT strftime(l_shipdate, '%Y') AS ship_year,
      |  round(sum(l_extendedprice
      |    * (CASE WHEN l_returnflag = 'R' THEN -1.0 ELSE 1.0 END)
      |    * (CASE WHEN l_linestatus = 'F' THEN -1.0 ELSE 1.0 END)), 2) AS signed_amount,
      |  count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** A7/A2 — HAVING on aggregates + COUNT(DISTINCT)
    * (account_aged_partner_balance.py:212-221, account_report.py:2652). */
  def q13(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.groupBy(col("l_partkey"))
      .agg(round(sum(col("l_quantity")), 2).as("qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .filter(col("qty") > 100.0)
      .orderBy(col("l_partkey"))
  }

  val q13Sql: String =
    """SELECT l_partkey, round(sum(l_quantity), 2) AS qty,
      |  count(DISTINCT l_orderkey) AS n_orders
      |FROM lineitem GROUP BY l_partkey
      |HAVING round(sum(l_quantity), 2) > 100.0
      |ORDER BY l_partkey""".stripMargin

  /** A9 — sum_if_pos/sum_if_neg: per-group sums gated on the sign of the
    * OVERALL total (account_report.py:2679-2706) — a two-phase plan: agg,
    * then gate every group by the 1-row global total (broadcast cross join,
    * NOT a per-group sign check). */
  def q14(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val grouped = c.groupBy(col("c_mktsegment"))
      .agg(sum(col("c_acctbal")).as("bal_raw"))
    val total = c.agg(sum(col("c_acctbal")).as("grand_total"))
    grouped.crossJoin(broadcast(total))
      .select(col("c_mktsegment"),
        round(when(col("grand_total") > 0.0, col("bal_raw")).otherwise(lit(0.0)), 2).as("sum_if_pos"),
        round(when(col("grand_total") < 0.0, col("bal_raw")).otherwise(lit(0.0)), 2).as("sum_if_neg"))
      .orderBy(col("c_mktsegment"))
  }

  val q14Sql: String =
    """SELECT c_mktsegment,
      |  round(CASE WHEN (SELECT sum(c_acctbal) FROM customer) > 0.0
      |        THEN sum(c_acctbal) ELSE 0.0 END, 2) AS sum_if_pos,
      |  round(CASE WHEN (SELECT sum(c_acctbal) FROM customer) < 0.0
      |        THEN sum(c_acctbal) ELSE 0.0 END, 2) AS sum_if_neg
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** A10 — weighted-average unit cost SUM(value)/SUM(qty)
    * (stock_ageing.py:98-111). */
  def q15(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val p = Tables.part(s, d).select("p_partkey", "p_brand")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice")) / sum(col("l_quantity")), 4).as("avg_unit_price"),
        round(sum(col("l_quantity")), 2).as("total_qty"))
      .orderBy(col("p_brand"))
  }

  val q15Sql: String =
    """SELECT p_brand,
      |  round(sum(l_extendedprice) / sum(l_quantity), 4) AS avg_unit_price,
      |  round(sum(l_quantity), 2) AS total_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** q64 — TPC-H Q5 shape (local-supplier revenue): the classic 6-table
    * join where the supplier's nation must equal the customer's nation —
    * exercises the supplier dimension and a cross-dimension equality the
    * optimizer can't collapse. Scale: all dims broadcast; lineitem⋈orders
    * co-partitions on orderkey; one final small shuffle. */
  def q64(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val su = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q64Sql: String =
    """SELECT n_name,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q64_local_supplier", q64, q64Sql), Gate("q1_agg", q1, q1Sql),
    Gate("q2_date_scope", q2, q2Sql), Gate("q3_star_join", q3, q3Sql),
    Gate("q4_rate_round", q4, q4Sql), Gate("q5_bridge_join", q5, q5Sql),
    Gate("q6_or_join_union", q6, q6Sql), Gate("q7_decorrelated_lateral", q7, q7Sql),
    Gate("q8_age_buckets", q8, q8Sql), Gate("q9_semi_anti", q9, q9Sql),
    Gate("q10_prefix_membership", q10, q10Sql), Gate("q11_sign_split", q11, q11Sql),
    Gate("q12_signed_agg", q12, q12Sql), Gate("q13_having", q13, q13Sql),
    Gate("q14_sum_if_pos", q14, q14Sql), Gate("q15_weighted_avg", q15, q15Sql))
}
