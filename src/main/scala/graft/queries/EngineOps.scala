package graft.queries

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables
import graft.engine._
import graft.cdc.ChangelogDiff

/** Gate queries driven THROUGH the engine layer (graft.engine / graft.cdc)
  * so the oracle checks the engine machinery itself, not just raw DataFrame
  * code: domain compiler (q41), fiscal date scopes (q42), column-group
  * planner (q43), aggregation fixpoint (q44), account-codes DSL (q45),
  * CDC diff (q46). */
object EngineOps {

  /** q41 — Domain compiler: polish-notation domain with &, |, in, like
    * compiled to one pushed-down Column (SURVEY §2.2 P1/P3). */
  def q41(s: SparkSession, d: String): DataFrame = {
    val dom = Domain.compile(Seq(
      "&", ("o_orderstatus", "=", "F"),
      "|", ("o_totalprice", ">", 150000.0),
      "&", ("o_orderpriority", "like", "URGENT"),
      ("o_custkey", "in", Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 10))))
    Tables.orders(s, d)
      .filter(dom)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("amount"))
      .orderBy(col("o_orderpriority"))
  }

  val q41Sql: String =
    """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS amount
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |  AND (o_totalprice > 150000.0
      |       OR (o_orderpriority LIKE '%URGENT%'
      |           AND o_custkey IN (1,2,3,4,5,6,7,8,9,10)))
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q42 — DateScope engine: the same measure under three scopes (strict
    * range, from_fiscalyear with a June-30 year end, to_beginning_of_
    * fiscalyear) — the initial/end-balance machinery (SURVEY §2.2 P2, A17).
    * The oracle hard-codes the fiscal boundaries the Scala helper must
    * compute (FY start for 1996-03-15 with June-30 year end = 1995-07-01). */
  def q42(s: SparkSession, d: String): DataFrame = {
    val fc = DateScope.FiscalConfig(lastMonth = 6, lastDay = 30)
    val from = LocalDate.of(1996, 1, 1)
    val to = LocalDate.of(1996, 3, 15)
    val o = Tables.orders(s, d)
    val dt = col("o_orderdate")
    def scoped(sc: DateScope.Scope, name: String): DataFrame =
      o.filter(DateScope.predicate(sc, dt, from, to, fc))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("amount"))
        .select(lit(name).as("scope"), col("n"), col("amount"))
    scoped(DateScope.StrictRange, "strict_range")
      .unionByName(scoped(DateScope.FromFiscalyear, "from_fiscalyear"))
      .unionByName(scoped(DateScope.ToBeginningOfFiscalyear, "to_fy_start"))
      .orderBy(col("scope"))
  }

  val q42Sql: String =
    """SELECT 'strict_range' AS scope, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS amount
      |FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |              AND o_orderdate <= TIMESTAMP '1996-03-15 00:00:00'
      |UNION ALL
      |SELECT 'from_fiscalyear', count(*), round(sum(o_totalprice), 2)
      |FROM orders WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      |              AND o_orderdate <= TIMESTAMP '1996-03-15 00:00:00'
      |UNION ALL
      |SELECT 'to_fy_start', count(*), round(sum(o_totalprice), 2)
      |FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
      |ORDER BY scope""".stripMargin

  /** q43 — ColumnGroupPlanner: three yearly column groups × two measures in
    * ONE scan (single-scan conditional aggregation replacing the
    * reference's per-group UNION ALL, SURVEY §4.1). */
  def q43(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val y = year(col("l_shipdate"))
    val groups = Seq(
      ColumnGroupPlanner.Group("y1996", y === 1996),
      ColumnGroupPlanner.Group("y1997", y === 1997))
    val measures = Map(
      "qty" -> col("l_quantity"),
      "gross" -> col("l_extendedprice"))
    ColumnGroupPlanner.evaluate(li, Seq(col("l_returnflag")), groups, measures,
        finisher = c => round(c, 2))
      .orderBy(col("l_returnflag"))
  }

  val q43Sql: String =
    """SELECT l_returnflag,
      |  round(sum(CASE WHEN year(l_shipdate) = 1996 THEN l_quantity ELSE 0 END), 2) AS y1996_qty,
      |  round(sum(CASE WHEN year(l_shipdate) = 1996 THEN l_extendedprice ELSE 0 END), 2) AS y1996_gross,
      |  round(sum(CASE WHEN year(l_shipdate) = 1997 THEN l_quantity ELSE 0 END), 2) AS y1997_qty,
      |  round(sum(CASE WHEN year(l_shipdate) = 1997 THEN l_extendedprice ELSE 0 END), 2) AS y1997_gross
      |FROM lineitem
      |WHERE year(l_shipdate) IN (1996, 1997)
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q44 — aggregation fixpoint engine: leaf totals computed distributed,
    * then the driver-side formula DAG (forward references, ratio with
    * div-0→0, round(2) bound) — the reference's `aggregation` engine
    * (SURVEY §2.5). Output is the resolved expression table. */
  def q44(s: SparkSession, d: String): DataFrame = {
    val s0 = s; import s0.implicits._
    val li = Tables.lineitem(s, d)
    val totalsRow = li.agg(
        sum(when(col("l_returnflag") === "R", col("l_extendedprice")).otherwise(0.0)),
        sum(when(col("l_returnflag") =!= "R", col("l_extendedprice")).otherwise(0.0)))
      .head()
    val leaves = Map("RET.bal" -> totalsRow.getDouble(0), "OTH.bal" -> totalsRow.getDouble(1))
    val exprs = Map(
      "TOT.bal" -> AggregationEvaluator.Expr("RET.bal + OTH.bal"),
      "RATIO.bal" -> AggregationEvaluator.Expr("100 * RET.bal / TOT.bal",
        Seq(AggregationEvaluator.RoundTo(2))),
      // (RET.bal - RET.bal) is IEEE-exactly 0 → exercises the div-0→0 rule
      "ZERO.bal" -> AggregationEvaluator.Expr("OTH.bal / (RET.bal - RET.bal)"))
    val out = AggregationEvaluator.evaluate(exprs, leaves)
    Seq(
      ("RATIO.bal", out("RATIO.bal")),
      ("TOT.bal", BigDecimal(out("TOT.bal")).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble),
      ("ZERO.bal", out("ZERO.bal"))).toDF("expr", "value").orderBy("expr")
  }

  val q44Sql: String =
    """WITH t AS (
      |  SELECT sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END) r,
      |         sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0 END) o
      |  FROM lineitem)
      |SELECT 'RATIO.bal' AS expr, round(100 * r / (r + o), 2) AS value FROM t
      |UNION ALL SELECT 'TOT.bal', round(r + o, 2) FROM t
      |UNION ALL SELECT 'ZERO.bal', 0.0 FROM t
      |ORDER BY expr""".stripMargin

  /** q45 — account_codes DSL engine: `1\(15) + 2C - 3D` over per-"account"
    * balances (account = custkey, code = its decimal string): prefix-1
    * accounts except code-15*, plus prefix-2 only when in credit (< 0),
    * minus prefix-3 only when in debit (>= 0) — prefix match, exclusion,
    * balance-character gate and term sign all exercised (SURVEY §2.5). */
  def q45(s: SparkSession, d: String): DataFrame = {
    val accounts = Tables.customer(s, d)
      .select(col("c_custkey").cast("string").as("code"),
        col("c_acctbal").as("balance"))
    AccountCodes.evaluate(accounts, "1\\(15) + 2C - 3D")
      .select(round(col("total"), 2).as("total"))
  }

  val q45Sql: String =
    """SELECT round(sum(contrib), 2) AS total FROM (
      |  SELECT CASE
      |    WHEN CAST(c_custkey AS VARCHAR) LIKE '1%'
      |     AND CAST(c_custkey AS VARCHAR) NOT LIKE '15%' THEN c_acctbal
      |    WHEN CAST(c_custkey AS VARCHAR) LIKE '2%' AND c_acctbal < 0 THEN c_acctbal
      |    WHEN CAST(c_custkey AS VARCHAR) LIKE '3%' AND c_acctbal >= 0 THEN -c_acctbal
      |    ELSE 0.0 END AS contrib
      |  FROM customer)""".stripMargin

  /** q46 — CDC field-level diff (SURVEY §2.10): snapshot A = customers,
    * snapshot B = same with perturbed balances for custkey%97=0, dropped
    * rows for %101=0, plus 3 synthetic new keys → per-(key, field) change
    * log exactly like auditlog.log.line. */
  def q46(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
    val updated = c.filter(col("c_custkey") % 101 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 97 === 0, round(col("c_acctbal") + 10.0, 2))
          .otherwise(col("c_acctbal")))
    val added = c.filter(col("c_custkey").isin(1, 2, 3))
      .withColumn("c_custkey", col("c_custkey") + 1000000)
    ChangelogDiff.diff(c, updated.unionByName(added), "c_custkey")
      .orderBy(col("res_id"), col("field"))
  }

  val q46Sql: String =
    """WITH old AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
      |new AS (
      |  SELECT c_custkey, c_name,
      |    CASE WHEN c_custkey % 97 = 0 THEN round(c_acctbal + 10.0, 2)
      |         ELSE c_acctbal END c_acctbal,
      |    c_mktsegment
      |  FROM customer WHERE c_custkey % 101 <> 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey IN (1, 2, 3)),
      |joined AS (
      |  SELECT coalesce(o.c_custkey, n.c_custkey) res_id,
      |    CASE WHEN o.c_custkey IS NULL THEN 'create'
      |         WHEN n.c_custkey IS NULL THEN 'unlink'
      |         ELSE 'write' END op,
      |    o.c_custkey o_key, n.c_custkey n_key,
      |    o.c_name o_name, n.c_name n_name,
      |    CAST(o.c_acctbal AS VARCHAR) o_bal, CAST(n.c_acctbal AS VARCHAR) n_bal,
      |    o.c_mktsegment o_seg, n.c_mktsegment n_seg
      |  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey),
      |stacked AS (
      |  SELECT res_id, op, 'c_name' AS field, o_name AS old_value, n_name AS new_value FROM joined
      |  UNION ALL
      |  SELECT res_id, op, 'c_acctbal', o_bal, n_bal FROM joined
      |  UNION ALL
      |  SELECT res_id, op, 'c_mktsegment', o_seg, n_seg FROM joined)
      |SELECT res_id, op, field, old_value, new_value FROM stacked
      |WHERE op <> 'write' OR old_value IS DISTINCT FROM new_value
      |ORDER BY res_id, field""".stripMargin

  /** q156 — auditlog READ capture (§2.10's last arm, rule.py:356-372): a
    * batch of logged reads — each BUILDING customer with custkey%10=0 read
    * by user custkey%50 over (name, nationkey, acctbal) — through
    * [[ChangelogDiff.readLog]] then the same [[ChangelogDiff.AuditRule]]
    * policy as the write log: users 10 and 30 are excluded (their reads
    * leave no log at all — REACHABLE values: custkey%10=0 makes
    * user_id ∈ {0,10,20,30,40}, so the exclusion arm really fires),
    * field c_nationkey is excluded (the log exists, the
    * nation line doesn't). Values land in old_value, new_value stays null —
    * read logging records exposure, not change. */
  def q156(s: SparkSession, d: String): DataFrame = {
    val snap = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING" && col("c_custkey") % 10 === 0)
    val lines = ChangelogDiff.readLog(snap, "c_custkey",
      Seq("c_name", "c_nationkey", "c_acctbal"), col("c_custkey") % 50)
    ChangelogDiff.applyRule(lines,
        ChangelogDiff.AuditRule(fieldsToExclude = Set("c_nationkey"),
          usersToExclude = Set(10L, 30L)))
      .orderBy(col("res_id"), col("field"))
  }

  val q156Sql: String =
    """WITH r AS (
      |  SELECT c_custkey res_id, c_custkey % 50 user_id,
      |    c_name, c_nationkey, c_acctbal
      |  FROM customer
      |  WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0),
      |lines AS (
      |  SELECT res_id, 'read' op, 'c_name' field, c_name old_value,
      |    CAST(NULL AS VARCHAR) new_value, user_id FROM r
      |  UNION ALL
      |  SELECT res_id, 'read', 'c_nationkey', CAST(c_nationkey AS VARCHAR), NULL,
      |    user_id FROM r
      |  UNION ALL
      |  SELECT res_id, 'read', 'c_acctbal', CAST(c_acctbal AS VARCHAR), NULL,
      |    user_id FROM r)
      |SELECT res_id, op, field, old_value, new_value,
      |  CAST(user_id AS BIGINT) user_id
      |FROM lines
      |WHERE user_id NOT IN (10, 30) AND field NOT IN ('c_nationkey')
      |ORDER BY res_id, field""".stripMargin

  /** q49 — tax_tags engine: m2m bridge joins + signed aggregation with
    * stacked tag-polarity × row-invert sign flips (SURVEY §2.5 tax_tags).
    * Tags are derived from order priority (digit 1-5, alternating polarity)
    * plus a '-STATUSF' tag on fulfilled orders; orders with key%7=0 carry
    * tax_tag_invert. */
  def q49(s: SparkSession, d: String): DataFrame = {
    val s0 = s; import s0.implicits._
    val o = Tables.orders(s, d)
    val facts = o.select(col("o_orderkey").as("fact_id"),
      col("o_totalprice").as("amount"),
      (col("o_orderkey") % 7 === 0).as("tax_tag_invert"))
    val prioBridge = o.select(col("o_orderkey").as("fact_id"),
      substring(col("o_orderpriority"), 1, 1).cast("int").as("tag_id"))
    val statusBridge = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("fact_id"), lit(10).as("tag_id"))
    val bridge = prioBridge.unionByName(statusBridge)
    val tags = Seq((1, "+P1"), (2, "-P2"), (3, "+P3"), (4, "-P4"), (5, "+P5"),
      (10, "-STATUSF")).toDF("tag_id", "tag_name")
    TaxTags.evaluate(facts, bridge, tags)
      .select(col("tag"), round(col("total"), 2).as("total"))
      .orderBy(col("tag"))
  }

  val q49Sql: String =
    """WITH facts AS (
      |  SELECT o_orderkey fact_id, o_totalprice amount,
      |         (o_orderkey % 7 = 0) tax_tag_invert
      |  FROM orders),
      |bridge AS (
      |  SELECT o_orderkey fact_id,
      |         CAST(substring(o_orderpriority, 1, 1) AS INT) tag_id FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 10 FROM orders WHERE o_orderstatus = 'F'),
      |tags(tag_id, tag_name) AS (
      |  VALUES (1, '+P1'), (2, '-P2'), (3, '+P3'), (4, '-P4'), (5, '+P5'),
      |         (10, '-STATUSF'))
      |SELECT substring(tag_name, 2) AS tag,
      |  round(sum(amount
      |    * (CASE WHEN substring(tag_name, 1, 1) = '-' THEN -1.0 ELSE 1.0 END)
      |    * (CASE WHEN tax_tag_invert THEN -1.0 ELSE 1.0 END)), 2) AS total
      |FROM facts JOIN bridge USING (fact_id) JOIN tags USING (tag_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q60 — EC-sales shape: the tax_tags engine grouped by partner country
    * (TaxTags.evaluateBy): tagged order amounts per (nation, tag), sign
    * algebra as in q49, country from the customer→nation dims. */
  def q60(s: SparkSession, d: String): DataFrame = {
    val s0 = s; import s0.implicits._
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    val facts = o
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey").as("fact_id"),
        col("o_totalprice").as("amount"),
        (col("o_orderkey") % 7 === 0).as("tax_tag_invert"),
        col("n_name"))
    val bridge = o.select(col("o_orderkey").as("fact_id"),
      substring(col("o_orderpriority"), 1, 1).cast("int").as("tag_id"))
    val tags = Seq((1, "+P1"), (2, "-P2"), (3, "+P3"), (4, "-P4"), (5, "+P5"))
      .toDF("tag_id", "tag_name")
    TaxTags.evaluateBy(facts, bridge, tags, Seq(col("n_name")))
      .select(col("n_name"), col("tag"), round(col("total"), 2).as("total"))
      .orderBy(col("n_name"), col("tag"))
  }

  val q60Sql: String =
    """WITH facts AS (
      |  SELECT o_orderkey fact_id, o_totalprice amount,
      |         (o_orderkey % 7 = 0) tax_tag_invert, n_name
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |bridge AS (
      |  SELECT o_orderkey fact_id,
      |         CAST(substring(o_orderpriority, 1, 1) AS INT) tag_id FROM orders),
      |tags(tag_id, tag_name) AS (
      |  VALUES (1, '+P1'), (2, '-P2'), (3, '+P3'), (4, '-P4'), (5, '+P5'))
      |SELECT n_name, substring(tag_name, 2) AS tag,
      |  round(sum(amount
      |    * (CASE WHEN substring(tag_name, 1, 1) = '-' THEN -1.0 ELSE 1.0 END)
      |    * (CASE WHEN tax_tag_invert THEN -1.0 ELSE 1.0 END)), 2) AS total
      |FROM facts JOIN bridge USING (fact_id) JOIN tags USING (tag_id)
      |GROUP BY n_name, substring(tag_name, 2)
      |ORDER BY n_name, tag""".stripMargin

  /** q117 — the executive-summary report shape: the reference's one
    * custom engine there (`executive_summary_ndays`,
    * executive_summary_report.py:10-15) returns the period length in
    * days, consumed by day-based ratio formulas. Here NDAYS is a leaf of
    * the aggregation fixpoint per column group (engines-as-leaves is the
    * evaluator's contract): average daily revenue and days-sales-
    * outstanding over two 1995 halves, both fact sums from ONE scan of
    * conditional aggregates. */
  def q117(s: SparkSession, d: String): DataFrame = {
    val s0 = s; import s0.implicits._
    import java.time.LocalDate
    import java.time.temporal.ChronoUnit
    val halves = Seq(
      ("h1", LocalDate.parse("1995-01-01"), LocalDate.parse("1995-06-30")),
      ("h2", LocalDate.parse("1995-07-01"), LocalDate.parse("1995-12-31")))
    def in(lo: String, hi: String) =
      col("o_orderdate").between(lo, hi)
    val aggs = halves.flatMap { case (k, lo, hi) =>
      Seq(
        sum(when(in(lo.toString, hi.toString), col("o_totalprice"))
          .otherwise(0.0)).as(s"rev_$k"),
        sum(when(in(lo.toString, hi.toString) &&
            col("o_orderpriority") === "1-URGENT", col("o_totalprice"))
          .otherwise(0.0)).as(s"recv_$k"))
    }
    val row = Tables.orders(s, d).agg(aggs.head, aggs.tail: _*).head()
    val out = halves.zipWithIndex.flatMap { case ((k, lo, hi), i) =>
      val leaves = Map(
        "REV.bal" -> row.getDouble(2 * i),
        "RECV.bal" -> row.getDouble(2 * i + 1),
        "NDAYS.val" -> ChronoUnit.DAYS.between(lo, hi).toDouble)
      val exprs = Map(
        "ADR.bal" -> AggregationEvaluator.Expr("REV.bal / NDAYS.val",
          Seq(AggregationEvaluator.RoundTo(2))),
        "DSO.bal" -> AggregationEvaluator.Expr(
          "RECV.bal / (REV.bal / NDAYS.val)",
          Seq(AggregationEvaluator.RoundTo(2))))
      val r = AggregationEvaluator.evaluate(exprs, leaves)
      Seq((k, "ADR.bal", r("ADR.bal")), (k, "DSO.bal", r("DSO.bal")),
        (k, "NDAYS.val", leaves("NDAYS.val")))
    }
    out.toDF("grp", "expr", "value").orderBy("grp", "expr")
  }

  val q117Sql: String =
    """WITH t AS (
      |  SELECT
      |    sum(CASE WHEN o_orderdate BETWEEN '1995-01-01' AND '1995-06-30'
      |        THEN o_totalprice ELSE 0 END) rev1,
      |    sum(CASE WHEN o_orderdate BETWEEN '1995-01-01' AND '1995-06-30'
      |        AND o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END) recv1,
      |    sum(CASE WHEN o_orderdate BETWEEN '1995-07-01' AND '1995-12-31'
      |        THEN o_totalprice ELSE 0 END) rev2,
      |    sum(CASE WHEN o_orderdate BETWEEN '1995-07-01' AND '1995-12-31'
      |        AND o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END) recv2,
      |    (DATE '1995-06-30' - DATE '1995-01-01') nd1,
      |    (DATE '1995-12-31' - DATE '1995-07-01') nd2
      |  FROM orders)
      |SELECT 'h1' AS grp, 'ADR.bal' AS expr, round(rev1 / nd1, 2) AS value FROM t
      |UNION ALL SELECT 'h1', 'DSO.bal', round(recv1 / (rev1 / nd1), 2) FROM t
      |UNION ALL SELECT 'h1', 'NDAYS.val', nd1::DOUBLE FROM t
      |UNION ALL SELECT 'h2', 'ADR.bal', round(rev2 / nd2, 2) FROM t
      |UNION ALL SELECT 'h2', 'DSO.bal', round(recv2 / (rev2 / nd2), 2) FROM t
      |UNION ALL SELECT 'h2', 'NDAYS.val', nd2::DOUBLE FROM t
      |ORDER BY grp, expr""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q41_domain_compiler", q41, q41Sql), Gate("q42_date_scopes", q42, q42Sql),
    Gate("q43_column_groups", q43, q43Sql), Gate("q44_agg_fixpoint", q44, q44Sql),
    Gate("q117_executive_summary", q117, q117Sql), Gate("q45_account_codes", q45, q45Sql),
    Gate("q46_cdc_diff", q46, q46Sql), Gate("q49_tax_tags", q49, q49Sql),
    Gate("q60_ec_sales", q60, q60Sql), Gate("q156_read_log", q156, q156Sql))
}
