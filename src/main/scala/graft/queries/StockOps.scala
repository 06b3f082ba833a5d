package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables
import graft.operators.FifoValuation

/** Inventory-valuation gates (reference `etl_stock`): the FIFO
  * valuation-layer family of `stock.valuation.layer`
  * (`etl_stock/models/svl.py:34-120` — remaining_qty / remaining_value /
  * unit_cost per layer) re-expressed as the running-sum interval algebra in
  * [[graft.operators.FifoValuation]].
  *
  * Fixture mapping: `lineitem` plays the valuation ledger — odd line
  * numbers are incoming layers (unit cost = extendedprice/quantity), even
  * line numbers are outgoing consumption, FIFO order is
  * (l_shipdate, l_orderkey, l_linenumber) per part.
  *
  * Parity: quantities are integral doubles → BIGINT, so every cumulative
  * sum is exact; unit costs go through cents (`floor(x·100+0.5)` BIGINT) so
  * all value sums are integer arithmetic, divided by 100 only at the end.
  */
object StockOps {

  private val fifoOrd: Seq[Column] =
    Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))

  private def qtyL: Column = col("l_quantity").cast("long")

  /** Unit cost in integer cents, half-up — same IEEE ops in DuckDB. */
  private def ucCents: Column =
    floor(col("l_extendedprice") / col("l_quantity") * 100 + 0.5).cast("long")

  /** q78 — per-part remaining FIFO quantity and value (svl.py:54-57
    * `_compute_rem_value`: remaining_qty · unit_cost, here against the
    * part's total consumption). One window pass over layers + one grouped
    * consumption total joined per key — no pair join needed. */
  def q78(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val ins0 = li.filter(col("l_linenumber") % 2 === 1)
      .select((Seq(col("l_partkey").as("partkey"), qtyL.as("q"),
        ucCents.as("ucc")) ++ fifoOrd): _*)
    val ins = FifoValuation.cumInterval(ins0, col("partkey"), fifoOrd, col("q"))
    val cons = li.filter(col("l_linenumber") % 2 === 0)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(qtyL).as("consumed"))
    FifoValuation.remaining(ins, "partkey", cons, "consumed")
      .groupBy("partkey")
      .agg(sum("__rem").as("rem_qty"),
        (sum(col("__rem") * col("ucc")).cast("double") / 100).as("rem_value"),
        count(lit(1)).as("n_layers"))
      .orderBy("partkey")
  }

  val q78Sql: String =
    """WITH ins AS (
      |  SELECT l_partkey k, CAST(l_quantity AS BIGINT) q,
      |         CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT) ucc,
      |         sum(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_partkey
      |           ORDER BY l_shipdate, l_orderkey, l_linenumber
      |           ROWS UNBOUNDED PRECEDING) ce
      |  FROM lineitem WHERE l_linenumber % 2 = 1),
      |cons AS (
      |  SELECT l_partkey k, sum(CAST(l_quantity AS BIGINT)) c
      |  FROM lineitem WHERE l_linenumber % 2 = 0 GROUP BY 1)
      |SELECT i.k AS partkey,
      |  CAST(sum(greatest(0, least(i.q, i.ce - coalesce(c.c, 0)))) AS BIGINT) AS rem_qty,
      |  CAST(sum(greatest(0, least(i.q, i.ce - coalesce(c.c, 0))) * i.ucc) AS DOUBLE) / 100 AS rem_value,
      |  count(*) AS n_layers
      |FROM ins i LEFT JOIN cons c ON i.k = c.k
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q79 — FIFO cost allocation: every (out, in-layer) matched pair with
    * its consumed quantity and FIFO cost (Odoo's sequential `remaining_qty`
    * consumption, svl.py:34-120, as pure interval overlap). Spark side is
    * the bucketized equi-join ([[FifoValuation.allocate]], width 64 ≥ the
    * max layer size so each interval spans ≤ 2 buckets); the oracle is the
    * naive inequality join DuckDB can afford at gate scale. */
  def q79(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).filter(col("l_partkey") <= 500)
    val lineId = col("l_orderkey") * 8 + col("l_linenumber")
    def cum(parity: Int, idName: String, qName: String) = {
      val side0 = li.filter(col("l_linenumber") % 2 === parity)
        .select((Seq(col("l_partkey").as("partkey"), lineId.as(idName),
          qtyL.as(qName)) ++ (if (parity == 1) Seq(ucCents.as("ucc")) else Nil)
          ++ fifoOrd): _*)
      FifoValuation.cumInterval(side0, col("partkey"), fifoOrd, col(qName))
        .drop("l_shipdate", "l_orderkey", "l_linenumber")
    }
    val ins = cum(1, "in_id", "iq").drop("iq")
    val outs = cum(0, "out_id", "oq").drop("oq")
    FifoValuation.allocate(ins, outs, "partkey", bucketWidth = 64)
      .select(col("partkey"), col("out_id"), col("in_id"),
        col("__matched").as("matched"),
        (col("__matched") * col("ucc")).cast("double")./(100).as("cost"))
      .orderBy("partkey", "out_id", "in_id")
  }

  val q79Sql: String =
    """WITH base AS (
      |  SELECT l_partkey k, l_orderkey * 8 + l_linenumber lid,
      |         CAST(l_quantity AS BIGINT) q,
      |         CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT) ucc,
      |         l_shipdate sd, l_orderkey ok, l_linenumber ln
      |  FROM lineitem WHERE l_partkey <= 500),
      |ins AS (
      |  SELECT k, lid, q, ucc, sum(q) OVER (PARTITION BY k
      |    ORDER BY sd, ok, ln ROWS UNBOUNDED PRECEDING) ce
      |  FROM base WHERE ln % 2 = 1),
      |outs AS (
      |  SELECT k, lid, q, sum(q) OVER (PARTITION BY k
      |    ORDER BY sd, ok, ln ROWS UNBOUNDED PRECEDING) oe
      |  FROM base WHERE ln % 2 = 0)
      |SELECT i.k AS partkey, o.lid AS out_id, i.lid AS in_id,
      |  CAST(least(i.ce, o.oe) - greatest(i.ce - i.q, o.oe - o.q) AS BIGINT) AS matched,
      |  CAST((least(i.ce, o.oe) - greatest(i.ce - i.q, o.oe - o.q)) * i.ucc
      |       AS DOUBLE) / 100 AS cost
      |FROM ins i JOIN outs o
      |  ON i.k = o.k AND i.ce - i.q < o.oe AND o.oe - o.q < i.ce
      |ORDER BY partkey, out_id, in_id""".stripMargin

  /** q80 — lot/serial traceability ([[graft.operators.Traceability]],
    * reference `stock.traceability.report` / `mrp.py:1089+`): downstream
    * walk part → orders that shipped it → customers → nations, as BFS over
    * a typed-node edge table (type·10⁹ + id keeps the id spaces disjoint).
    * Depth = shortest hop count; the oracle's recursive CTE takes
    * min(depth) over all paths — identical by BFS. */
  def q80(s: SparkSession, d: String): DataFrame = {
    val T = 1000000000L
    val li = Tables.lineitem(s, d).filter(col("l_partkey") <= 20)
    // cached: the part→order layer is consumed three times (edge union,
    // the e2 prune's build side, and the seed set below) and is trace-
    // sized after the filter — without the cache each consumer re-scans
    // lineitem, the only fact-scale table this gate touches. NOT
    // distinct'd: duplicate edges change no BFS output (the driver walk
    // dedups via its visited map; the distributed loop dedups per hop),
    // so the dedup shuffle bought nothing — the cache is now a pure
    // scan+project, no exchange
    val e1 = li.select((col("l_partkey") + lit(T)).as("src"),
      (col("l_orderkey") + lit(2 * T)).as("dst")).cache()
    val e2 = Tables.orders(s, d).select(
      (col("o_orderkey") + lit(2 * T)).as("src"),
      (col("o_custkey") + lit(3 * T)).as("dst"))
    val e3 = Tables.customer(s, d).select(
      (col("c_custkey") + lit(3 * T)).as("src"),
      (col("c_nationkey") + lit(4 * T)).as("dst"))
    // Prune each downstream layer to the TRACE subgraph before the walk:
    // the graph is layered (disjoint typed-id spaces), so an orders/
    // customer edge is reachable iff its src appears in the previous
    // layer's dst set — a semi-join per layer. The BFS result is
    // IDENTICAL (BFS never walks unreachable edges; hop budget 5 covers
    // all 3 layers), but the operator now caches/counts/collects the
    // ~1k-edge trace instead of every order and customer edge — at
    // 100 TB the difference between shipping the move GRAPH and the
    // lot's trace, mirroring the reference's per-lot linked-move walk.
    // Build sides broadcast WITHOUT a distinct: a left-semi probe dedups
    // by nature, so deduping the build only traded a few duplicate hash
    // keys for a full shuffle stage per layer — measured at gate scale,
    // the two distincts were most of the edge-construction cost
    // (0.90 s → 0.35 s warm). Bounded: each build is the
    // previous TRACE layer's dst list (e1 is filtered+distinct, e2p is
    // orders semi-joined to it), never a fact-scale set.
    val e2p = e2.join(broadcast(e1.select(col("dst").as("j"))),
      col("src") === col("j"), "left_semi")
    val e3p = e3.join(broadcast(e2p.select(col("dst").as("j"))),
      col("src") === col("j"), "left_semi")
    // every filtered lineitem row yields an e1 edge, so the seed set IS
    // e1's distinct src — read from the cache, not a second lineitem scan
    val seeds = e1.select(col("src").as("id")).distinct()
    val out = graft.operators.Traceability
      .reach(e1.unionByName(e2p).unionByName(e3p), seeds, maxHops = 5)
      .orderBy("root", "node")
    // the driver fast path fully materializes before returning, so the
    // cache has served all three consumers by now; for the distributed
    // path every hop is localCheckpoint-ed (lineage truncated), so the
    // unpersist is safe either way
    e1.unpersist()
    out
  }

  val q80Sql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT 1000000000 + l_partkey AS src,
      |         2000000000 + l_orderkey AS dst
      |  FROM lineitem WHERE l_partkey <= 20
      |  UNION ALL
      |  SELECT 2000000000 + o_orderkey, 3000000000 + o_custkey FROM orders
      |  UNION ALL
      |  SELECT 3000000000 + c_custkey, 4000000000 + c_nationkey FROM customer),
      |seeds AS (SELECT DISTINCT 1000000000 + l_partkey AS id
      |          FROM lineitem WHERE l_partkey <= 20),
      |reach AS (
      |  SELECT id AS root, id AS node, 0 AS depth FROM seeds
      |  UNION
      |  SELECT r.root, e.dst, r.depth + 1
      |  FROM reach r JOIN edges e ON r.node = e.src WHERE r.depth < 5)
      |SELECT root, node, CAST(min(depth) AS BIGINT) AS depth
      |FROM reach GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q78_fifo_remaining", q78, q78Sql), Gate("q79_fifo_allocation", q79, q79Sql),
    Gate("q80_traceability", q80, q80Sql))
}
