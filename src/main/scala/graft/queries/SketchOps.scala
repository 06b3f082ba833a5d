package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables
import graft.cdc.ChangelogApply
import graft.functions.TopKByScore

/** Scale-pipeline utility gates: incremental aggregate maintenance from a
  * changelog (q81), KMV distinct-count sketching (q82), and the
  * deterministic stratified train/val/test split (q83). All three are
  * building blocks a 100 TB curation pipeline runs daily; each is gated
  * against a DuckDB oracle computing the identical arithmetic.
  */
object SketchOps {

  /** q81 — incremental aggregate maintenance ([[ChangelogApply]], the
    * consume side of §2.10): base = per-user purchase totals before the
    * split instant; changelog = the later events rendered as auditlog ops
    * (signup→create, purchase→write +7-cent bump, error→unlink). The
    * maintained aggregate touches only changed keys — the oracle folds the
    * same algebra in SQL. Values in integer cents (exact; incremental and
    * recomputed floats would drift). */
  def q81(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("c", floor(col("value") * 100 + 0.5).cast("long"))
    val split = "2024-01-16 00:00:00"
    val base = ev.filter(col("ts") < lit(split) && col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(sum(col("c")).as("total"), count(lit(1)).as("n"))
    val changelog = ev.filter(col("ts") >= lit(split))
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(col("user_id"),
        when(col("event_type") === "signup", "create")
          .when(col("event_type") === "error", "unlink")
          .otherwise("write").as("op"),
        col("c").as("old_value"), (col("c") + 7).as("new_value"))
    ChangelogApply.applySums(base, changelog, "user_id")
      .orderBy("user_id")
  }

  val q81Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, ts,
      |         CAST(floor(value * 100 + 0.5) AS BIGINT) c
      |  FROM events),
      |base AS (
      |  SELECT user_id, sum(c) total, count(*) n FROM ev
      |  WHERE ts < TIMESTAMP '2024-01-16 00:00:00' AND event_type = 'purchase'
      |  GROUP BY 1),
      |delta AS (
      |  SELECT user_id,
      |    sum(CASE event_type WHEN 'signup' THEN c + 7
      |        WHEN 'error' THEN -c ELSE 7 END) d_total,
      |    sum(CASE event_type WHEN 'signup' THEN 1
      |        WHEN 'error' THEN -1 ELSE 0 END) d_n
      |  FROM ev
      |  WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      |    AND event_type IN ('signup', 'purchase', 'error')
      |  GROUP BY 1)
      |SELECT user_id,
      |  CAST(coalesce(b.total, 0) + coalesce(d.d_total, 0) AS BIGINT) AS total,
      |  CAST(coalesce(b.n, 0) + coalesce(d.d_n, 0) AS BIGINT) AS n
      |FROM base b FULL OUTER JOIN delta d USING (user_id)
      |WHERE coalesce(b.n, 0) + coalesce(d.d_n, 0) > 0
      |ORDER BY user_id""".stripMargin

  /** KMV sketch size. */
  val K = 64

  /** q82 — KMV (k-minimum-values) distinct-count sketch per language:
    * vocabulary size estimated from the K smallest distinct word hashes,
    * est = (K−1)·M / h_K (Bar-Yossef et al.; exact count when the group
    * has fewer than K values). The per-group k-minimum state rides the
    * native bounded [[TopKByScore]] aggregate — map-side combinable, the
    * exchange carries ≤ K longs per group no matter how many words feed
    * it. Hashes are [[Parity.strHash]], so DuckDB computes the identical
    * sketch (row_number window at gate scale). */
  def q82(s: SparkSession, d: String): DataFrame = {
    val wh = Tables.documents(s, d)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .select(col("lang"), Parity.strHash(col("w")).as("h"))
      .distinct()
    wh.groupBy(col("lang"))
      .agg(count(lit(1)).as("exact_distinct"),
        TopKByScore.topK(-col("h").cast("double"), col("h"), K).as("mins"))
      .select(col("lang"), col("exact_distinct"),
        when(col("exact_distinct") < K, col("exact_distinct").cast("double"))
          .otherwise(Parity.fr(
            lit((K - 1).toDouble * Parity.HashM) / element_at(col("mins"), K)("id"),
            2)).as("est_distinct"))
      .orderBy("lang")
  }

  val q82Sql: String =
    s"""WITH wh AS (
      |  SELECT DISTINCT lang, ${Parity.strHashSql("w")} h
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) w FROM documents)
      |  WHERE w <> ''),
      |rk AS (SELECT lang, h,
      |         row_number() OVER (PARTITION BY lang ORDER BY h) rn FROM wh),
      |agg AS (SELECT lang, count(*) cnt FROM wh GROUP BY 1),
      |kth AS (SELECT lang, h FROM rk WHERE rn = $K)
      |SELECT a.lang, CAST(a.cnt AS BIGINT) AS exact_distinct,
      |  CASE WHEN a.cnt < $K THEN a.cnt::DOUBLE
      |       ELSE floor(${(K - 1).toDouble} * 2147483647 / k.h * 100 + 0.5) / 100
      |  END AS est_distinct
      |FROM agg a LEFT JOIN kth k USING (lang)
      |ORDER BY lang""".stripMargin

  /** q83 — deterministic stratified train/val/test split: bucket =
    * (doc_id · Knuth-multiplier) mod 1000 → 80/10/10. Pure map-side, no
    * sampling state, reproducible across engines and runs — the property a
    * training-data pipeline needs so re-runs don't leak val into train.
    * Gated on per-(lang, split) document and token counts. */
  def q83(s: SparkSession, d: String): DataFrame = {
    val b = pmod(col("doc_id") * lit(2654435761L), lit(1000L))
    Tables.documents(s, d)
      .withColumn("split",
        when(b < 800, "train").when(b < 900, "val").otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("lang", "split")
  }

  val q83Sql: String =
    """SELECT lang,
      |  CASE WHEN (doc_id * 2654435761) % 1000 < 800 THEN 'train'
      |       WHEN (doc_id * 2654435761) % 1000 < 900 THEN 'val'
      |       ELSE 'test' END AS split,
      |  count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |FROM documents
      |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** q91 — fixed-width histogram of document lengths per language
    * (`width_bucket`, identical binning semantics in both engines): the
    * length-distribution profile a curation pipeline inspects before
    * picking quality cut-offs. One map-side bucket assignment + one
    * grouped count — the 100 TB histogram plan. */
  def q91(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"),
        width_bucket(col("n_chars").cast("double"), lit(0.0), lit(2000.0), lit(10))
          .as("bucket"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("bucket"))

  /** DuckDB has no width_bucket; the oracle spells out the same binning
    * ((2000−0)/10 = width 200.0 exactly, so the division is identical). */
  val q91Sql: String =
    """SELECT lang,
      |  CASE WHEN n_chars < 0 THEN 0
      |       WHEN n_chars >= 2000 THEN 11
      |       ELSE CAST(floor(CAST(n_chars AS DOUBLE) / 200.0) AS BIGINT) + 1
      |  END AS bucket,
      |  count(*) AS n_docs
      |FROM documents
      |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  /** q92 — row-level MERGE ([[graft.operators.Upsert]], the reference's
    * re-upload data-repair shape): every 10th customer updated, the next
    * tenth tombstoned, another tenth re-inserted under new keys; merged in
    * ONE full-outer join. Oracle mirrors the join. */
  def q92(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val mod = base.filter(col("c_custkey") % 10 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 100)
      .withColumn("__del", lit(false))
    val dels = base.filter(col("c_custkey") % 10 === 1)
      .withColumn("__del", lit(true))
    val ins = base.filter(col("c_custkey") % 10 === 2)
      .withColumn("c_custkey", col("c_custkey") + 1000000)
      .withColumn("__del", lit(false))
    graft.operators.Upsert.merge(base,
        mod.unionByName(dels).unionByName(ins), "c_custkey", "__del")
      .orderBy("c_custkey")
  }

  val q92Sql: String =
    """WITH upd AS (
      |  SELECT c_custkey k, c_name nm, c_acctbal + 100 bal, false del
      |  FROM customer WHERE c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_acctbal, true
      |  FROM customer WHERE c_custkey % 10 = 1
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_name, c_acctbal, false
      |  FROM customer WHERE c_custkey % 10 = 2)
      |SELECT coalesce(u.k, b.c_custkey) AS c_custkey,
      |  CASE WHEN u.k IS NOT NULL THEN u.nm ELSE b.c_name END AS c_name,
      |  CASE WHEN u.k IS NOT NULL THEN u.bal ELSE b.c_acctbal END AS c_acctbal
      |FROM customer b FULL OUTER JOIN upd u ON u.k = b.c_custkey
      |WHERE NOT coalesce(u.del, false)
      |ORDER BY c_custkey""".stripMargin

  /** q93 — SCD type-2 history build: the auditlog-style change stream
    * becomes a validity-interval dimension (valid_from/valid_to via
    * lead(), version via row_number — one window pass per key). Open
    * intervals close at the sentinel so the oracle's NULL handling can't
    * drift. */
  def q93(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("value_cents"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_from", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("valid_to", coalesce(
        date_format(lead(col("ts"), 1).over(w), "yyyy-MM-dd HH:mm:ss"),
        lit("9999-12-31 00:00:00")))
      .select(col("user_id"), col("version"), col("valid_from"),
        col("valid_to"), col("value_cents"))
      .orderBy(col("user_id"), col("version"))
  }

  val q93Sql: String =
    """SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS version,
      |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |  coalesce(strftime(lead(ts, 1) OVER w, '%Y-%m-%d %H:%M:%S'),
      |           '9999-12-31 00:00:00') AS valid_to,
      |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** q96 — cohort retention: users grouped by first-seen week, activity
    * counted per subsequent week offset — the engagement matrix behind
    * every dashboard's retention chart. Two aggregations (first-seen per
    * user = one map-side-combinable min; then distinct active users per
    * (cohort, offset)); the 100 TB plan shuffles only (user) then
    * (cohort, offset). */
  def q96(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    ev.join(first, "user_id")
      .select(date_format(date_sub(col("first_day"),
          ((dayofweek(col("first_day")) + 5) % 7)), "yyyy-MM-dd").as("cohort"),
        floor(datediff(col("day"), col("first_day")) / 7).cast("long").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  val q96Sql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) dt FROM events),
      |f AS (SELECT user_id, min(dt) first_day FROM ev GROUP BY 1)
      |-- DuckDB dayofweek is 0=Sunday..6 (Spark is 1=Sunday..7): +6 here
      |-- aligns to the same Monday as Spark's +5
      |SELECT strftime(first_day - CAST(((dayofweek(first_day) + 6) % 7) AS INTEGER),
      |         '%Y-%m-%d') AS cohort,
      |  CAST(floor((dt - first_day) / 7.0) AS BIGINT) AS week_offset,
      |  count(DISTINCT ev.user_id) AS active_users
      |FROM ev JOIN f ON ev.user_id = f.user_id
      |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin

  /** q100 — the APPROXIMATE family for groups too heavy to sort: t-digest
    * quantiles (`percentile_approx`) and HyperLogLog distincts
    * (`approx_count_distinct`) per nation over order totals. The sketch
    * estimates themselves are engine-specific, so they are reduced to
    * within-10%-of-exact BOOLEAN columns; everything else in the output
    * (counts, exact median via interpolating `percentile` ≡ DuckDB
    * `quantile_cont`, exact distinct) IS oracle-gated — the oracle emits
    * literal TRUE for the two check columns, so a misconfigured sketch
    * flips a boolean and fails the hash compare. */
  def q100(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50_tdigest"),
        percentile(col("o_totalprice"), lit(0.5)).as("p50_exact"),
        approx_count_distinct(col("o_custkey")).as("custs_hll"),
        countDistinct(col("o_custkey")).as("custs_exact"))
      .select(col("n_name"), col("n_orders"), col("custs_exact"),
        col("p50_exact"),
        (abs(col("custs_hll") - col("custs_exact")).cast("double")
          < col("custs_exact") * 0.1).as("hll_ok"),
        (abs(col("p50_tdigest") - col("p50_exact"))
          < col("p50_exact") * 0.1).as("tdigest_ok"))
      .orderBy(col("n_name"))
  }

  val q100Sql: String =
    """SELECT n_name, count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS custs_exact,
      |  quantile_cont(o_totalprice, 0.5) AS p50_exact,
      |  TRUE AS hll_ok, TRUE AS tdigest_ok
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q81_cdc_apply", q81, q81Sql), Gate("q82_kmv_distinct", q82, q82Sql),
    Gate("q83_stratified_split", q83, q83Sql), Gate("q91_histogram", q91, q91Sql),
    Gate("q92_merge_upsert", q92, q92Sql), Gate("q93_scd2_history", q93, q93Sql),
    Gate("q96_cohort_retention", q96, q96Sql), Gate("q100_approx_sketches", q100, q100Sql))
}
