package graft.queries

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.Queries.Gate
import graft.{SessionConf, Tables}
import graft.engine.{BranchContext, Domain, ExternalValues, ReportRunner => RR}
import graft.report.LineTree

/** Correctness gates for the components that round 1 left spec-only
  * (VERDICT "Next round" item 3): the external-values engine with a real
  * carryover round-trip (q65), the rendered LineTree golden matrix (q66),
  * CSV ingestion (q67), branch row-level security (q68), the
  * SQL-expressible half of the multimodal module (q69), and `=like`/
  * `ilike`/`like` domain operators (q70). Each pairs a Spark query with a
  * DuckDB oracle over the same parquet fixtures.
  */
object GateOps {

  /** floor(x·100+0.5)/100 — deterministic 2-decimal rounding computed the
    * same way driver-side and in DuckDB (see [[Parity.fr]]). */
  private def r2(v: Double): Double = math.floor(v * 100 + 0.5) / 100

  /** q65 — external engine (§2.5) end-to-end WITH carryover
    * (account_report.py:2866-2943 sum/most_recent, :2971-3057 carryover):
    * external values derived from `orders` (expression_id = priority,
    * value = total price, date = order date); evaluate H1-1995, persist
    * H1's sum as a carryover value dated at H2's first day via the real
    * parquet append path, then evaluate both halves over the unioned
    * external table. most_recent is the SUM at the latest in-window date
    * (account_report.py:2907-2912 GROUP BY date ORDER BY date DESC LIMIT 1
    * around SUM). The oracle recomputes the whole chain in SQL. */
  def q65(s: SparkSession, d: String): DataFrame = {
    val ext0 = Tables.orders(s, d).select(
      col("o_orderpriority").as("expression_id"),
      col("o_totalprice").as("value"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("date"),
      col("o_orderkey").as("value_id"))
    val groups = Seq(
      RR.ColumnGroup("h1", LocalDate.parse("1995-01-01"), LocalDate.parse("1995-06-30")),
      RR.ColumnGroup("h2", LocalDate.parse("1995-07-01"), LocalDate.parse("1995-12-31")))
    val exprs = Seq(
      RR.Expr("SUM.val", RR.External("1-URGENT")),
      RR.Expr("LAST.val", RR.External("2-HIGH", mostRecent = true)))
    val ctx = RR.Ctx(journal = ext0, dateCol = col("date"),
      codeCol = col("expression_id"), measure = col("value"),
      external = Some(ext0))
    // period-1 run, then the carryover round-trip through parquet
    val t1 = RR.run(ctx, exprs, groups.take(1))
    val dir = graft.Scratch.fresh("gate_ext_carry")
    ExternalValues.carryover(s, Map("CARRY.val" -> t1("h1")("SUM.val")),
      "1995-07-01", dir.getPath)
    val extAll = ext0.unionByName(ExternalValues.load(s, dir.getPath)
      .select("expression_id", "value", "date", "value_id"))
    val t2 = RR.run(ctx.copy(external = Some(extAll)),
      exprs :+ RR.Expr("CARRY.val", RR.External("CARRY.val")), groups)
    import s.implicits._
    groups.flatMap(g => Seq("SUM.val", "LAST.val", "CARRY.val").map(c =>
        (g.key, c, r2(t2(g.key)(c)))))
      .toDF("grp", "code", "val").orderBy("grp", "code")
  }

  val q65Sql: String =
    """WITH ext AS (
      |  SELECT o_orderpriority eid, o_totalprice v,
      |         strftime(o_orderdate, '%Y-%m-%d') dt, o_orderkey vid
      |  FROM orders),
      |h1u AS (SELECT coalesce(sum(v), 0) t FROM ext
      |        WHERE eid = '1-URGENT' AND dt BETWEEN '1995-01-01' AND '1995-06-30'),
      |h2u AS (SELECT coalesce(sum(v), 0) t FROM ext
      |        WHERE eid = '1-URGENT' AND dt BETWEEN '1995-07-01' AND '1995-12-31'),
      |l1 AS (SELECT coalesce((SELECT sum(v) FROM ext
      |        WHERE eid = '2-HIGH' AND dt BETWEEN '1995-01-01' AND '1995-06-30'
      |        GROUP BY dt ORDER BY dt DESC LIMIT 1), 0) t),
      |l2 AS (SELECT coalesce((SELECT sum(v) FROM ext
      |        WHERE eid = '2-HIGH' AND dt BETWEEN '1995-07-01' AND '1995-12-31'
      |        GROUP BY dt ORDER BY dt DESC LIMIT 1), 0) t)
      |SELECT 'h1' grp, 'SUM.val' code, floor((SELECT t FROM h1u)*100+0.5)/100 val
      |UNION ALL SELECT 'h1', 'LAST.val', floor((SELECT t FROM l1)*100+0.5)/100
      |UNION ALL SELECT 'h1', 'CARRY.val', 0.0
      |UNION ALL SELECT 'h2', 'SUM.val', floor((SELECT t FROM h2u)*100+0.5)/100
      |UNION ALL SELECT 'h2', 'LAST.val', floor((SELECT t FROM l2)*100+0.5)/100
      |UNION ALL SELECT 'h2', 'CARRY.val', floor((SELECT t FROM h1u)*100+0.5)/100
      |ORDER BY grp, code""".stripMargin

  /** q66 — the rendered report tree (A16 rollup + O2 tree sort + hide-if-
    * zero), the reference's dominant golden-matrix test pattern
    * (account_reports/tests/common.py:129-192 assertLinesValues):
    * region→nation hierarchy over high-balance customer sums, empty
    * nations pruned, siblings value-sorted desc with the grand-total line
    * pinned last, flattened to (display order, id, label, depth, value). */
  def q66(s: SparkSession, d: String): DataFrame = {
    val sums = Tables.customer(s, d).filter(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey")).agg(sum(col("c_acctbal")).as("v"))
    // LEFT join keeps empty nations as zero lines so hideZero really prunes
    val nat = Tables.nation(s, d)
      .join(sums, col("n_nationkey") === col("c_nationkey"), "left")
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"),
        coalesce(col("v"), lit(0.0)).as("v"))
      .collect() // bounded by the dimension (25 nations), the LineTree contract
    val regions = Tables.region(s, d)
      .select(col("r_regionkey").cast("long"), col("r_name")).collect()
    val natLines = nat.toSeq.map(r => LineTree.Line(s"N${r.getLong(0)}",
      Some(s"R${r.getLong(2)}"), r.getString(1), Seq(r.getDouble(3))))
    val regLines = regions.toSeq.map(r => LineTree.Line(s"R${r.getLong(0)}",
      None, r.getString(1), Seq(0.0)))
    val total = LineTree.Line("TOTAL", None, "Total",
      Seq(nat.map(_.getDouble(3)).sum), isTotal = true)
    val rendered = LineTree.sortTree(
      LineTree.hideZero(LineTree.build((regLines :+ total) ++ natLines)),
      colIdx = 0, desc = true)
    def walk(ns: Seq[LineTree.Node], depth: Int): Seq[(String, String, Int, Double)] =
      ns.flatMap(n => (n.line.id, n.line.name, depth, n.rollup.head) +: walk(n.children, depth + 1))
    import s.implicits._
    walk(rendered, 0).zipWithIndex.map { case ((id, label, depth, v), i) =>
      (i.toLong + 1, id, label, depth.toLong, r2(v))
    }.toDF("ord", "line_id", "lbl", "depth", "val")
  }

  val q66Sql: String =
    """WITH cs AS (SELECT c_nationkey k, sum(c_acctbal) v FROM customer
      |            WHERE c_acctbal > 9900 GROUP BY 1),
      |nat AS (SELECT n.n_regionkey rk, 'N' || n.n_nationkey id, n.n_name lbl, cs.v v
      |        FROM nation n JOIN cs ON cs.k = n.n_nationkey),
      |reg AS (SELECT r.r_regionkey rk, 'R' || r.r_regionkey id, r.r_name lbl,
      |               (SELECT sum(v) FROM nat WHERE nat.rk = r.r_regionkey) v
      |        FROM region r
      |        WHERE EXISTS (SELECT 1 FROM nat WHERE nat.rk = r.r_regionkey)),
      |rows_ AS (
      |  SELECT 0 istotal, lbl rlbl, 0 depth, 0.0 sortv, id, lbl, v FROM reg
      |  UNION ALL
      |  SELECT 0, (SELECT lbl FROM reg WHERE reg.rk = nat.rk), 1, -v, id, lbl, v FROM nat
      |  UNION ALL
      |  SELECT 1, '', 0, 0.0, 'TOTAL', 'Total', (SELECT sum(v) FROM nat))
      |SELECT CAST(row_number() OVER (ORDER BY istotal, rlbl, depth, sortv, lbl) AS BIGINT) ord,
      |       id line_id, lbl, CAST(depth AS BIGINT) depth,
      |       floor(v*100+0.5)/100 val
      |FROM rows_ ORDER BY ord""".stripMargin

  /** q67 — CSV ingestion S4 (etl_stock read_csv_file*, company.py:396-413):
    * the nation dim is round-tripped parquet → CSV file (+1 corrupt row) →
    * [[graft.sources.CsvSource.ingest]] (schema-enforced PERMISSIVE read,
    * valid/corrupt split, parquet landing) → aggregate. The oracle
    * aggregates `nation` directly; valid/corrupt counts ride along as
    * columns. */
  def q67(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.fresh("gate_csv")
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy("n_nationkey").collect() // dim table: 25 rows at every SF
    val csv = new java.io.File(dir, "nation.csv")
    val pw = new java.io.PrintWriter(csv)
    try {
      pw.println("n_nationkey,n_name,n_regionkey")
      rows.foreach(r => pw.println(s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)}"))
      pw.println("oops,CORRUPT,notanumber") // exercises the bad-row split
    } finally pw.close()
    val schema = StructType(Seq(StructField("n_nationkey", LongType),
      StructField("n_name", StringType), StructField("n_regionkey", LongType)))
    val dest = new java.io.File(dir, "landed").getPath
    val (valid, corrupt) = graft.sources.CsvSource.ingest(s, csv.getPath, schema, dest)
    s.read.parquet(dest)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n_nations"), min("n_name").as("first_nation"))
      .withColumn("n_valid", lit(valid))
      .withColumn("n_corrupt", lit(corrupt))
      .orderBy("n_regionkey")
  }

  val q67Sql: String =
    """SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey, count(*) AS n_nations, min(n_name) AS first_nation,
      |  (SELECT count(*) FROM nation) AS n_valid, CAST(1 AS BIGINT) AS n_corrupt
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  /** q68 — branch row-level security P4 (branch/models/account_move.py:
    * 31-51): customers get a branch (NULL for every 7th nation), the
    * context filter keeps allowed branches PLUS branch-less rows, then a
    * normal aggregate. The oracle mirrors the injected OR-domain. */
  def q68(s: SparkSession, d: String): DataFrame = {
    val facts = Tables.customer(s, d).withColumn("branch_id",
      when(col("c_nationkey") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("c_nationkey").cast("long")))
    BranchContext(Seq(1L, 2L, 3L))(facts)
      .groupBy("branch_id")
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("c_acctbal")) * 100 + 0.5) / 100).as("bal"))
      .orderBy("branch_id")
  }

  val q68Sql: String =
    """SELECT CAST(CASE WHEN c_nationkey % 7 = 0 THEN NULL ELSE c_nationkey END AS BIGINT) AS branch_id,
      |  count(*) AS n, floor(sum(c_acctbal)*100+0.5)/100 AS bal
      |FROM customer
      |WHERE c_nationkey % 7 = 0 OR c_nationkey IN (1, 2, 3)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q69 — the SQL-expressible half of the multimodal module: documents
    * become media rows (payload = text bytes, kind by doc_id mod 3, video
    * duration from n_chars), run through the real plumbing —
    * [[graft.multimodal.Multimodal.extractFeatures]] (per-partition codec,
    * n_bytes from the payload) and `sampleFrames` (one row per 500 ms) —
    * and aggregated per kind. The oracle computes payload sizes via
    * octet_length and the frame count closed-form. */
  def q69(s: SparkSession, d: String): DataFrame = {
    import graft.multimodal.Multimodal
    import s.implicits._
    val media = Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        col("text").cast("binary").as("payload"),
        struct(lit("stub").as("format"), lit(64).as("width"), lit(64).as("height"),
          when(col("doc_id") % 3 === 2, col("n_chars") * 10)
            .otherwise(lit(0L)).as("durationMs")).as("meta"))
      .as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media).toDF()
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"), sum("n_bytes").as("n_bytes"))
    val frames = Multimodal.sampleFrames(media, everyMs = 500)
      .agg(count(lit(1)).as("n_frames")).withColumn("kind", lit("video"))
    feats.join(frames, Seq("kind"), "left")
      .na.fill(0L, Seq("n_frames"))
      .orderBy("kind")
  }

  val q69Sql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END kind,
      |    octet_length(encode(text)) nb,
      |    CASE WHEN doc_id % 3 = 2 THEN n_chars * 10 ELSE 0 END dur
      |  FROM documents)
      |SELECT kind, count(*) AS n_media, CAST(sum(nb) AS BIGINT) AS n_bytes,
      |  CAST(sum(CASE WHEN dur > 0 THEN (dur - 1) // 500 + 1 ELSE 0 END) AS BIGINT) AS n_frames
      |FROM m GROUP BY kind ORDER BY kind""".stripMargin

  /** q70 — `=like` / `ilike` / `like` domain operators compiled to pushed-
    * down predicates (reference operator set account_report.py:606-620;
    * Odoo `like` = contains, `=like` = raw pattern, `ilike` =
    * case-insensitive contains). */
  def q70(s: SparkSession, d: String): DataFrame = {
    val dom = Seq("|",
      ("p_type", "=like", "PROMO%"),
      "&", ("p_brand", "ilike", "Brand#1"), ("p_name", "like", "green"))
    Tables.part(s, d).filter(Domain.compile(dom))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("p_retailprice")) * 100 + 0.5) / 100).as("price"))
      .orderBy("p_brand")
  }

  val q70Sql: String =
    """SELECT p_brand, count(*) AS n, floor(sum(p_retailprice)*100+0.5)/100 AS price
      |FROM part
      |WHERE p_type LIKE 'PROMO%'
      |   OR (lower(p_brand) LIKE '%' || lower('Brand#1') || '%'
      |       AND p_name LIKE '%green%')
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** q109 — negated pattern domains (`not like` / `not ilike`,
    * completing the reference ORM's pattern-operator family next to
    * q70's like/=like/ilike): both negations compose under & and push
    * down to the scan like any other predicate. */
  def q109(s: SparkSession, d: String): DataFrame = {
    val dom = Seq("&",
      ("p_name", "not ilike", "GREEN"),
      ("p_type", "not like", "PROMO"))
    Tables.part(s, d).filter(Domain.compile(dom))
      .groupBy("p_type")
      .agg(count(lit(1)).as("n"),
        (floor(sum(col("p_retailprice")) * 100 + 0.5) / 100).as("price"))
      .orderBy("p_type")
  }

  val q109Sql: String =
    """SELECT p_type, count(*) AS n, floor(sum(p_retailprice)*100+0.5)/100 AS price
      |FROM part
      |WHERE NOT (lower(p_name) LIKE '%' || lower('GREEN') || '%')
      |  AND NOT (p_type LIKE '%PROMO%')
      |GROUP BY p_type ORDER BY p_type""".stripMargin

  /** q113 — the bank reconciliation report
    * ([[graft.report.Handlers.Reconciliation]], reference
    * account_bank_reconciliation_report.py): statements = 1-URGENT orders,
    * payments = 2-HIGH orders, amounts sign-split by key, reconciled /
    * outstanding flags deterministic — book balance, the four
    * plus/less sections, and the unexplained difference in one line set. */
  def q113(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def amount = when(col("o_orderkey") % 3 === 0, -col("o_totalprice"))
      .otherwise(col("o_totalprice")).as("amount")
    val st = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(amount, (col("o_orderkey") % 7 =!= 0).as("reconciled"))
    val pay = o.filter(col("o_orderpriority") === "2-HIGH")
      .select(amount, (col("o_orderkey") % 5 === 0).as("outstanding"))
    graft.report.Handlers.Reconciliation.compute(st, pay).orderBy("ord")
  }

  val q113Sql: String =
    """WITH st AS (
      |  SELECT CASE WHEN o_orderkey%3=0 THEN -o_totalprice ELSE o_totalprice END amount,
      |         o_orderkey%7 <> 0 reconciled
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |pay AS (
      |  SELECT CASE WHEN o_orderkey%3=0 THEN -o_totalprice ELSE o_totalprice END amount,
      |         o_orderkey%5 = 0 outstanding
      |  FROM orders WHERE o_orderpriority = '2-HIGH'),
      |sa AS (SELECT count(*)::BIGINT n, sum(amount) gl,
      |         sum(CASE WHEN reconciled THEN amount ELSE 0 END) rec,
      |         sum(CASE WHEN NOT reconciled AND amount > 0 THEN 1 ELSE 0 END)::BIGINT np,
      |         sum(CASE WHEN NOT reconciled AND amount > 0 THEN amount ELSE 0 END) pl,
      |         sum(CASE WHEN NOT reconciled AND amount < 0 THEN 1 ELSE 0 END)::BIGINT nl,
      |         sum(CASE WHEN NOT reconciled AND amount < 0 THEN amount ELSE 0 END) ls
      |       FROM st),
      |pa AS (SELECT
      |         sum(CASE WHEN outstanding AND amount > 0 THEN 1 ELSE 0 END)::BIGINT np,
      |         sum(CASE WHEN outstanding AND amount > 0 THEN amount ELSE 0 END) pl,
      |         sum(CASE WHEN outstanding AND amount < 0 THEN 1 ELSE 0 END)::BIGINT nl,
      |         sum(CASE WHEN outstanding AND amount < 0 THEN amount ELSE 0 END) ls
      |       FROM pay)
      |SELECT CAST(1 AS BIGINT) ord, 'balance_gl' section, n n_lines,
      |       floor(gl*100+0.5)/100 amount FROM sa
      |UNION ALL SELECT 2, 'plus_unreconciled_statements', np, floor(pl*100+0.5)/100 FROM sa
      |UNION ALL SELECT 3, 'less_unreconciled_statements', nl, floor(ls*100+0.5)/100 FROM sa
      |UNION ALL SELECT 4, 'plus_outstanding_payments', np, floor(pl*100+0.5)/100 FROM pa
      |UNION ALL SELECT 5, 'less_outstanding_payments', nl, floor(ls*100+0.5)/100 FROM pa
      |UNION ALL SELECT 6, 'unexplained_difference', 0, floor((gl-rec)*100+0.5)/100 FROM sa
      |ORDER BY ord""".stripMargin

  /** q116 — reconciliation matching suggestions
    * ([[graft.operators.ReconcileMatch]]): statement lines = 1-URGENT
    * orders with q113's signed amounts; candidate move lines = all orders
    * (same sign rule, reconciled = key%7!=0). Each line's suggestions are
    * the unreconciled lines with exactly its residual, classified by sign,
    * best = min id. */
  def q116(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def signed = when(col("o_orderkey") % 3 === 0, -col("o_totalprice"))
      .otherwise(col("o_totalprice"))
    val st = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("line_id"), signed.as("amount"))
    val amls = o.select(col("o_orderkey").as("aml_id"), signed.as("residual"),
      (col("o_orderkey") % 7 =!= 0).as("reconciled"))
    graft.operators.ReconcileMatch.suggest(st, amls)
      .withColumn("amount", floor(col("amount") * 100 + 0.5) / 100)
      .orderBy("line_id")
  }

  val q116Sql: String =
    """WITH st AS (
      |  SELECT o_orderkey line_id,
      |         CASE WHEN o_orderkey%3=0 THEN -o_totalprice ELSE o_totalprice END amount
      |  FROM orders WHERE o_orderpriority = '1-URGENT'),
      |amls AS (
      |  SELECT o_orderkey aml_id,
      |         CASE WHEN o_orderkey%3=0 THEN -o_totalprice ELSE o_totalprice END residual
      |  FROM orders WHERE o_orderkey%7 = 0)
      |SELECT line_id, floor(amount*100+0.5)/100 amount,
      |  CASE WHEN amount > 0 THEN 'receivable_matching'
      |       ELSE 'payable_matching' END match_class,
      |  count(*)::BIGINT n_candidates, min(aml_id) best_aml
      |FROM st JOIN amls ON residual = amount
      |GROUP BY line_id, amount ORDER BY line_id""".stripMargin

  /** q118 — cheque print lines (reference dev_print_cheque
    * report/print_cheque.py:34-60): amount-in-words via the native
    * [[graft.functions.AmountInWordsExpr]], split into two cheque lines
    * at the format's first-line word budget. num2words has no DuckDB
    * equivalent, but the output is fully deterministic (fixed sf0.01
    * input, pure word rendering), so the oracle is a literal golden
    * VALUES table pinned from a verified run — hash-gated like every
    * other query; the same goldens are spec'd in SourcesHandlersSpec. */
  def q118(s: SparkSession, d: String): DataFrame = {
    val words = split(graft.functions.AmountInWords.of(col("o_totalprice")), " ")
    Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      .orderBy(col("o_orderkey")).limit(20)
      .select(col("o_orderkey").as("cheque_no"), col("o_custkey").as("payee"),
        (floor(col("o_totalprice") * 100 + 0.5) / 100).as("amount"),
        concat_ws(" ", slice(words, 1, 6)).as("line1"),
        concat_ws(" ", slice(words, 7, 1000)).as("line2"))
      .orderBy(col("cheque_no"))
  }

  /** Stages a file-source streaming fixture for the q157/q159/q160
    * driver gates: `staged` must carry an integer `__b` micro-batch
    * column (1..n) partitioning the intended arrival order. ONE coalesced
    * partitionBy write emits every batch file (a per-batch loop would
    * re-run the fixture plan n times), then each batch's single part file
    * moves into the returned source dir with STRICTLY INCREASING mtimes:
    * FileStreamSource orders by modification time, not name (1 s apart —
    * past any fs granularity; pinned to the past so no future mtimes),
    * and an mtime tie could deliver a later batch first — e.g. q157's
    * write/unlink deltas before their creates, which the n>0 snapshot
    * pruning then legitimately drops. */
  private[graft] def stageBatches(staged: DataFrame, n: Int, tag: String): java.io.File = {
    val src = graft.Scratch.fresh(s"${tag}_src")
    val tmp = graft.Scratch.fresh(s"${tag}_tmp")
    staged.coalesce(1).write.mode("overwrite")
      .partitionBy("__b").parquet(tmp.getPath)
    val t0 = System.currentTimeMillis() - 60000L
    (1 to n).foreach { b =>
      // an EMPTY batch writes no __b=<b> dir (partitionBy emits only
      // populated partitions) — skip it: an absent file and an empty
      // micro-batch stream identically, and later batch numbers keep
      // their increasing mtimes
      Option(new java.io.File(tmp, s"__b=$b").listFiles())
        .flatMap(_.find(_.getName.endsWith(".parquet")))
        .foreach { part =>
          val dst = new java.io.File(src, f"batch_$b%02d.parquet")
          java.nio.file.Files.copy(part.toPath, dst.toPath)
          dst.setLastModified(t0 + b * 1000L): Unit
        }
    }
    src
  }

  /** Schema of the 5 % user events slice (value in integer cents) that
    * the watermark gates stream. */
  private val SliceSchema =
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"

  /** A staged src dir read back as a file stream, one batch file per
    * micro-batch, in the arrival order the staged mtimes pin. */
  private def fileStream(s: SparkSession, src: java.io.File,
      schema: String = SliceSchema): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src.getPath)

  /** Starts `df` into an append parquet sink at `store`. */
  private def toParquet(df: Dataset[_], store: java.io.File,
      ckpt: java.io.File): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", store.getPath)
      .option("checkpointLocation", ckpt.getPath)
      .start()

  /** Runs a streaming gate's query to the end of its staged input:
    * `start`, `processAllAvailable`, `stop`. The query runs with 4 shuffle
    * partitions (plus any `extraConf`): its bounded sample needs no width,
    * and a state-store instance per partition per micro-batch is the
    * gate's fixed cost; a production deployment sizes this to its key
    * cardinality. The settings are applied before `start` and held until
    * the query stops: the stream thread copies the session's conf once,
    * through a session clone made AFTER `start()` returns, so a later set
    * never reaches it and an earlier restore races the copy. Nothing else
    * plans queries while a gate runs ([[graft.Queries]]' contract). */
  private def drain(s: SparkSession, extraConf: (String, String)*)(
      start: => StreamingQuery): Unit =
    SessionConf.scoped(s, ("spark.sql.shuffle.partitions" -> "4") +: extraConf: _*) {
      val q = start
      try q.processAllAvailable() finally q.stop()
    }

  /** The shared streaming fixture, staged ONCE per (application, data
    * dir): five gates (q159/q163/q164/q165/q167) stream the IDENTICAL
    * 5 %-user events slice (integer cents) as the same 4 time-quartile
    * batch files, and each used to re-run the scan + max-ts aggregate +
    * global ntile + coalesced write (~0.5–1 s apiece, ~a quarter of the
    * streaming block's cost — VERDICT r8 next-list #4's "shared fixture
    * staging"). The memo builds the quartile files and records the max
    * ts; [[sharedSliceSrc]] then hands each gate a PRIVATE copy (driver-
    * side file copy of KB-sized files, mtimes pinned to arrival order) so
    * q165's hold-back moves and per-gate sentinel batches never touch the
    * shared artifact. Ledgered as `setup_evslice4` in [[graft.Bench]]. */
  private[graft] def buildEvSliceMemo(s: SparkSession, d: String): String =
    ArtifactMemo.path(s, d, "evslice4") { out =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val evs = Tables.events(s, d)
        .filter(col("user_id") % 20 === 0)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          floor(col("value") * 100 + 0.5).cast("double").as("value"))
      val maxTs = evs.agg(max(col("ts"))).head().getTimestamp(0)
      val staged = evs.withColumn("__b",
        ntile(4).over(Window.orderBy(col("ts"), col("event_id"))))
      // the sentinel batches are memoized too: the watermark gates share
      // two fixed shapes (q159/q165/q167's "x" pair; q164's both-sides
      // click+purchase pair), both pure functions of maxTs — building
      // them here turns per-gate staging into file copies with ZERO
      // Spark jobs per gate
      val sentX = Seq(
        (-1L, new java.sql.Timestamp(maxTs.getTime + 86400000L), -1L, "x", 0.0, 5),
        (-2L, new java.sql.Timestamp(maxTs.getTime + 93600000L), -1L, "x", 0.0, 6))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "__b")
      val sentCp = Seq(
        (-1L, new java.sql.Timestamp(maxTs.getTime + 86400000L), -1L, "click", 0.0, 5),
        (-2L, new java.sql.Timestamp(maxTs.getTime + 86400000L), -1L, "purchase", 0.0, 5),
        (-3L, new java.sql.Timestamp(maxTs.getTime + 93600000L), -1L, "click", 0.0, 6),
        (-4L, new java.sql.Timestamp(maxTs.getTime + 93600000L), -1L, "purchase", 0.0, 6))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "__b")
      val outF = new java.io.File(out)
      def emit(frame: DataFrame, tmpTag: String, prefix: String, bs: Seq[Int]): Unit = {
        val tmp = graft.Scratch.fresh(tmpTag)
        frame.coalesce(1).write.mode("overwrite")
          .partitionBy("__b").parquet(tmp.getPath)
        // A bucket ntile never populated (a micro corpus with fewer slice
        // rows than buckets) still gets a FILE — an empty parquet with
        // the batch schema. The memo contract sharedSliceSrc enforces
        // ("every wanted file exists on a successful build") must hold on
        // every corpus, or the strict check turns a legitimate tiny
        // fixture into a permanent hard-fail; an empty batch file streams
        // as an empty micro-batch, which is the semantics the absent file
        // used to get implicitly.
        lazy val emptyPart: java.io.File = {
          val et = graft.Scratch.fresh(s"${tmpTag}_empty")
          frame.drop("__b").limit(0).coalesce(1)
            .write.mode("overwrite").parquet(et.getPath)
          Option(et.listFiles()).flatMap(_.find(_.getName.endsWith(".parquet")))
            .getOrElse(sys.error(s"empty-batch parquet write produced no part file in $et"))
        }
        bs.foreach { b =>
          val part = Option(new java.io.File(tmp, s"__b=$b").listFiles())
            .flatMap(_.find(_.getName.endsWith(".parquet")))
            .getOrElse(emptyPart)
          java.nio.file.Files.copy(part.toPath,
            new java.io.File(outF, f"$prefix$b%02d.parquet").toPath): Unit
        }
      }
      emit(staged, "evslice4_tmp", "batch_", 1 to 4)
      emit(sentX, "evslice4_sx_tmp", "sentx_", Seq(5, 6))
      emit(sentCp, "evslice4_scp_tmp", "sentcp_", Seq(5, 6))
      java.nio.file.Files.writeString(
        new java.io.File(outF, "maxts.txt").toPath, maxTs.getTime.toString): Unit
    }

  /** A per-gate src dir holding a private mtime-pinned copy of the memo's
    * quartile files as batches 1–4 — plus, when `sentinels` names a memo
    * variant ("sentx" or "sentcp"), that variant's files as batches 5–6.
    * Pure driver-side file copies; the later mtimes keep arrival order. */
  private def sharedSliceSrc(s: SparkSession, d: String, tag: String,
      sentinels: Option[String] = None): java.io.File = {
    val root = buildEvSliceMemo(s, d)
    val src = graft.Scratch.fresh(s"${tag}_src")
    val t0 = System.currentTimeMillis() - 60000L
    val wanted = (1 to 4).map(b => f"batch_$b%02d.parquet" -> b) ++
      sentinels.toSeq.flatMap(v => Seq(5, 6).map(b => f"${v}_$b%02d.parquet" -> b))
    for ((name, b) <- wanted) {
      val from = new java.io.File(root, name)
      // STRICT (r10, ADVICE r9 #3): the memo build always emits every file
      // on success, so a missing one means an incomplete/corrupt memo dir —
      // silently skipping it would stream fewer batches than the gate's
      // semantics require and only surface later as an oracle mismatch.
      require(from.exists(),
        s"evslice4 memo at $root is missing $name — incomplete memo dir " +
          "(delete it to force a rebuild)")
      val dst = new java.io.File(src, f"batch_$b%02d.parquet")
      java.nio.file.Files.copy(from.toPath, dst.toPath)
      dst.setLastModified(t0 + b * 1000L): Unit
    }
    src
  }

  /** q157 — streaming changelog materialization, EXECUTED as a real
    * Structured Streaming query (VERDICT r4 "missing" #1: the streaming
    * layer's claims rested on ScalaTest alone; this gate drives
    * [[graft.streaming.EventsStream.maintainAggregate]] through the
    * driver's oracle check). A deterministic CDC log is derived from
    * `orders` (10 % orderkey sample; op create/write/unlink by key
    * residue, integer cents as the exact value type the fold contract
    * requires), split into 4 files, and streamed file-per-micro-batch
    * (`maxFilesPerTrigger=1`) through the foreachBatch snapshot-version
    * fold. The gate returns the FINAL persisted snapshot; the oracle is
    * the one-shot fold of the same log — deltas are abelian, so N
    * micro-batches must equal 1 batch apply exactly.
    *
    * Scale posture: the scratch fixture is harness-side plumbing standing
    * in for Kafka/object-store arrivals; the fold itself shuffles only
    * the CHANGED keys per batch (ChangelogApply) and snapshot versions
    * are immutable dirs — the Delta-MERGE shape. Runs the streaming query
    * at CONSTRUCTION time (bounded: 4 micro-batches over the 10 % sample;
    * documented in [[graft.Queries]]' gate-runner contract). */
  def q157(s: SparkSession, d: String): DataFrame = {
    // The log must honor the applySums contract — one row per TRACKED
    // RECORD, a record's write/unlink carrying its actual current value —
    // so the batches model a real lifecycle: batch 0 creates every sampled
    // record, batch 1 bumps a subset (+100), batch 2 unlinks a subset at
    // its then-current value, batch 3 bumps survivors (+7). (An
    // inconsistent log, e.g. unlinks of never-created values, makes
    // per-key counts dip to 0 mid-stream with nonzero totals; the
    // snapshot's n>0 pruning then legitimately diverges from one-shot.)
    // Residues come from orderkey/10 (exact: the sample keeps multiples
    // of 10, so raw-key %5 would be constant-true).
    val base = Tables.orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select((col("o_orderkey") / 10).cast("long").as("kk"),
        (col("o_custkey") % 100).as("k"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    val cur = col("cents") + when(col("kk") % 5 === 0, 100L).otherwise(0L)
    val batches = Seq(
      base.select(col("k"), lit("create").as("op"),
        lit(0L).as("old_value"), col("cents").as("new_value")),
      base.filter(col("kk") % 5 === 0)
        .select(col("k"), lit("write").as("op"),
          col("cents").as("old_value"), (col("cents") + 100L).as("new_value")),
      base.filter(col("kk") % 13 === 0)
        .select(col("k"), lit("unlink").as("op"),
          cur.as("old_value"), lit(0L).as("new_value")),
      base.filter(col("kk") % 3 === 0 && col("kk") % 13 =!= 0)
        .select(col("k"), lit("write").as("op"),
          cur.as("old_value"), (cur + 7L).as("new_value")))
    val store = graft.Scratch.fresh("q157_store")
    val ckpt = graft.Scratch.fresh("q157_ckpt")
    val src = stageBatches(
      batches.zipWithIndex
        .map { case (b, i) => b.withColumn("__b", lit(i + 1)) }
        .reduce(_ unionByName _),
      batches.size, "q157")
    val stream = fileStream(s, src, "k LONG, op STRING, old_value LONG, new_value LONG")
    // 4 shuffle partitions also fit the fold's 100-key space
    drain(s)(graft.streaming.EventsStream.maintainAggregate(
      stream, "k", store.getPath, ckpt.getPath))
    s.read.parquet(graft.streaming.EventsStream.latestVersion(store.getPath).get)
      .select(col("k"), col("total"), col("n"))
      .orderBy(col("k"))
  }

  /** q159 — STATEFUL streaming sessionization, executed as a real
    * Structured Streaming query (the flatMapGroupsWithState arm, where
    * q157 drives the foreachBatch arm): the sampled `events` slice
    * (whole users — user_id%20=0, so no session is split by sampling)
    * streams as 4 TIME-ORDERED file micro-batches through
    * [[graft.streaming.EventsStream.sessionize]] (30-min gap, 1-h
    * watermark, event-time timeouts) into an append parquet sink; two
    * far-future sentinel events for an excluded user then advance the
    * watermark so every real session times out and EMITS. The oracle is
    * the batch sessionizer's SQL (the q75 shape) over the same slice —
    * the streaming state machine must reproduce batch sessionization
    * exactly. EVERY output column is verified, including the session
    * value-sum: the fixture stages `value` as integer CENTS (the q157
    * technique — integer-valued doubles sum exactly in any order, so the
    * arrival-order fold is bit-portable against the oracle's SQL sum).
    *
    * The fixture's time-quartile split mirrors how a production stream
    * ARRIVES (in event-time order): each batch's min ts ≥ the prior
    * batch's max, so nothing is ever behind the watermark and the
    * state machine sees the same global order the batch twin sorts to.
    * Runs the streaming query at construction (bounded: 6 micro-batches
    * over the 5 % user sample; see [[graft.Queries]]' contract). */
  def q159(s: SparkSession, d: String): DataFrame =
    sessionGate(s, d, restartAfter = None, tag = "q159")

  /** q165 — CHECKPOINT-RESTART recovery, driver-gated (VERDICT r5 #3: the
    * kill-and-resume contract was ScalaTest-only; this gate runs it
    * end-to-end through the oracle): the exact q159 sessionization fixture,
    * but the source directory initially holds only the first 2 of 6 batch
    * files — the query processes them, STOPS (checkpoint persisted,
    * sessions mid-flight in the state store), then a NEW query starts from
    * the same checkpoint + sink, the remaining files appear, and it
    * finishes. The final sink must equal the uninterrupted run's — i.e.
    * q159's batch oracle — proving the state store, the file-source read
    * log, and the sink's _spark_metadata all recover exactly (no lost
    * state, no replayed output). */
  def q165(s: SparkSession, d: String): DataFrame =
    sessionGate(s, d, restartAfter = Some(2), tag = "q165")

  /** Shared body of q159/q165: stage the sessionization fixture, run the
    * stateful query (optionally stopping after `restartAfter` batches and
    * resuming from the checkpoint in a fresh query), return the sink. */
  private def sessionGate(s: SparkSession, d: String,
      restartAfter: Option[Int], tag: String): DataFrame = {
    import s.implicits._
    // full fixture (quartiles + "x" sentinels) from the shared memo —
    // value staged as integer cents (exact-sum type; see q159 scaladoc)
    val store = graft.Scratch.fresh(s"${tag}_store")
    val ckpt = graft.Scratch.fresh(s"${tag}_ckpt")
    val src = sharedSliceSrc(s, d, tag, sentinels = Some("sentx"))
    // restart mode: hold back every batch past the stop point; moving the
    // files back later preserves their pinned mtimes (same-fs rename), so
    // the resumed query sees the same arrival order the one-shot run does
    val held = restartAfter.toSeq.flatMap { n =>
      val hold = graft.Scratch.fresh(s"${tag}_hold")
      Option(src.listFiles()).toSeq.flatten
        .filter(_.getName > f"batch_$n%02d.parquet").sortBy(_.getName)
        .map { f =>
          val dst = new java.io.File(hold, f.getName)
          java.nio.file.Files.move(f.toPath, dst.toPath)
          (dst, new java.io.File(src, f.getName))
        }
    }
    val stream = fileStream(s, src).as[graft.streaming.EventsStream.Event]
    // the gate's cost is per-micro-batch FIXED overhead (one state-store
    // instance per shuffle partition × 6 batches), not data
    def runOnce(): Unit = drain(s)(toParquet(
      graft.streaming.EventsStream.sessionize(stream, gapMinutes = 30), store, ckpt))
    runOnce()
    if (held.nonEmpty) {
      held.foreach { case (from, to) =>
        java.nio.file.Files.move(from.toPath, to.toPath) }
      runOnce() // resumes from the checkpoint; must NOT re-emit batches 1-2
    }
    s.read.parquet(store.getPath)
      .filter(col("user_id") >= 0) // drop the sentinel user's artifacts
      .select(col("user_id"),
        date_format(col("start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(col("end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
        col("n_events"),
        // exact: the fold summed integer-cents doubles (≤ 2^53)
        col("total_value").cast("long").as("value_cents"))
      .orderBy(col("user_id"), col("sess_start"))
  }

  /** Batch-sessionization twin over the same 5 % user slice (the q75
    * oracle shape plus the session end and exact cents sum). */
  val q159Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) t,
      |             CAST(floor(value * 100 + 0.5) AS BIGINT) cents
      |           FROM events WHERE user_id % 20 = 0),
      |x AS (SELECT user_id, event_id, t, cents,
      |  CASE WHEN epoch_us(t) - lag(epoch_us(t)) OVER
      |         (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
      |       THEN 1 ELSE 0 END f
      |  FROM e),
      |s AS (SELECT user_id, t, cents, sum(f) OVER
      |        (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) sid
      |      FROM x)
      |SELECT user_id, strftime(min(t), '%Y-%m-%d %H:%M:%S') sess_start,
      |       strftime(max(t), '%Y-%m-%d %H:%M:%S') sess_end,
      |       count(*) n_events,
      |       CAST(sum(cents) AS BIGINT) value_cents
      |FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin

  /** q165's oracle IS q159's: an interrupted-and-resumed run must land on
    * the uninterrupted result exactly. */
  val q165Sql: String = q159Sql

  /** One-shot twin of the streamed lifecycle: survivors (not unlinked)
    * carry cents +100 if bumped in batch 1, +7 if bumped in batch 3. */
  val q157Sql: String =
    """WITH r AS (
      |  SELECT o_custkey % 100 k, o_orderkey // 10 kk,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) cents
      |  FROM orders WHERE o_orderkey % 10 = 0),
      |live AS (
      |  SELECT k, cents
      |    + CASE WHEN kk % 5 = 0 THEN 100 ELSE 0 END
      |    + CASE WHEN kk % 3 = 0 THEN 7 ELSE 0 END AS val
      |  FROM r WHERE kk % 13 <> 0)
      |SELECT CAST(k AS BIGINT) k, CAST(sum(val) AS BIGINT) total,
      |  count(*)::BIGINT n
      |FROM live GROUP BY k ORDER BY k""".stripMargin

  /** q160 — streaming incremental exact dedup, executed as a real
    * Structured Streaming query (the `transformWithState` + INITIAL STATE
    * arm — q157 drives foreachBatch, q159 flatMapGroupsWithState; this
    * completes the streaming trio): the arriving batch (odd doc_ids)
    * streams as 4 doc_id-ordered file micro-batches through
    * [[graft.streaming.DedupStream.classify]], with the existing corpus's
    * (even doc_ids) distinct content hashes loaded into the state store as
    * initial state; per-doc classifications land in an append sink, and
    * the gate rolls them up per (lang, dedup_class) — the streaming twin
    * of q108's exact arm. The content key is the HEAD-FINGERPRINT (md5 of
    * the first 8 words) — the cheap near-exact screen an ingestion tier
    * runs before full-text hashing; at gate scale the raw-text hash has
    * zero duplicates (sf0.01 is 500 distinct texts), while the fingerprint
    * exercises BOTH dup arms (corpus hits and in-stream repeats). Oracle:
    * corpus-fingerprint membership plus first-arrival-wins among the
    * arrivals — exact because arrival order IS doc_id order (the batches
    * are doc_id quartiles and the processor pins smallest-doc_id-wins
    * within a batch).
    *
    * Scale posture: state is one boolean per distinct content hash keyed
    * by the same column the stream shuffles on — no per-batch join against
    * a growing corpus table, nothing driver-side; RocksDB provider as on a
    * real cluster. Runs the streaming query at construction (bounded: 4
    * micro-batches over the half-table sample; see [[graft.Queries]]'
    * contract). */
  def q160(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val fp = md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
    val arriving = docs.filter(col("doc_id") % 2 === 1)
      .select(fp.as("h"), col("doc_id"))
    val corpusHashes = docs.filter(col("doc_id") % 2 === 0)
      .select(fp).distinct().as[String]
    val store = graft.Scratch.fresh("q160_store")
    val ckpt = graft.Scratch.fresh("q160_ckpt")
    // doc_id quartiles => every id in batch i precedes batch i+1: the
    // stream's arrival order is the oracle's doc_id order
    val src = stageBatches(
      arriving.withColumn("__b",
        ntile(4).over(org.apache.spark.sql.expressions.Window.orderBy(col("doc_id")))),
      4, "q160")
    val stream = fileStream(s, src, "h STRING, doc_id LONG")
      .as[graft.streaming.DedupStream.DocIn]
    // transformWithState requires the RocksDB provider (also the cluster
    // posture); a RocksDB store instance per partition per micro-batch is
    // heavier than the HDFS-backed state of the other gates. Held with
    // the partitions until the query stops: with the default provider
    // winning the conf-capture race, transformWithState would fail outright.
    drain(s, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(
      toParquet(graft.streaming.DedupStream.classify(stream, corpusHashes), store, ckpt))
    s.read.parquet(store.getPath)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"), col("dedup_class"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("dedup_class"))
  }

  /** q163 — watermarked STREAM-STREAM JOIN, executed as a real Structured
    * Streaming query ([[graft.streaming.EventsStream.clickToPurchase]] —
    * the last stateful operator family without a driver gate: q157
    * foreachBatch, q159 flatMapGroupsWithState, q160 transformWithState,
    * q161 the Bloom maintenance loop): the 5 % user slice of `events`
    * streams as 4 TIME-ORDERED file micro-batches; clicks join purchases
    * of the same user within the following hour, both sides watermarked,
    * into an append parquet sink. The oracle is the plain batch
    * time-range join — EXACT because the inner join emits each match once
    * when its later side arrives, and time-ordered arrival bounds the
    * watermark: when purchase p (p_ts ≤ c_ts + 1 h) arrives, the
    * watermark is ≤ p_ts − 1 h ≤ c_ts, so the matching click's state
    * cannot have been evicted — nothing is lost to batching.
    *
    * Scale posture: state is bounded by the 2-hour watermark horizon per
    * side (eviction follows from the join's time bounds), keyed on the
    * join key — the standard attribution-join deployment shape. Runs the
    * streaming query at construction (bounded; [[graft.Queries]]'
    * contract). */
  def q163(s: SparkSession, d: String): DataFrame = {
    // value staged as integer cents: the pass-through pair values AND the
    // per-user attribution sum below are then exact against the oracle
    // (VERDICT r5 #4 — no float column left unverified in streaming gates)
    val store = graft.Scratch.fresh("q163_store")
    val ckpt = graft.Scratch.fresh("q163_ckpt")
    // quartile fixture from the shared memo (integer-cents slice)
    val src = sharedSliceSrc(s, d, "q163")
    drain(s)(toParquet(
      graft.streaming.EventsStream.clickToPurchase(fileStream(s, src)), store, ckpt))
    s.read.parquet(store.getPath)
      .select(col("user_id"), col("click_id"),
        col("click_value").cast("long").as("click_cents"),
        col("p_value").cast("long").as("p_cents"))
      // the aggregated-float arm: per-user attributed purchase total over
      // the sink's pairs — exact because the addends are integer cents
      .withColumn("user_p_cents",
        sum(col("p_cents")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))))
      .orderBy(col("user_id"), col("click_id"), col("p_cents"))
  }

  /** Batch twin: the plain time-range join over the same slice. */
  val q163Sql: String =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) ts, user_id,
      |             event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) cents
      |           FROM events WHERE user_id % 20 = 0),
      |c AS (SELECT user_id, event_id click_id, ts cts, cents cc FROM e
      |      WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts pts, cents pc FROM e
      |      WHERE event_type = 'purchase'),
      |j AS (SELECT c.user_id, c.click_id, c.cc AS click_cents, p.pc AS p_cents
      |      FROM c JOIN p ON c.user_id = p.user_id
      |        AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR)
      |SELECT user_id, click_id, click_cents, p_cents,
      |  CAST(sum(p_cents) OVER (PARTITION BY user_id) AS BIGINT) user_p_cents
      |FROM j ORDER BY user_id, click_id, p_cents""".stripMargin

  /** q164 — watermarked stream-stream LEFT OUTER join, driver-gated
    * (VERDICT r5 #2: [[graft.streaming.EventsStream.clickToPurchaseOuter]]
    * carries the subtlest streaming semantics in the repo — a click with no
    * purchase in its hour emits a NULL row only once the watermark PROVES
    * no match can ever arrive — and was ScalaTest-only): the q163 slice
    * (integer-cents values) streams as 4 time-ordered micro-batches, then
    * two sentinel batches — each holding a far-future click AND purchase
    * for an excluded user, because the two sides watermark their own
    * filtered streams and BOTH watermarks must advance past every real
    * click's eviction horizon. Batch 5 advances the watermark (applied at
    * the end of the batch); batch 6 runs under it, evicting and EMITTING
    * every expired unmatched click. The oracle is the batch LEFT join.
    *
    * Exactness: inner matches emit exactly as q163 (time-ordered arrival
    * keeps the watermark below a pending click's eviction horizon until
    * its last possible purchase has arrived); a matched click is flagged
    * in the join state, so it can never ALSO emit a null row; unmatched
    * clicks emit exactly once, at eviction. NULL p_cents is surfaced as
    * -1 (a sentinel outside the value domain — cents are ≥ 0) so the
    * hash compare never depends on engine null-sort/NaN conventions.
    * Runs the streaming query at construction (bounded; [[graft.Queries]]'
    * contract). */
  def q164(s: SparkSession, d: String): DataFrame = {
    val store = graft.Scratch.fresh("q164_store")
    val ckpt = graft.Scratch.fresh("q164_ckpt")
    // full fixture (quartiles + both-sides sentinels) from the shared memo
    val src = sharedSliceSrc(s, d, "q164", sentinels = Some("sentcp"))
    drain(s)(toParquet(
      graft.streaming.EventsStream.clickToPurchaseOuter(fileStream(s, src)), store, ckpt))
    s.read.parquet(store.getPath)
      .filter(col("user_id") >= 0) // drop the sentinel user's rows
      .select(col("user_id"), col("click_id"),
        col("click_value").cast("long").as("click_cents"),
        coalesce(col("p_value").cast("long"), lit(-1L)).as("p_cents"))
      .orderBy(col("user_id"), col("click_id"), col("p_cents"))
  }

  /** q167 — watermarked TUMBLING-WINDOW aggregation, driver-gated (the
    * one streaming operator family still ScalaTest-only after r5/r6's
    * gates: [[graft.streaming.EventsStream.hourlyCounts]] is the canonical
    * `groupBy(window(...))` + watermark shape, the q30 batch twin run
    * incrementally): the 5 % slice (integer-cents values) streams as 4
    * time-ordered micro-batches; a closed hour×type window emits to the
    * append sink only once the watermark passes its end, so two sentinel
    * batches (far-future events of a sentinel type) advance and then apply
    * the watermark — the q159 technique. Oracle: the batch hour×type
    * rollup; exact because every window's count/sum state accumulates
    * longs/integer-cents and emission is once-per-window. */
  def q167(s: SparkSession, d: String): DataFrame = {
    val store = graft.Scratch.fresh("q167_store")
    val ckpt = graft.Scratch.fresh("q167_ckpt")
    // full fixture (quartiles + "x" sentinels) from the shared memo
    val src = sharedSliceSrc(s, d, "q167", sentinels = Some("sentx"))
    drain(s)(toParquet(
      graft.streaming.EventsStream.hourlyCounts(fileStream(s, src)), store, ckpt))
    s.read.parquet(store.getPath)
      .filter(col("event_type") =!= "x") // the sentinel type's windows
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"),
        col("total").cast("long").as("total_cents"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** Batch hour×type rollup twin over the same slice. */
  val q167Sql: String =
    """WITH e AS (SELECT CAST(ts AS TIMESTAMP) ts, event_type,
      |             CAST(floor(value * 100 + 0.5) AS BIGINT) cents
      |           FROM events WHERE user_id % 20 = 0)
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') hour_start,
      |  event_type, count(*)::BIGINT n, CAST(sum(cents) AS BIGINT) total_cents
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q168 — streaming exact dedup via `dropDuplicatesWithinWatermark`,
    * driver-gated ([[graft.streaming.EventsStream.dedupeStream]] — the
    * built-in watermark-bounded key-dedup operator, distinct from q160's
    * custom transformWithState classifier): the 5 % slice streams as 4
    * time-ordered micro-batches, and every row from the last 48 hours of
    * batches 1–3 is RE-DELIVERED in the following batch (an exact copy —
    * the at-least-once redelivery a real bus produces). That exercises
    * BOTH arms of the operator's bounded-state contract: copies from the
    * last hour arrive above the watermark while their keys are still in
    * the dedup state (dropped BY THE STATE), older copies arrive behind
    * the watermark (dropped AS LATE — the very property that lets the
    * state evict old keys); either way the sink must hold each original
    * exactly once. Oracle: the plain per-type rollup of the slice —
    * redeliveries contribute nothing. */
  def q168(s: SparkSession, d: String): DataFrame = {
    val evs = Tables.events(s, d)
      .filter(col("user_id") % 20 === 0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("double").as("value"))
    val store = graft.Scratch.fresh("q168_store")
    val ckpt = graft.Scratch.fresh("q168_ckpt")
    val base = evs.withColumn("__b",
      ntile(4).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))))
    val bMax = base.groupBy(col("__b")).agg(max(col("ts")).as("__bmax"))
    val dups = base.join(bMax, Seq("__b"))
      .filter(col("__b") < 4 &&
        col("ts") >= col("__bmax") - expr("INTERVAL 48 HOURS"))
      .withColumn("__b", col("__b") + 1).drop("__bmax")
    val src = stageBatches(base.unionByName(dups), 4, "q168")
    drain(s)(toParquet(
      graft.streaming.EventsStream.dedupeStream(fileStream(s, src)), store, ckpt))
    s.read.parquet(store.getPath)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("long")).as("cents"))
      .orderBy(col("event_type"))
  }

  /** Per-type rollup of the slice — the dedup stream must reduce the
    * redelivered fixture back to exactly this. */
  val q168Sql: String =
    """WITH e AS (SELECT event_type,
      |             CAST(floor(value * 100 + 0.5) AS BIGINT) cents
      |           FROM events WHERE user_id % 20 = 0)
      |SELECT event_type, count(*)::BIGINT n, CAST(sum(cents) AS BIGINT) cents
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** Batch LEFT-join twin: unconverted clicks ride with p_cents = -1. */
  val q164Sql: String =
    """WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) ts, user_id,
      |             event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) cents
      |           FROM events WHERE user_id % 20 = 0),
      |c AS (SELECT user_id, event_id click_id, ts cts, cents cc FROM e
      |      WHERE event_type = 'click'),
      |p AS (SELECT user_id uid, ts pts, cents pc FROM e
      |      WHERE event_type = 'purchase')
      |SELECT c.user_id, c.click_id, c.cc AS click_cents,
      |  coalesce(p.pc, -1) AS p_cents
      |FROM c LEFT JOIN p ON c.user_id = p.uid
      |  AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
      |ORDER BY user_id, click_id, p_cents""".stripMargin

  /** q161 — streaming Bloom-screen maintenance, executed as a real
    * Structured Streaming query ([[graft.streaming.BloomStream.screen]];
    * with q157/q159/q160 this driver-gates every streaming class): the
    * corpus half's content-hash positions seed the driver-held bitmap
    * (the q144 fold shape — distinct positions, bounded by m), then the
    * arriving half streams as 4 doc_id-quartile micro-batches; each batch
    * is screened against the bitmap AS OF its start (batch granularity —
    * batch-mates don't mark each other) and folds its own positions in.
    * The per-batch sink is a parquet append (the production shape; the
    * ScalaTest spec drives the collect shape). Oracle: a position is
    * available to batch b iff its minimum fold batch (corpus = 0) is
    * STRICTLY below b — all [[SelectionOps.BloomHashes]] probes available
    * ⇒ hit. Both sides share the Kirsch–Mitzenmacher double-hash math
    * over the non-negative [[Parity.strHash]], where `%` and floor-mod
    * agree. As in q160 the hashed key is the head-8-words fingerprint —
    * the full-text hash has zero duplicates at gate scale, so the screen
    * would never hit.
    *
    * Scale posture: screening is a broadcast-bitmap map over each batch,
    * the driver fold is bounded by m distinct positions per batch, and
    * the bitmap is m/64 longs — nothing grows with the corpus. Runs the
    * streaming query at construction (bounded; [[graft.Queries]]'
    * contract). */
  def q161(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = SelectionOps.BloomBits
    val k = SelectionOps.BloomHashes
    // cached: two consumers (corpus bitmap fold + fixture staging) would
    // each re-run the scan + fingerprint hash (the q144 discipline)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), Parity.strHash(
        concat_ws(" ", slice(split(col("text"), " "), 1, 8))).as("h"))
      .cache()
    val batched = docs.filter(col("doc_id") % 2 === 1).withColumn("__b",
      ntile(4).over(org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
    // corpus seed: distinct BIT POSITIONS (≤ m) fold on the driver — the
    // q144 shape, via the shared column-side position math
    val posCols = graft.streaming.BloomStream.positionCols(col("h"), m, k)
    val bitmap = new graft.streaming.BloomStream.Bitmap(m)
    docs.filter(col("doc_id") % 2 === 0)
      .select(explode(array(posCols: _*)).as("p")).distinct()
      .collect().foreach(r => bitmap.set(r.getLong(0)))
    val store = graft.Scratch.fresh("q161_store")
    val ckpt = graft.Scratch.fresh("q161_ckpt")
    val src = stageBatches(batched, 4, "q161")
    docs.unpersist()
    val stream = fileStream(s, src, "doc_id LONG, h LONG")
      .as[graft.streaming.BloomStream.DocIn]
    // the foreachBatch jobs (screen map + position distinct) run per batch
    drain(s)(graft.streaming.BloomStream.screen(stream, bitmap, k,
      out => out.write.mode("append").parquet(store.getPath),
      checkpoint = Some(ckpt.getPath)))
    // batch mapping from the fixture's FILE NAMES (what actually
    // streamed), not from re-running the staging window — the returned
    // plan stays free of the global ntile (the plan sweep checks it)
    val batchOf = s.read.parquet(src.getPath)
      .select(col("doc_id"), regexp_extract(col("_metadata.file_name"),
        "batch_(\\d+)", 1).cast("long").as("batch"))
    s.read.parquet(store.getPath)
      .join(batchOf, Seq("doc_id"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_hit"))
      .orderBy(col("batch"))
  }

  /** Batch twin: min fold batch per position (corpus = 0), a probe is
    * available iff that minimum is strictly below the prober's batch. */
  val q161Sql: String = {
    val m = SelectionOps.BloomBits
    val k = SelectionOps.BloomHashes
    s"""WITH fp AS (SELECT doc_id,
       |         array_to_string(string_split(text, ' ')[1:8], ' ') f
       |       FROM documents),
       |hd AS (SELECT doc_id, ${Parity.strHashSql("f")} h FROM fp),
       |hh AS (SELECT doc_id, h % $m h1, 1 + (h % ${m - 1}) h2 FROM hd),
       |arr AS (SELECT doc_id, h1, h2,
       |          ntile(4) OVER (ORDER BY doc_id) b
       |        FROM hh WHERE doc_id % 2 = 1),
       |folds AS (
       |  SELECT (h1 + j * h2) % $m p, 0 b
       |  FROM hh, generate_series(0, ${k - 1}) t(j) WHERE doc_id % 2 = 0
       |  UNION ALL
       |  SELECT (h1 + j * h2) % $m p, b
       |  FROM arr, generate_series(0, ${k - 1}) t(j)),
       |minb AS (SELECT p, min(b) mb FROM folds GROUP BY p),
       |probe AS (
       |  SELECT a.doc_id, a.b,
       |    CAST(sum(CASE WHEN mb.mb IS NOT NULL AND mb.mb < a.b
       |      THEN 1 ELSE 0 END) AS BIGINT) nav
       |  FROM (SELECT doc_id, b, (h1 + j * h2) % $m p
       |        FROM arr, generate_series(0, ${k - 1}) t(j)) a
       |  LEFT JOIN minb mb ON mb.p = a.p
       |  GROUP BY a.doc_id, a.b)
       |SELECT b AS batch, count(*)::BIGINT n_docs,
       |  CAST(sum(CASE WHEN nav = $k THEN 1 ELSE 0 END) AS BIGINT) n_hit
       |FROM probe GROUP BY b ORDER BY batch""".stripMargin
  }

  /** Batch twin: corpus-fingerprint membership, then first-arrival-wins
    * in doc_id order among the arriving half. */
  val q160Sql: String =
    """WITH f AS (
      |  SELECT doc_id, lang,
      |    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) h
      |  FROM documents),
      |corpus_h AS (SELECT DISTINCT h FROM f WHERE doc_id % 2 = 0),
      |arr AS (SELECT doc_id, lang, h FROM f WHERE doc_id % 2 = 1),
      |cls AS (
      |  SELECT lang,
      |    CASE WHEN h IN (SELECT h FROM corpus_h) THEN 'exact_dup'
      |         WHEN doc_id > min(doc_id) OVER (PARTITION BY h) THEN 'exact_dup'
      |         ELSE 'unique' END dedup_class
      |  FROM arr)
      |SELECT lang, dedup_class, count(*)::BIGINT n_docs
      |FROM cls GROUP BY 1, 2 ORDER BY lang, dedup_class""".stripMargin

  /** q158 — QC overview dashboard (etl_quality/models/quality_overview.py
    * :38-58: per check TYPE, the pending/ongoing/completed search_counts
    * the reference computes as three per-record search_count() calls — an
    * A13 dashboard-scalar family over the check-status table; the twin
    * also rolls up the check LINES' passed/failed results
    * (quality_check.py:98,150), the number the overview's drill-down
    * actions open). Checks derive deterministically from `orders`
    * (type by key residue, state from order status); lines from
    * `lineitem` (result from the return flag).
    *
    * Scale: one aggregation over each fact table, joined on the 2-row
    * type dim — versus the reference's 3 × N search_count scans (one
    * scan per dashboard cell per record). */
  def q158(s: SparkSession, d: String): DataFrame = {
    val checks = Tables.orders(s, d).select(
      col("o_orderkey").as("check_id"),
      when(col("o_orderkey") % 3 === 0, "grn").otherwise("mo").as("qc_type"),
      when(col("o_orderstatus") === "F", "completed")
        .when(col("o_orderstatus") === "O", "ongoing")
        .otherwise("pending").as("state"))
    val checkCounts = checks.groupBy(col("qc_type")).agg(
      sum(when(col("state") === "pending", 1L).otherwise(0L)).as("pending_count"),
      sum(when(col("state") === "ongoing", 1L).otherwise(0L)).as("ongoing_count"),
      sum(when(col("state") === "completed", 1L).otherwise(0L)).as("completed_count"))
    val lineCounts = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("check_id"),
        when(col("l_returnflag") === "R", "failed").otherwise("passed").as("result"))
      .join(checks.select(col("check_id"), col("qc_type")), Seq("check_id"))
      .groupBy(col("qc_type")).agg(
        sum(when(col("result") === "passed", 1L).otherwise(0L)).as("passed_lines"),
        sum(when(col("result") === "failed", 1L).otherwise(0L)).as("failed_lines"))
    checkCounts.join(lineCounts, Seq("qc_type")).orderBy(col("qc_type"))
  }

  val q158Sql: String =
    """WITH checks AS (
      |  SELECT o_orderkey check_id,
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'grn' ELSE 'mo' END qc_type,
      |    CASE WHEN o_orderstatus = 'F' THEN 'completed'
      |         WHEN o_orderstatus = 'O' THEN 'ongoing'
      |         ELSE 'pending' END state
      |  FROM orders),
      |cc AS (
      |  SELECT qc_type,
      |    sum(CASE WHEN state = 'pending' THEN 1 ELSE 0 END) pending_count,
      |    sum(CASE WHEN state = 'ongoing' THEN 1 ELSE 0 END) ongoing_count,
      |    sum(CASE WHEN state = 'completed' THEN 1 ELSE 0 END) completed_count
      |  FROM checks GROUP BY qc_type),
      |lc AS (
      |  SELECT qc_type,
      |    sum(CASE WHEN l_returnflag <> 'R' THEN 1 ELSE 0 END) passed_lines,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) failed_lines
      |  FROM lineitem JOIN checks ON l_orderkey = check_id
      |  GROUP BY qc_type)
      |SELECT qc_type,
      |  CAST(pending_count AS BIGINT) pending_count,
      |  CAST(ongoing_count AS BIGINT) ongoing_count,
      |  CAST(completed_count AS BIGINT) completed_count,
      |  CAST(passed_lines AS BIGINT) passed_lines,
      |  CAST(failed_lines AS BIGINT) failed_lines
      |FROM cc JOIN lc USING (qc_type) ORDER BY qc_type""".stripMargin

  /** Golden oracle for q118: the 20 urgent-priority cheques with their
    * word renderings, pinned verbatim from a verified run. A literal
    * VALUES table is the right oracle here because the words function has
    * no DuckDB twin while the result is a small deterministic set.
    *
    * SCALE-KEYED (ADVICE r5): one golden set per test scale, selected by
    * the orders row count (1 500 / 15 000 / 150 000 — the fixed testdata
    * sizes), so the sf0.1 cross-check no longer carries a known-red q118
    * training readers to ignore it — at every supported scale a red q118
    * is a real failure, and an unknown scale yields 0 oracle rows (red,
    * as it should: there is no golden to compare against). */
  val q118Sql: String =
    """WITH n AS (SELECT count(*) c FROM orders),
      |g001 AS (SELECT * FROM (VALUES
      |  (5, 80, 17263.63, 'seventeen thousand two hundred and sixty-three', 'and 63 / 100 only'),
      |  (12, 67, 99860.75, 'ninety-nine thousand eight hundred and sixty', 'and 75 / 100 only'),
      |  (15, 44, 290638.71, 'two hundred and ninety thousand six', 'hundred and thirty-eight and 71 / 100 only'),
      |  (21, 2, 434249.98, 'four hundred and thirty-four thousand two', 'hundred and forty-nine and 98 / 100 only'),
      |  (25, 34, 85989.22, 'eighty-five thousand nine hundred and eighty-nine', 'and 22 / 100 only'),
      |  (29, 38, 362148.9, 'three hundred and sixty-two thousand one', 'hundred and forty-eight and 90 / 100 only'),
      |  (42, 40, 250829.76, 'two hundred and fifty thousand eight', 'hundred and twenty-nine and 76 / 100 only'),
      |  (46, 22, 26823.12, 'twenty-six thousand eight hundred and twenty-three', 'and 12 / 100 only'),
      |  (48, 138, 443281.08, 'four hundred and forty-three thousand two', 'hundred and eighty-one and 08 / 100 only'),
      |  (56, 64, 164122.28, 'one hundred and sixty-four thousand one', 'hundred and twenty-two and 28 / 100 only'),
      |  (60, 115, 75820.8, 'seventy-five thousand eight hundred and twenty', 'and 80 / 100 only'),
      |  (65, 102, 423985.57, 'four hundred and twenty-three thousand nine', 'hundred and eighty-five and 57 / 100 only'),
      |  (68, 53, 5300.01, 'five thousand three hundred and 01', '/ 100 only'),
      |  (87, 56, 376783.56, 'three hundred and seventy-six thousand seven', 'hundred and eighty-three and 56 / 100 only'),
      |  (88, 61, 446378.21, 'four hundred and forty-six thousand three', 'hundred and seventy-eight and 21 / 100 only'),
      |  (90, 13, 124386.27, 'one hundred and twenty-four thousand three', 'hundred and eighty-six and 27 / 100 only'),
      |  (94, 80, 466040.24, 'four hundred and sixty-six thousand forty', 'and 24 / 100 only'),
      |  (103, 129, 34619.78, 'thirty-four thousand six hundred and nineteen', 'and 78 / 100 only'),
      |  (119, 107, 348939.56, 'three hundred and forty-eight thousand nine', 'hundred and thirty-nine and 56 / 100 only'),
      |  (127, 91, 102000.23, 'one hundred and two thousand and', '23 / 100 only'))
      |  t(cheque_no, payee, amount, line1, line2)),
      |g1 AS (SELECT * FROM (VALUES
      |  (4, 3476, 53552.64, 'fifty-three thousand five hundred and fifty-two', 'and 64 / 100 only'),
      |  (6, 5087, 131600.55, 'one hundred and thirty-one thousand six', 'hundred and 55 / 100 only'),
      |  (7, 7109, 90368.33, 'ninety thousand three hundred and sixty-eight', 'and 33 / 100 only'),
      |  (10, 6819, 129202.24, 'one hundred and twenty-nine thousand two', 'hundred and two and 24 / 100 only'),
      |  (16, 13455, 376707.37, 'three hundred and seventy-six thousand seven', 'hundred and seven and 37 / 100 only'),
      |  (27, 4560, 401490.45, 'four hundred and one thousand four', 'hundred and ninety and 45 / 100 only'),
      |  (29, 2876, 251443.85, 'two hundred and fifty-one thousand four', 'hundred and forty-three and 85 / 100 only'),
      |  (32, 14433, 220996.37, 'two hundred and twenty thousand nine', 'hundred and ninety-six and 37 / 100 only'),
      |  (34, 2220, 165178.85, 'one hundred and sixty-five thousand one', 'hundred and seventy-eight and 85 / 100 only'),
      |  (35, 13295, 112999.94, 'one hundred and twelve thousand nine', 'hundred and ninety-nine and 94 / 100 only'),
      |  (44, 8221, 444971.28, 'four hundred and forty-four thousand nine', 'hundred and seventy-one and 28 / 100 only'),
      |  (45, 8490, 443659.37, 'four hundred and forty-three thousand six', 'hundred and fifty-nine and 37 / 100 only'),
      |  (57, 2494, 226445.28, 'two hundred and twenty-six thousand four', 'hundred and forty-five and 28 / 100 only'),
      |  (76, 12108, 414241.29, 'four hundred and fourteen thousand two', 'hundred and forty-one and 29 / 100 only'),
      |  (77, 4513, 232344.9, 'two hundred and thirty-two thousand three', 'hundred and forty-four and 90 / 100 only'),
      |  (79, 8864, 60520.5, 'sixty thousand five hundred and twenty', 'and 50 / 100 only'),
      |  (81, 6286, 109335.65, 'one hundred and nine thousand three', 'hundred and thirty-five and 65 / 100 only'),
      |  (83, 6070, 110769.8, 'one hundred and ten thousand seven', 'hundred and sixty-nine and 80 / 100 only'),
      |  (88, 2968, 347529.95, 'three hundred and forty-seven thousand five', 'hundred and twenty-nine and 95 / 100 only'),
      |  (92, 14522, 152960.08, 'one hundred and fifty-two thousand nine', 'hundred and sixty and 08 / 100 only'))
      |  t(cheque_no, payee, amount, line1, line2)),
      |g01 AS (SELECT * FROM (VALUES
      |  (3, 780, 439039.67, 'four hundred and thirty-nine thousand thirty-nine', 'and 67 / 100 only'),
      |  (10, 474, 135650.32, 'one hundred and thirty-five thousand six', 'hundred and fifty and 32 / 100 only'),
      |  (19, 517, 373717.05, 'three hundred and seventy-three thousand seven', 'hundred and seventeen and 05 / 100 only'),
      |  (20, 1022, 170145.41, 'one hundred and seventy thousand one', 'hundred and forty-five and 41 / 100 only'),
      |  (21, 587, 288543.65, 'two hundred and eighty-eight thousand five', 'hundred and forty-three and 65 / 100 only'),
      |  (25, 348, 460050.42, 'four hundred and sixty thousand fifty', 'and 42 / 100 only'),
      |  (39, 589, 481755.66, 'four hundred and eighty-one thousand seven', 'hundred and fifty-five and 66 / 100 only'),
      |  (56, 1122, 241710.83, 'two hundred and forty-one thousand seven', 'hundred and ten and 83 / 100 only'),
      |  (64, 1335, 218224.74, 'two hundred and eighteen thousand two', 'hundred and twenty-four and 74 / 100 only'),
      |  (65, 764, 414804.12, 'four hundred and fourteen thousand eight', 'hundred and four and 12 / 100 only'),
      |  (66, 335, 150939.44, 'one hundred and fifty thousand nine', 'hundred and thirty-nine and 44 / 100 only'),
      |  (74, 1002, 20517.63, 'twenty thousand five hundred and seventeen', 'and 63 / 100 only'),
      |  (83, 1275, 195252.89, 'one hundred and ninety-five thousand two', 'hundred and fifty-two and 89 / 100 only'),
      |  (87, 1386, 361975.05, 'three hundred and sixty-one thousand nine', 'hundred and seventy-five and 05 / 100 only'),
      |  (89, 1355, 319089.69, 'three hundred and nineteen thousand eighty-nine', 'and 69 / 100 only'),
      |  (96, 685, 389809.22, 'three hundred and eighty-nine thousand eight', 'hundred and nine and 22 / 100 only'),
      |  (99, 304, 420786.14, 'four hundred and twenty thousand seven', 'hundred and eighty-six and 14 / 100 only'),
      |  (105, 388, 359647.85, 'three hundred and fifty-nine thousand six', 'hundred and forty-seven and 85 / 100 only'),
      |  (109, 450, 184676.85, 'one hundred and eighty-four thousand six', 'hundred and seventy-six and 85 / 100 only'),
      |  (116, 1264, 259162.32, 'two hundred and fifty-nine thousand one', 'hundred and sixty-two and 32 / 100 only'))
      |  t(cheque_no, payee, amount, line1, line2))
      |SELECT CAST(cheque_no AS BIGINT) cheque_no, CAST(payee AS BIGINT) payee,
      |  CAST(amount AS DOUBLE) amount, line1, line2
      |FROM (
      |  SELECT * FROM g001 WHERE (SELECT c FROM n) = 1500
      |  UNION ALL SELECT * FROM g01 WHERE (SELECT c FROM n) = 15000
      |  UNION ALL SELECT * FROM g1 WHERE (SELECT c FROM n) = 150000)
      |ORDER BY cheque_no""".stripMargin

  /** q71 — the typed options/spec pipeline (§1.2, the reference's
    * initializer chain account_report.py:1389-1456 + column-group cartesian
    * :1193-1290): journals ∧ partner-category ∧ posted-state compose into
    * ONE pushed-down base predicate; 2 comparison periods × 2 horizontal-
    * group members make 4 column groups, each with its forced date +
    * forced_domain; 2 domain engines + 1 aggregation engine evaluate over
    * them in a single fact scan (all 8 domain totals are aggregation
    * buffers of one job). */
  def q71(s: SparkSession, d: String): DataFrame = {
    import graft.engine.{ReportSpec => RS}
    val journal = Tables.orders(s, d).join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"),
        col("o_orderpriority"), col("o_orderstatus"),
        col("c_mktsegment"), col("c_nationkey"))
    val opts = RS.Options(
      date = RS.Period("1994", LocalDate.parse("1994-01-01"), LocalDate.parse("1994-12-31")),
      comparisons = Seq(RS.Period("1993", LocalDate.parse("1993-01-01"), LocalDate.parse("1993-12-31"))),
      journals = Seq("1-URGENT", "2-HIGH"),
      partnerCategories = Seq("BUILDING", "AUTOMOBILE"),
      horizontalGroups = Seq(RS.HorizontalGroup("c_nationkey",
        Seq("N1" -> 1L, "N2" -> 2L))))
    val fields = RS.FieldMap(journal = "o_orderpriority",
      partnerCategory = "c_mktsegment", state = "o_orderstatus",
      postedValue = "F", cancelValue = "X")
    val (basePred, groups) = RS.compile(opts, fields)
    val exprs = Seq(
      RR.Expr("SALES.total", RR.DomainSum(Nil)),
      RR.Expr("BIG.total", RR.DomainSum(Seq(("o_totalprice", ">", 150000.0)))),
      RR.Expr("SHARE.pct", RR.Aggregation("BIG.total / SALES.total")))
    val ctx = RR.Ctx(journal = journal.filter(basePred), dateCol = col("dt"),
      codeCol = col("o_orderpriority"), measure = col("o_totalprice"))
    val t = RR.run(ctx, exprs, groups)
    import s.implicits._
    groups.flatMap(g => Seq(
        (g.key, "SALES.total", r2(t(g.key)("SALES.total"))),
        (g.key, "BIG.total", r2(t(g.key)("BIG.total"))),
        (g.key, "SHARE.pct", math.floor(t(g.key)("SHARE.pct") * 10000 + 0.5) / 10000)))
      .toDF("grp", "code", "val").orderBy("grp", "code")
  }

  val q71Sql: String =
    """WITH j AS (
      |  SELECT o_totalprice v, strftime(o_orderdate, '%Y-%m-%d') dt, c_nationkey nk
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      |    AND o_orderstatus = 'F'),
      |grp_ AS (SELECT pk || '|' || nl gk, pf, pt, nv
      |        FROM (VALUES ('1994','1994-01-01','1994-12-31'),
      |                     ('1993','1993-01-01','1993-12-31')) p(pk, pf, pt)
      |        CROSS JOIN (VALUES ('N1', 1), ('N2', 2)) n(nl, nv)),
      |tot AS (SELECT gk,
      |  (SELECT coalesce(sum(v), 0) FROM j WHERE dt BETWEEN pf AND pt AND nk = nv) sales,
      |  (SELECT coalesce(sum(v), 0) FROM j WHERE dt BETWEEN pf AND pt AND nk = nv AND v > 150000) big
      |  FROM grp_)
      |SELECT gk grp, 'SALES.total' code, floor(sales*100+0.5)/100 val FROM tot
      |UNION ALL SELECT gk, 'BIG.total', floor(big*100+0.5)/100 FROM tot
      |UNION ALL SELECT gk, 'SHARE.pct',
      |  floor((CASE WHEN sales = 0 THEN 0 ELSE big / sales END)*10000+0.5)/10000 FROM tot
      |ORDER BY 1, 2""".stripMargin

  /** q72 — cross_report aggregation (account_report.py:2279-2419): the
    * main report's share-of-cumulative formula references another report's
    * expression (CUM.total), re-evaluated under the referencing
    * expression's forced FromBeginning scope — both reports' totals come
    * out of the SAME single fact scan. */
  def q72(s: SparkSession, d: String): DataFrame = {
    import graft.engine.DateScope
    val journal = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("dt"),
        col("o_orderpriority"))
    val groups = Seq(
      RR.ColumnGroup("1994", LocalDate.parse("1994-01-01"), LocalDate.parse("1994-12-31")),
      RR.ColumnGroup("1993", LocalDate.parse("1993-01-01"), LocalDate.parse("1993-12-31")))
    val exprs = Seq(
      RR.Expr("SALES.total", RR.DomainSum(Nil)),
      RR.Expr("CUMSHARE.pct", RR.Aggregation("SALES.total / CUM.total",
        crossScope = Some(DateScope.FromBeginning))))
    val ctx = RR.Ctx(journal, col("dt"), col("o_orderpriority"), col("o_totalprice"),
      crossExprs = Seq(RR.Expr("CUM.total", RR.DomainSum(Nil))))
    val t = RR.run(ctx, exprs, groups)
    import s.implicits._
    groups.flatMap(g => Seq(
        (g.key, "SALES.total", r2(t(g.key)("SALES.total"))),
        (g.key, "CUMSHARE.pct", math.floor(t(g.key)("CUMSHARE.pct") * 10000 + 0.5) / 10000)))
      .toDF("grp", "code", "val").orderBy("grp", "code")
  }

  val q72Sql: String =
    """WITH j AS (SELECT o_totalprice v, strftime(o_orderdate, '%Y-%m-%d') dt
      |           FROM orders WHERE o_orderstatus = 'F'),
      |grp_ AS (SELECT * FROM (VALUES ('1994','1994-01-01','1994-12-31'),
      |                               ('1993','1993-01-01','1993-12-31')) p(gk, pf, pt)),
      |tot AS (SELECT gk,
      |  (SELECT coalesce(sum(v), 0) FROM j WHERE dt BETWEEN pf AND pt) sales,
      |  (SELECT coalesce(sum(v), 0) FROM j WHERE dt <= pt) cum
      |  FROM grp_)
      |SELECT gk grp, 'SALES.total' code, floor(sales*100+0.5)/100 val FROM tot
      |UNION ALL SELECT gk, 'CUMSHARE.pct',
      |  floor((CASE WHEN cum = 0 THEN 0 ELSE sales / cum END)*10000+0.5)/10000 FROM tot
      |ORDER BY 1, 2""".stripMargin

  /** q73 — recursive threshold prefix regrouping (O5, account_report.py:
    * 3934-4065): the fully-unfolded prefix-group tree over part names at
    * threshold 10 — the sf0.01 fixture recurses 12 levels deep. The oracle
    * enumerates prefixes closed-form and applies the same emission rule
    * (parent-prefix count >= threshold). */
  def q73(s: SparkSession, d: String): DataFrame =
    graft.operators.PrefixRegroup.recursiveGroups(
        Tables.part(s, d), "p_name", "p_retailprice", threshold = 10)
      .withColumn("total", floor(col("total") * 100 + 0.5) / 100)
      .orderBy("p", "lvl")

  val q73Sql: String =
    """WITH items AS (SELECT lower(p_name) nm, p_retailprice v FROM part),
      |pl AS (SELECT nm, v, L FROM items, generate_series(1, 60) t(L)
      |       WHERE length(nm) >= L),
      |cnt AS (SELECT substring(nm, 1, L) p, L lvl, count(*) n_lines, sum(v) total
      |        FROM pl GROUP BY 1, 2)
      |SELECT c.p, CAST(c.lvl AS BIGINT) lvl, c.n_lines,
      |       floor(c.total*100+0.5)/100 total
      |FROM cnt c
      |WHERE (c.lvl = 1 AND (SELECT count(*) FROM items) >= 10)
      |   OR EXISTS (SELECT 1 FROM cnt pp WHERE pp.lvl = c.lvl - 1
      |              AND pp.p = substring(c.p, 1, CAST(c.lvl AS INT) - 1)
      |              AND pp.n_lines >= 10)
      |ORDER BY p, lvl""".stripMargin

  /** q74 — the composed journal report (W1 running balance + W4 month
    * sections + tax summary, account_journal_report.py:109-237,728-756):
    * one handler call renders month headers, seeded running-balance move
    * lines, and the tax-group section for the 1-URGENT "journal" over
    * 1995. */
  def q74(s: SparkSession, d: String): DataFrame =
    graft.report.Handlers.JournalReport.render(
        Tables.orders(s, d), dateCol = col("o_orderdate"),
        journalCol = col("o_orderpriority"), journalKey = "1-URGENT",
        idCol = col("o_orderkey"), amount = col("o_totalprice"),
        taxGroupCol = col("o_orderstatus"),
        from = LocalDate.parse("1995-01-01"), to = LocalDate.parse("1995-12-31"))
      .withColumn("amount", floor(col("amount") * 100 + 0.5) / 100)
      .withColumn("run_bal", floor(col("run_bal") * 100 + 0.5) / 100)
      .orderBy("sect", "mth", "line_id", "grp")

  val q74Sql: String =
    """WITH j AS (SELECT o_orderkey id, o_totalprice v, o_orderdate dt, o_orderstatus st
      |           FROM orders WHERE o_orderpriority = '1-URGENT'),
      |per AS (SELECT * FROM j WHERE dt BETWEEN '1995-01-01' AND '1995-12-31'),
      |init AS (SELECT coalesce(sum(v), 0) b FROM j WHERE dt < '1995-01-01')
      |SELECT CAST(0 AS BIGINT) sect, strftime(dt, '%Y-%m') mth,
      |       CAST(NULL AS DOUBLE) line_id, CAST(NULL AS VARCHAR) grp,
      |       floor(sum(v)*100+0.5)/100 amount, CAST(NULL AS DOUBLE) run_bal
      |FROM per GROUP BY 2
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), strftime(dt, '%Y-%m'), CAST(id AS DOUBLE),
      |       CAST(NULL AS VARCHAR), floor(v*100+0.5)/100,
      |       floor(((SELECT b FROM init) +
      |              sum(v) OVER (ORDER BY dt, id ROWS UNBOUNDED PRECEDING))*100+0.5)/100
      |FROM per
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE), st,
      |       floor(sum(v)*100+0.5)/100, CAST(NULL AS DOUBLE)
      |FROM per GROUP BY st
      |ORDER BY 1, 2, 3, 4""".stripMargin

  /** q75 — batch sessionization (the streaming sessionizer's replayable
    * twin): user sessions over `events` with a 30-minute inactivity gap,
    * one row per session. */
  def q75(s: SparkSession, d: String): DataFrame =
    graft.operators.Sessionize.sessions(
        Tables.events(s, d), userCol = col("user_id"), tsCol = col("ts"),
        idCol = col("event_id"), gapSec = 1800L)
      .orderBy("user_id", "sess_start")

  val q75Sql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) t FROM events),
      |x AS (SELECT user_id, event_id, t, epoch_us(t) us,
      |  CASE WHEN epoch_us(t) - lag(epoch_us(t)) OVER
      |         (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
      |       THEN 1 ELSE 0 END f
      |  FROM e),
      |s AS (SELECT user_id, t, us, sum(f) OVER
      |        (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) sid
      |      FROM x)
      |SELECT user_id, strftime(min(t), '%Y-%m-%d %H:%M:%S') sess_start,
      |       count(*) n_events, CAST(max(us) - min(us) AS BIGINT) dur_us
      |FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin

  /** q88 — REAL multimodal decode, oracle-gated: deterministic P6 images
    * are synthesized per document (LCG pixels, size keyed by doc_id),
    * carried as binary payloads, and decoded by the actual
    * [[graft.multimodal.PpmCodec]] parser inside the mapPartitions batch
    * stage; the oracle recomputes dimensions, encoded byte counts, and
    * exact channel means arithmetically — the whole encode→decode→stats
    * chain must agree. */
  def q88(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.{Multimodal, PpmCodec}
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
      val w = 4 + (id % 5).toInt
      val h = 3 + (id % 4).toInt
      val px = Array.tabulate(3 * w * h)(i => ((id * 31 + i.toLong * 7) % 256).toByte)
      Multimodal.MediaRow(id, "image",
        PpmCodec.encode(PpmCodec.PpmImage(w, h, px)),
        Multimodal.MediaMeta("ppm", w, h, 0L))
    }
    Multimodal.ppmStats(media).toDF().orderBy("media_id")
  }

  val q88Sql: String =
    """WITH m AS (SELECT doc_id, 4 + doc_id % 5 w, 3 + doc_id % 4 h FROM documents)
      |SELECT doc_id AS media_id, w AS width, h AS height,
      |  CAST(length('P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10))
      |       + 3 * w * h AS BIGINT) AS n_bytes,
      |  CAST(list_sum(list_transform(range(w * h),
      |    k -> (doc_id * 31 + (3 * k + 0) * 7) % 256)) AS DOUBLE) / (w * h) AS mean_r,
      |  CAST(list_sum(list_transform(range(w * h),
      |    k -> (doc_id * 31 + (3 * k + 1) * 7) % 256)) AS DOUBLE) / (w * h) AS mean_g,
      |  CAST(list_sum(list_transform(range(w * h),
      |    k -> (doc_id * 31 + (3 * k + 2) * 7) % 256)) AS DOUBLE) / (w * h) AS mean_b
      |FROM m ORDER BY media_id""".stripMargin

  /** q89 — REAL audio decode, oracle-gated (the WAV twin of q88):
    * deterministic mono PCM-16 clips synthesized per document, decoded by
    * [[graft.multimodal.WavCodec]]'s actual RIFF parser; the oracle
    * recomputes sample counts, floor-divided duration, peak amplitude and
    * exact mean-square energy. */
  def q89(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.{Multimodal, WavCodec}
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
      val n = 50 + (id % 32).toInt
      val samples = Array.tabulate(n)(i =>
        (((id * 131 + i.toLong * 17) % 2001) - 1000).toShort)
      Multimodal.MediaRow(id, "audio",
        WavCodec.encode(WavCodec.WavAudio(8000, samples)),
        Multimodal.MediaMeta("wav", 0, 0, n.toLong * 1000 / 8000))
    }
    Multimodal.wavStats(media).toDF().orderBy("media_id")
  }

  val q89Sql: String =
    """WITH m AS (SELECT doc_id, 50 + doc_id % 32 n FROM documents)
      |SELECT doc_id AS media_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST(n * 1000 // 8000 AS BIGINT) AS dur_ms,
      |  CAST(list_max(list_transform(range(n),
      |    i -> abs((doc_id * 131 + i * 17) % 2001 - 1000))) AS BIGINT) AS peak,
      |  CAST(list_sum(list_transform(range(n),
      |    i -> ((doc_id * 131 + i * 17) % 2001 - 1000)
      |       * ((doc_id * 131 + i * 17) % 2001 - 1000))) AS DOUBLE) / n AS mean_sq
      |FROM m ORDER BY media_id""".stripMargin

  /** q122 — declarative data-quality audit ([[graft.operators.QualityAudit]]):
    * a four-rule constraint suite over `events` — value range, event-type
    * enum membership, event_id uniqueness, user_id→customer referential
    * integrity — reported as one row per rule. The fixture exercises both
    * outcomes: the range and enum rules catch real violations, the
    * uniqueness and FK rules pass clean. Scale: row+unique rules share ONE
    * scan (conditional sums + count-distinct in a single aggregate); the FK
    * rule is one broadcast anti-join. */
  def q122(s: SparkSession, d: String): DataFrame = {
    import graft.operators.QualityAudit._
    audit(Tables.events(s, d), Seq(
      RowRule("r1_value_range", col("value").between(0.0, 100.0)),
      RowRule("r2_type_enum",
        col("event_type").isin("click", "view", "purchase", "signup")),
      UniqueRule("r3_id_unique", Seq(col("event_id"))),
      FkRule("r4_user_fk", Seq(col("user_id")),
        Tables.customer(s, d), Seq(col("c_custkey")))))
  }

  val q122Sql: String =
    """SELECT 'r1_value_range' rule_name, count(*)::BIGINT n_checked,
      |  CAST(sum(CASE WHEN value BETWEEN 0 AND 100 THEN 0 ELSE 1 END) AS BIGINT) n_violations
      |FROM events
      |UNION ALL
      |SELECT 'r2_type_enum', count(*)::BIGINT,
      |  CAST(sum(CASE WHEN event_type IN ('click','view','purchase','signup')
      |       THEN 0 ELSE 1 END) AS BIGINT)
      |FROM events
      |UNION ALL
      |SELECT 'r3_id_unique', count(*)::BIGINT,
      |  CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
      |FROM events
      |UNION ALL
      |SELECT 'r4_user_fk', count(*)::BIGINT,
      |  -- NOT EXISTS, the FkRule NULL contract: NULL fact keys are skipped
      |  -- (NOT IN would also silently return zero rows if the dim had one
      |  -- NULL key — NOT EXISTS has no such trap)
      |  (SELECT count(*)::BIGINT FROM events e
      |   WHERE e.user_id IS NOT NULL AND NOT EXISTS
      |     (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
      |FROM events
      |ORDER BY rule_name""".stripMargin

  /** q123 — hot-key skew profile: the diagnostic a 1000-executor job runs
    * BEFORE a big join — per-key row counts, then the global top-5 hottest
    * keys via the native bounded top-k aggregate ([[graft.functions
    * .TopKByScore]]), so only k tuples per partition cross the exchange,
    * never a global sort. Feeds the salting decision in
    * [[graft.engine.SkewJoin]]. */
  def q123(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
      .agg(graft.functions.TopKByScore.topK(
        col("c").cast("double"), col("l_orderkey"), 5).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("l_orderkey"), col("col.score").cast("long").as("n_rows"))
      .orderBy(col("rk"))

  val q123Sql: String =
    """WITH c AS (SELECT l_orderkey, count(*) c FROM lineitem GROUP BY 1),
      |r AS (SELECT l_orderkey, c,
      |        row_number() OVER (ORDER BY c DESC, l_orderkey) rk FROM c)
      |SELECT CAST(rk AS BIGINT) rk, l_orderkey, CAST(c AS BIGINT) n_rows
      |FROM r WHERE rk <= 5 ORDER BY rk""".stripMargin

  /** q124 — one-scan table profile ([[graft.operators.TableProfile]]):
    * the ingest-time column statistics report over `orders` — row,
    * non-null, and exact distinct counts plus min/max per column, one row
    * per column. min/max surface as strings so the tall report spans
    * heterogeneous types; the gated columns are BIGINT/VARCHAR so the
    * string rendering is parity-trivial. */
  def q124(s: SparkSession, d: String): DataFrame =
    graft.operators.TableProfile.profile(Tables.orders(s, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))

  val q124Sql: String = {
    def one(c: String) =
      s"""SELECT '$c' col_name, count(*)::BIGINT n_rows,
         |  count($c)::BIGINT n_nonnull, count(DISTINCT $c)::BIGINT n_distinct,
         |  CAST(min($c) AS VARCHAR) min_str, CAST(max($c) AS VARCHAR) max_str
         |FROM orders""".stripMargin
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
      .map(one).mkString("\nUNION ALL\n") + "\nORDER BY col_name"
  }

  /** q125 — Z-order layout key ([[graft.functions.ZOrder]]): the Morton
    * interleave of (l_partkey, l_suppkey) low bytes — the sort key that
    * clusters parquet row groups for min/max skipping on EITHER column.
    * Gated as per-returnflag z statistics (count / min / max / sum), pure
    * bit arithmetic identical in both engines. */
  def q125(s: SparkSession, d: String): DataFrame = {
    val z = graft.functions.ZOrder.zvalue(
      col("l_partkey").bitwiseAND(lit(255L)),
      col("l_suppkey").bitwiseAND(lit(255L)), 8)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), z.as("z"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), min(col("z")).as("z_min"),
        max(col("z")).as("z_max"), sum(col("z")).as("z_sum"))
      .orderBy(col("l_returnflag"))
  }

  val q125Sql: String =
    """WITH z AS (
      |  SELECT l_returnflag,
      |    CAST(list_sum(list_transform(range(8), i ->
      |      (((l_partkey & 255) >> i) & 1) * (1 << (2*i))
      |      + (((l_suppkey & 255) >> i) & 1) * (1 << (2*i + 1)))) AS BIGINT) z
      |  FROM lineitem)
      |SELECT l_returnflag, count(*)::BIGINT n, CAST(min(z) AS BIGINT) z_min,
      |  CAST(max(z) AS BIGINT) z_max, CAST(sum(z) AS BIGINT) z_sum
      |FROM z GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q132 — REAL video decode + frame sampling
    * ([[graft.multimodal.PpmvCodec]] via `Multimodal.videoFrameStats`):
    * each document becomes a PPMV container of 2-4 arithmetic P6 frames;
    * every 2nd frame is SEEKED (length-prefix skip, unsampled frames never
    * parsed) and decoded to per-frame channel means. The oracle replays
    * the frame geometry and pixel arithmetic relationally. */
  def q132(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.{Multimodal, PpmCodec, PpmvCodec}
    val media = Tables.documents(s, d).select(col("doc_id")).as[Long].map { id =>
      val nf = 2 + (id % 3).toInt
      val frames = (0 until nf).map { f =>
        val w = 3 + ((id + f) % 4).toInt
        val h = 2 + ((id + 2 * f) % 3).toInt
        PpmCodec.PpmImage(w, h, Array.tabulate(3 * w * h)(i =>
          ((id * 31 + f * 13 + i.toLong * 7) % 256).toByte))
      }
      Multimodal.MediaRow(id, "video", PpmvCodec.encode(frames),
        Multimodal.MediaMeta("ppmv", 0, 0, nf * 40L))
    }
    Multimodal.videoFrameStats(media, everyK = 2).toDF()
      .orderBy("media_id", "frame_idx")
  }

  val q132Sql: String =
    """WITH m AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents),
      |fr AS (SELECT doc_id, unnest(range(nf)) AS f FROM m),
      |s AS (SELECT doc_id, CAST(f AS BIGINT) AS f,
      |        3 + (doc_id + f) % 4 AS w, 2 + (doc_id + 2 * f) % 3 AS h
      |      FROM fr WHERE f % 2 = 0)
      |SELECT doc_id AS media_id, f AS frame_idx,
      |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
      |  CAST(list_sum(list_transform(range(w * h),
      |    k -> (doc_id * 31 + f * 13 + (3 * k + 0) * 7) % 256)) AS DOUBLE) / (w * h) AS mean_r,
      |  CAST(list_sum(list_transform(range(w * h),
      |    k -> (doc_id * 31 + f * 13 + (3 * k + 1) * 7) % 256)) AS DOUBLE) / (w * h) AS mean_g,
      |  CAST(list_sum(list_transform(range(w * h),
      |    k -> (doc_id * 31 + f * 13 + (3 * k + 2) * 7) % 256)) AS DOUBLE) / (w * h) AS mean_b
      |FROM s ORDER BY media_id, frame_idx""".stripMargin

  /** q155 — sequence-gap audit: the reference assigns per-fiscal-year
    * document numbers on create (`etl_purchase/models/purchase.py:80-106`
    * — max existing sequence + 1 within the year); the statutory inverse
    * check is whether an issued numbering series has DUPLICATES or GAPS
    * (tax authorities audit invoice number continuity). Per year of
    * `orders`: span, missing count, gap count, longest gap, duplicate
    * count. Scale: ONE window partitioned by the numbering series (the
    * year shard — the same boundedness argument as the packing shard);
    * everything else is the year-keyed rollup. */
  def q155(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("y")).orderBy(col("k"))
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).cast("long").as("y"),
        col("o_orderkey").as("k"))
      .withColumn("nk", lead(col("k"), 1).over(w))
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n_keys"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"),
        // countDistinct, not count(*): a year with one missing key AND one
        // duplicated key must report n_missing=1, not 0 — gaps and dupes
        // are independent audit signals.
        (max(col("k")) - min(col("k")) + 1 - countDistinct(col("k"))).as("n_missing"),
        sum(when(col("nk") - col("k") > 1, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(max(when(col("nk") - col("k") > 1, col("nk") - col("k") - 1)),
          lit(0L)).as("max_gap"),
        (count(lit(1)) - countDistinct(col("k"))).as("n_dupes"))
      .orderBy(col("y"))
  }

  val q155Sql: String =
    """WITH k AS (SELECT year(o_orderdate)::BIGINT y, o_orderkey k
      |           FROM orders),
      |g AS (SELECT y, k, lead(k) OVER (PARTITION BY y ORDER BY k) nk FROM k)
      |SELECT y, count(*)::BIGINT n_keys,
      |  CAST(min(k) AS BIGINT) min_key, CAST(max(k) AS BIGINT) max_key,
      |  CAST(max(k) - min(k) + 1 - count(DISTINCT k) AS BIGINT) n_missing,
      |  CAST(sum(CASE WHEN nk - k > 1 THEN 1 ELSE 0 END) AS BIGINT) n_gaps,
      |  CAST(coalesce(max(CASE WHEN nk - k > 1 THEN nk - k - 1 END), 0)
      |    AS BIGINT) max_gap,
      |  CAST(count(*) - count(DISTINCT k) AS BIGINT) n_dupes
      |FROM g GROUP BY y ORDER BY y""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q155_sequence_gaps", q155, q155Sql), Gate("q157_stream_maintain", q157, q157Sql),
    Gate("q158_qc_overview", q158, q158Sql), Gate("q159_stream_sessionize", q159, q159Sql),
    Gate("q160_stream_dedup", q160, q160Sql), Gate("q161_stream_bloom", q161, q161Sql),
    Gate("q163_stream_join", q163, q163Sql), Gate("q164_stream_outer_join", q164, q164Sql),
    Gate("q165_stream_restart", q165, q165Sql), Gate("q167_stream_hourly", q167, q167Sql),
    Gate("q168_stream_dropdup", q168, q168Sql), Gate("q89_wav_decode", q89, q89Sql),
    Gate("q122_quality_audit", q122, q122Sql), Gate("q132_video_frames", q132, q132Sql),
    Gate("q123_skew_profile", q123, q123Sql), Gate("q124_table_profile", q124, q124Sql),
    Gate("q125_zorder_key", q125, q125Sql), Gate("q65_external_carryover", q65, q65Sql),
    Gate("q66_line_tree_render", q66, q66Sql), Gate("q67_csv_ingest", q67, q67Sql),
    Gate("q68_branch_security", q68, q68Sql), Gate("q69_multimodal_meta", q69, q69Sql),
    Gate("q70_like_domain", q70, q70Sql), Gate("q71_report_spec", q71, q71Sql),
    Gate("q72_cross_report", q72, q72Sql), Gate("q73_prefix_regroup", q73, q73Sql),
    Gate("q74_journal_report", q74, q74Sql), Gate("q75_sessionize", q75, q75Sql),
    Gate("q88_ppm_decode", q88, q88Sql), Gate("q109_domain_negation", q109, q109Sql),
    Gate("q113_bank_reconciliation", q113, q113Sql), Gate("q116_match_suggestions", q116, q116Sql),
    Gate("q118_cheque_lines", q118, q118Sql))
}
