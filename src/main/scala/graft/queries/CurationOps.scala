package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables

/** Round-3 training-data curation operators: the pipeline steps a
  * pretraining-data engine runs AFTER dedup/quality basics — sequence
  * packing, benchmark-contamination screening, embedding feature stats,
  * repetition and rarity quality signals, quota sampling, and the
  * incremental new-batch-vs-corpus dedup shape. Each gated against DuckDB.
  *
  * Scale posture: every operator is a map/explode + key-partitioned
  * aggregation; the only windows are partitioned by (lang, source) — the
  * packing/sampling SHARD, bounded by shard size, never a global sort. */
object CurationOps {

  /** Tokens per sequence for [[q101]] — a stand-in for a model context
    * length; the packing math is budget-agnostic. */
  val SeqBudget = 256L

  /** q101 — training-sequence packing: concatenate each (lang, source)
    * shard's documents in doc_id order and cut the token stream into
    * fixed-budget sequences (the GPT-style "concat then split at context
    * boundary" packing). Emits per sequence: how many documents overlap it
    * and how many tokens it holds (== budget except each shard's tail).
    *
    * Scale: the running token offset is a window partitioned by the
    * packing shard (lang, source) — real pipelines pack per input shard
    * precisely so this window never sees more than one shard. A document
    * spanning k sequences explodes into k rows (k ≤ doc_tokens/budget + 1). */
  def q101(s: SparkSession, d: String): DataFrame = {
    val B = SeqBudget
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
    val t = Tables.documents(s, d)
      .select(col("lang"), col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .withColumn("cum", sum(col("ntok")).over(w))
      .withColumn("start", col("cum") - col("ntok"))
    t.select(col("lang"), col("source"), col("start"), col("cum"),
        explode(sequence(
          floor(col("start") / B).cast("long"),
          floor((col("cum") - 1) / B).cast("long"))).as("seq_id"))
      .withColumn("tok_in_seq",
        least(col("cum"), (col("seq_id") + 1) * B) -
          greatest(col("start"), col("seq_id") * B))
      .groupBy(col("lang"), col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok_in_seq")).as("n_tokens"))
      .orderBy(col("lang"), col("source"), col("seq_id"))
  }

  val q101Sql: String =
    s"""WITH t AS (
       |  SELECT lang, source, doc_id,
       |         len(string_split(text, ' '))::BIGINT ntok
       |  FROM documents),
       |c AS (SELECT lang, source, doc_id, ntok,
       |        CAST(sum(ntok) OVER (PARTITION BY lang, source ORDER BY doc_id) AS BIGINT) cum
       |      FROM t),
       |sp AS (SELECT lang, source, cum - ntok AS start, cum FROM c),
       |e AS (SELECT lang, source, start, cum,
       |        unnest(range(start // $SeqBudget, (cum-1) // $SeqBudget + 1)) seq_id
       |      FROM sp)
       |SELECT lang, source, CAST(seq_id AS BIGINT) seq_id,
       |  count(*)::BIGINT n_docs,
       |  CAST(sum(least(cum, (seq_id+1)*$SeqBudget) - greatest(start, seq_id*$SeqBudget)) AS BIGINT) n_tokens
       |FROM e GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q102 — benchmark-contamination screen: treat every doc_id % 97 == 0
    * document as "benchmark" text; for each remaining document count how
    * many of its distinct 3-shingles appear anywhere in the benchmark set,
    * and flag docs with ≥50% overlap (the n-gram-overlap decontamination
    * check run before any training corpus ships). Scale: one equi-join on
    * the 8-byte shingle hash — the benchmark shingle set is itself a
    * DataFrame side of the join, never a driver-side collection. */
  /** Reusable contamination screen: for every doc NOT satisfying
    * `isBenchmark`, the distinct-shingle overlap with the union of
    * benchmark-doc shingles, flagged at ≥50%. */
  def contaminationScreen(docs: DataFrame,
                          isBenchmark: org.apache.spark.sql.Column): DataFrame = {
    val sh = DedupOps.shingleHashes(docs)
    val bench = sh.filter(isBenchmark).select(col("s")).distinct()
    sh.filter(!isBenchmark)
      .join(bench.withColumn("__hit", lit(1)), Seq("s"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"), count(col("__hit")).as("n_shared"))
      .withColumn("contaminated",
        (col("n_shared") * 2 >= col("n_sh")).cast("boolean"))
  }

  def q102(s: SparkSession, d: String): DataFrame =
    contaminationScreen(Tables.documents(s, d), col("doc_id") % 97 === 0)
      .orderBy(col("doc_id"))

  val q102Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] s
      |       FROM w, generate_series(1, 400) t(i) WHERE i + 2 <= len(ws)),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
      |SELECT h.doc_id, count(*)::BIGINT n_sh, count(b.s)::BIGINT n_shared,
      |       count(b.s) * 2 >= count(*) AS contaminated
      |FROM sh h LEFT JOIN bench b ON h.s = b.s
      |WHERE h.doc_id % 97 <> 0
      |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin

  /** q103 — per-dimension embedding statistics (the feature-whitening /
    * drift-monitoring pass over an embedding column): exact quantized
    * integer sums and sums of squares per dimension, with derived mean and
    * variance. Scale: posexplode then a 64-group aggregation — map-side
    * partials make the shuffle 64 rows per task. */
  def q103(s: SparkSession, d: String): DataFrame = {
    val q = Tables.embeddings(s, d)
      .select(posexplode(col("embedding")))
      .select(col("pos").cast("long").as("dim"),
        floor(col("col").cast("double") * 1e6 + 0.5).cast("long").as("q"))
    val mean = col("qsum").cast("double") / (col("n") * lit(1e6))
    q.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qsum"),
        sum(col("q") * col("q")).as("qsumsq"))
      .select(col("dim"), col("n"), col("qsum"), col("qsumsq"),
        Parity.fr(mean, 6).as("mean"),
        Parity.fr(col("qsumsq").cast("double") / (col("n") * lit(1e12)) -
          mean * mean, 6).as("variance"))
      .orderBy(col("dim"))
  }

  val q103Sql: String =
    """WITH q AS (
      |  SELECT i AS dim,
      |         CAST(floor(CAST(embedding[i+1] AS DOUBLE)*1e6 + 0.5) AS BIGINT) q
      |  FROM embeddings, generate_series(0, 63) t(i)),
      |a AS (SELECT dim, count(*)::BIGINT n, CAST(sum(q) AS BIGINT) qsum,
      |             CAST(sum(q*q) AS BIGINT) qsumsq
      |      FROM q GROUP BY dim)
      |SELECT CAST(dim AS BIGINT) dim, n, qsum, qsumsq,
      |  floor(CAST(qsum AS DOUBLE)/(n*1e6)*1e6 + 0.5)/1e6 mean,
      |  floor((CAST(qsumsq AS DOUBLE)/(n*1e12)
      |         - (CAST(qsum AS DOUBLE)/(n*1e6))*(CAST(qsum AS DOUBLE)/(n*1e6)))*1e6 + 0.5)/1e6 variance
      |FROM a ORDER BY dim""".stripMargin

  /** q104 — repetition quality signal: per document, total vs distinct
    * word counts, the hottest word's frequency, and the repeated-word
    * ratio — the "document is 90% the same line over and over" filter
    * every pretraining pipeline applies. Scale: two key-partitioned
    * aggregations ((doc, word) then doc), no windows. */
  def q104(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_freq"))
      .withColumn("rep_ratio",
        Parity.fr(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 4))
      .orderBy(col("doc_id"))

  val q104Sql: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents),
      |c AS (SELECT doc_id, w, count(*) c FROM w GROUP BY 1, 2),
      |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) n_words,
      |             count(*)::BIGINT n_distinct, CAST(max(c) AS BIGINT) top_freq
      |      FROM c GROUP BY 1)
      |SELECT doc_id, n_words, n_distinct, top_freq,
      |  floor((1.0 - CAST(n_distinct AS DOUBLE)/n_words)*1e4 + 0.5)/1e4 rep_ratio
      |FROM a ORDER BY doc_id""".stripMargin

  /** q105 — rare-token scoring (a transcendental-free perplexity
    * surrogate): corpus-wide document frequency per word, then each doc's
    * mean inverse-df over its distinct words — high score = unusual
    * vocabulary. Rational arithmetic only (floor(1e6/df) in BIGINT), so
    * both engines agree bit-for-bit ([[Parity]] bans ln()). Scale: df is
    * one word-keyed aggregation; the scoring join is word-keyed too. */
  def q105(s: SparkSession, d: String): DataFrame = {
    val dw = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .distinct()
    val df_ = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
    dw.join(df_, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(floor(lit(1000000.0) / col("df")).cast("long")).as("rarity_sum"))
      .withColumn("rarity",
        Parity.fr(col("rarity_sum").cast("double") / (col("n_distinct") * lit(1e6)), 6))
      .orderBy(col("doc_id"))
  }

  val q105Sql: String =
    """WITH dw AS (SELECT DISTINCT doc_id, w
      |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents)),
      |f AS (SELECT w, count(*)::BIGINT df FROM dw GROUP BY w),
      |a AS (SELECT doc_id, count(*)::BIGINT n_distinct,
      |             CAST(sum(CAST(floor(1000000.0/df) AS BIGINT)) AS BIGINT) rarity_sum
      |      FROM dw JOIN f USING (w) GROUP BY doc_id)
      |SELECT doc_id, n_distinct, rarity_sum,
      |  floor(CAST(rarity_sum AS DOUBLE)/(n_distinct*1e6)*1e6 + 0.5)/1e6 rarity
      |FROM a ORDER BY doc_id""".stripMargin

  /** q106 — JSONL ingestion gate ([[graft.sources.JsonSource]], the JSON
    * sibling of the q67 CSV gate): nation is round-tripped parquet → JSONL
    * file (+1 malformed line) → schema-enforced PERMISSIVE read →
    * valid/corrupt split → parquet landing → aggregate. The oracle
    * aggregates `nation` directly; the split counts ride along. */
  def q106(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val dir = graft.Scratch.fresh("gate_json")
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy("n_nationkey").collect() // dim table: 25 rows at every SF
    val jsonl = new java.io.File(dir, "nation.jsonl")
    val pw = new java.io.PrintWriter(jsonl)
    try {
      rows.foreach(r => pw.println(
        s"""{"n_nationkey": ${r.getLong(0)}, "n_name": "${r.getString(1)}", "n_regionkey": ${r.getLong(2)}}"""))
      pw.println("""{"n_nationkey": 99, "n_name": "CORRUPT""") // truncated line
    } finally pw.close()
    val schema = StructType(Seq(StructField("n_nationkey", LongType),
      StructField("n_name", StringType), StructField("n_regionkey", LongType)))
    val dest = new java.io.File(dir, "landed").getPath
    val (valid, corrupt) =
      graft.sources.JsonSource.ingest(s, jsonl.getPath, schema, dest)
    s.read.parquet(dest)
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"), max(col("n_name")).as("last_nation"))
      .withColumn("n_valid", lit(valid))
      .withColumn("n_corrupt", lit(corrupt))
      .orderBy(col("n_regionkey"))
  }

  val q106Sql: String =
    """SELECT CAST(n_regionkey AS BIGINT) n_regionkey, count(*) n_nations,
      |  max(n_name) last_nation,
      |  (SELECT count(*) FROM nation) n_valid, CAST(1 AS BIGINT) n_corrupt
      |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin

  /** q107 — deterministic per-stratum quota sampling: keep (up to) 5
    * documents per (lang, source) stratum, chosen by a portable integer
    * LCG over doc_id so the "random" subset is reproducible in both
    * engines — the balanced-subsample op for eval-set carving. Scale: the
    * rank window is partitioned by stratum (bounded); for huge strata the
    * same contract is served by the top-k aggregate (q77) — rank-k, not
    * sort-all. */
  def q107(s: SparkSession, d: String): DataFrame = {
    val key = (col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(2147483647L)
    Tables.documents(s, d)
      .select(col("lang"), col("source"), col("doc_id"), key.as("k"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang"), col("source"))
          .orderBy(col("k"), col("doc_id"))).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("source"), col("doc_id"), col("rk"))
      .orderBy(col("lang"), col("source"), col("rk"))
  }

  val q107Sql: String =
    """WITH k AS (
      |  SELECT lang, source, doc_id,
      |         (doc_id*1103515245 + 12345) % 2147483647 k
      |  FROM documents),
      |r AS (SELECT lang, source, doc_id,
      |        row_number() OVER (PARTITION BY lang, source ORDER BY k, doc_id) rk
      |      FROM k)
      |SELECT lang, source, doc_id, CAST(rk AS BIGINT) rk
      |FROM r WHERE rk <= 5 ORDER BY lang, source, rk""".stripMargin

  /** q108 — incremental new-batch dedup: the production ingestion shape —
    * an arriving batch (odd doc_ids) is checked against the existing
    * corpus (even doc_ids) for exact duplicates (content hash semi-join)
    * and near-duplicates (Jaccard pairs restricted to batch×corpus), and
    * classified exact_dup > near_dup > unique, per language. Scale: the
    * near-dup arm reads the suite-level [[PairMemo]] pair artifact — the
    * batch×corpus restriction is a FILTER on the full pair set (same doc
    * universe, same threshold), so the inverted-index join is never
    * rebuilt for this gate; the exact check is one hash-keyed semi-join.
    * (At 100 TB the ingestion job joins the arriving batch against the
    * persisted pair/hash indexes exactly like this — it does not rerun
    * corpus-wide pair enumeration per batch.) */
  def q108(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cross = PairMemo.pairs(s, d)
      .filter((col("d1") % 2) =!= (col("d2") % 2))
    val nearIds = cross
      .select(when(col("d1") % 2 === 1, col("d1")).otherwise(col("d2")).as("doc_id"))
      .distinct()
    val corpusH = docs.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("h")).distinct()
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), md5(col("text")).as("__h"))
      .join(corpusH.withColumn("__e", lit(1)), col("__h") === col("h"), "left")
      .join(nearIds.withColumn("__n", lit(1)), Seq("doc_id"), "left")
      .withColumn("dedup_class",
        when(col("__e") === 1, "exact_dup")
          .when(col("__n") === 1, "near_dup")
          .otherwise("unique"))
      .groupBy(col("lang"), col("dedup_class"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("dedup_class"))
  }

  val q108Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
       |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] s
       |        FROM w, generate_series(1, 400) t(i) WHERE i + 2 <= len(ws)),
       |sh AS (SELECT doc_id, s FROM (
       |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) df FROM sh0)
       |  WHERE df <= greatest(${DedupOps.MinDfCap},
       |    (SELECT count(*) FROM documents) // ${DedupOps.DfCapDivisor})),
       |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
       |prs AS (SELECT a.doc_id d1, b.doc_id d2, count(*) inter
       |        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2),
       |pairs AS (
       |  SELECT d1, d2 FROM prs
       |  JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
       |  WHERE round(inter::DOUBLE / (s1.n + s2.n - inter), 4) >= 0.5
       |    AND (d1 % 2) <> (d2 % 2)),
       |near AS (SELECT DISTINCT CASE WHEN d1 % 2 = 1 THEN d1 ELSE d2 END doc_id
       |         FROM pairs),
       |corpus_h AS (SELECT DISTINCT md5(text) h FROM documents WHERE doc_id % 2 = 0)
       |SELECT lang,
       |  CASE WHEN md5(text) IN (SELECT h FROM corpus_h) THEN 'exact_dup'
       |       WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
       |       ELSE 'unique' END dedup_class,
       |  count(*)::BIGINT n_docs
       |FROM documents WHERE doc_id % 2 = 1
       |GROUP BY 1, 2 ORDER BY lang, dedup_class""".stripMargin

  /** q110 — overlapping window chunking (the RAG/embedding-indexing shape:
    * window W tokens, stride S, trailing overlap W−S): per document, the
    * chunk count and the total chunk tokens (> ntok exactly by the overlap
    * overhead). Pure map + explode — no shuffle at all before the final
    * per-doc identity grouping. */
  def q110(s: SparkSession, d: String): DataFrame = {
    val W = 128L; val S = 96L
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .withColumn("n_chunks",
        when(col("ntok") <= W, lit(1L))
          .otherwise(floor((col("ntok") - W + S - 1) / S).cast("long") + 1))
      .select(col("doc_id"), col("ntok"), col("n_chunks"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("k"))
      .withColumn("chunk_tok", least(lit(W), col("ntok") - col("k") * S))
      .groupBy(col("doc_id"), col("ntok"), col("n_chunks"))
      .agg(sum(col("chunk_tok")).as("chunk_tokens"))
      .orderBy(col("doc_id"))
  }

  val q110Sql: String =
    """WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT ntok FROM documents),
      |n AS (SELECT doc_id, ntok,
      |        CASE WHEN ntok <= 128 THEN 1 ELSE (ntok - 128 + 95) // 96 + 1 END n_chunks
      |      FROM t),
      |e AS (SELECT doc_id, ntok, n_chunks, unnest(range(0, n_chunks)) k FROM n)
      |SELECT doc_id, ntok, CAST(n_chunks AS BIGINT) n_chunks,
      |  CAST(sum(least(128, ntok - k*96)) AS BIGINT) chunk_tokens
      |FROM e GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin

  /** q111 — corpus mixing toward a uniform language budget: each language
    * is down-sampled to the per-language token target total/k via a
    * deterministic portable-LCG keep rule, emitting the achieved mix (the
    * data-mixture step before pretraining; weights here uniform so the
    * oracle needs no hardcoded language list). Scale: two tiny aggregates
    * broadcast back over one map-side filter — no shuffle of the corpus. */
  def q111(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
    val lt = toks.groupBy(col("lang")).agg(sum(col("ntok")).as("lt"))
    val tot = lt.agg(sum(col("lt")).as("T"), count(lit(1)).as("k"))
    val rates = lt.crossJoin(broadcast(tot))
      .withColumn("rate_ppm", least(lit(1000000L),
        floor(col("T").cast("double") / col("k") / col("lt") * 1e6).cast("long")))
      .select(col("lang"), col("rate_ppm"))
    toks.join(broadcast(rates), Seq("lang"))
      .withColumn("keep",
        (col("doc_id") * 1103515245L + 12345L) % 2147483647L % 1000000L < col("rate_ppm"))
      .groupBy(col("lang"), col("rate_ppm"))
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("kept_docs"),
        sum(when(col("keep"), col("ntok")).otherwise(0L)).as("kept_tokens"))
      .orderBy(col("lang"))
  }

  val q111Sql: String =
    """WITH t AS (SELECT lang, doc_id, len(string_split(text, ' '))::BIGINT ntok FROM documents),
      |lt AS (SELECT lang, CAST(sum(ntok) AS BIGINT) lt FROM t GROUP BY lang),
      |tot AS (SELECT CAST(sum(lt) AS BIGINT) T, count(*)::BIGINT k FROM lt),
      |r AS (SELECT lang,
      |        least(1000000, CAST(floor(CAST(T AS DOUBLE)/k/lt*1e6) AS BIGINT)) rate_ppm
      |      FROM lt, tot)
      |SELECT t.lang, r.rate_ppm,
      |  CAST(sum(CASE WHEN (t.doc_id*1103515245 + 12345) % 2147483647 % 1000000 < r.rate_ppm
      |       THEN 1 ELSE 0 END) AS BIGINT) kept_docs,
      |  CAST(sum(CASE WHEN (t.doc_id*1103515245 + 12345) % 2147483647 % 1000000 < r.rate_ppm
      |       THEN t.ntok ELSE 0 END) AS BIGINT) kept_tokens
      |FROM t JOIN r USING (lang)
      |GROUP BY t.lang, r.rate_ppm ORDER BY t.lang""".stripMargin

  /** q112 — best-k selection per language by a quality score (n_chars as
    * the stand-in), via the native bounded top-k aggregate: the "keep the
    * k best documents per stratum" curation op with map-side heaps —
    * k·|langs| tuples cross the exchange, not the corpus. */
  def q112(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(graft.functions.TopKByScore.topK(
        col("n_chars").cast("double"), col("doc_id"), 3).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("doc_id"), col("col.score").cast("long").as("n_chars"))
      .orderBy(col("lang"), col("rk"))

  val q112Sql: String =
    """SELECT lang, CAST(rn AS BIGINT) rk, doc_id, n_chars
      |FROM (SELECT lang, doc_id, n_chars,
      |        row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) rn
      |      FROM documents)
      |WHERE rn <= 3 ORDER BY lang, rk""".stripMargin

  /** Words per paragraph block for [[q119]] — the synthetic corpus has no
    * newlines, so fixed word blocks stand in for paragraphs; the dedup
    * algebra is segmentation-agnostic. */
  val BlockWords = 16L

  /** q119 — paragraph-level dedup (the CCNet/RefinedWeb shape): segment
    * every document into word blocks, hash each block, count each block's
    * corpus-wide document frequency, and drop every block that appears in
    * more than one document (boilerplate paragraphs: headers, footers,
    * licence text). Emits per document the block count, how many blocks
    * were removed, and the retained token count.
    *
    * Scale: segmentation is a map-side explode; the df is ONE aggregation
    * keyed by the 128-bit block hash (never the block text — the shuffle
    * carries fixed-width keys); the rescore joins back on the same hash so
    * the exchange is reused. No windows, no global sort. */
  def q119(s: SparkSession, d: String): DataFrame = {
    val B = BlockWords
    val blocks = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("__w"))
      .select(col("doc_id"), size(col("__w")).cast("long").as("nw"), col("__w"))
      .select(col("doc_id"), col("__w"),
        explode(sequence(lit(0L), floor((col("nw") - 1) / B).cast("long"))).as("k"),
        col("nw"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(col("__w"), (col("k") * B + 1).cast("int"), lit(B.toInt)))).as("bh"),
        least(lit(B), col("nw") - col("k") * B).as("btok"))
      // two consumers (the df aggregation and the join probe) — pinned so
      // the scan + split + md5 work runs once, not per branch; via
      // localCheckpoint so the blocks die with the frame (r11 house rule)
      .transform(graft.FramePin.pin)
    val df_ = blocks.groupBy(col("bh"))
      .agg(countDistinct(col("doc_id")).as("df"))
    blocks.join(df_, Seq("bh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("df") === 1, col("btok")).otherwise(0L)).as("retained_tokens"))
      .orderBy(col("doc_id"))
  }

  val q119Sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
       |b AS (SELECT doc_id,
       |        md5(array_to_string(ws[k*$BlockWords+1 : (k+1)*$BlockWords], ' ')) bh,
       |        least($BlockWords, len(ws) - k*$BlockWords) btok
       |      FROM (SELECT doc_id, ws,
       |              unnest(range(0, (len(ws)-1) // $BlockWords + 1)) k
       |            FROM t)),
       |f AS (SELECT bh, count(DISTINCT doc_id) df FROM b GROUP BY bh)
       |SELECT doc_id, count(*)::BIGINT n_blocks,
       |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) n_removed,
       |  CAST(sum(CASE WHEN df = 1 THEN btok ELSE 0 END) AS BIGINT) retained_tokens
       |FROM b JOIN f USING (bh)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q120 — deterministic per-epoch shuffle: multi-epoch training wants a
    * DIFFERENT but reproducible document order each epoch; each epoch's
    * order is the portable LCG over doc_id salted by the epoch. Emits the
    * first 3 documents per (epoch, lang) shard as the order head — enough
    * for the oracle to pin the full permutation's determinism. Scale: the
    * rank window is partitioned per (epoch, lang) shard (real pipelines
    * shuffle within output shards, never globally); epochs fan out
    * map-side. */
  def q120(s: SparkSession, d: String): DataFrame = {
    val key = ((col("doc_id") + lit(1L)) * lit(1103515245L)
      + lit(12345L) + col("epoch") * lit(69069L)) % lit(2147483647L)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        explode(array(lit(0L), lit(1L))).as("epoch"))
      .withColumn("k", key)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("epoch"), col("lang"))
          .orderBy(col("k"), col("doc_id"))).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("epoch"), col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("epoch"), col("lang"), col("rk"))
  }

  val q120Sql: String =
    """WITH e AS (SELECT lang, doc_id, unnest([0, 1]) epoch FROM documents),
      |k AS (SELECT epoch, lang, doc_id,
      |        ((doc_id+1)*1103515245 + 12345 + epoch*69069) % 2147483647 k
      |      FROM e),
      |r AS (SELECT epoch, lang, doc_id,
      |        row_number() OVER (PARTITION BY epoch, lang ORDER BY k, doc_id) rk
      |      FROM k)
      |SELECT CAST(epoch AS BIGINT) epoch, lang, CAST(rk AS BIGINT) rk, doc_id
      |FROM r WHERE rk <= 3 ORDER BY epoch, lang, rk""".stripMargin

  /** q121 — pattern redaction with an audit trail (the PII-scrubbing
    * shape: mask every match of a sensitive pattern, record how many
    * redactions were applied per document). The corpus has no real PII, so
    * the gated pattern is `customer <word>` / `supplier <word>` standing in
    * for `<name> <surname>`-style entity patterns; the operator — global
    * regexp masking + per-doc audit counts + content hash of the scrubbed
    * text — is pattern-agnostic. Scale: pure map, no shuffle before the
    * final ordering; the scrubbed text would stream straight to the
    * landing sink. */
  def q121(s: SparkSession, d: String): DataFrame = {
    val pat = "(customer|supplier) [a-z]+"
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(pat)).cast("long").as("n_redacted"),
        md5(regexp_replace(col("text"), pat, "<ENTITY>")).as("scrubbed_h"),
        length(regexp_replace(col("text"), pat, "<ENTITY>")).cast("long")
          .as("scrubbed_len"))
      .orderBy(col("doc_id"))
  }

  val q121Sql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '(customer|supplier) [a-z]+'))::BIGINT n_redacted,
      |  md5(regexp_replace(text, '(customer|supplier) [a-z]+', '<ENTITY>', 'g')) scrubbed_h,
      |  len(regexp_replace(text, '(customer|supplier) [a-z]+', '<ENTITY>', 'g'))::BIGINT scrubbed_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q126 — the composed corpus-release pipeline
    * ([[graft.pipelines.TrainingDataPipeline.curateV2]]): redaction →
    * paragraph-block dedup → repetition/retained-token quality filter →
    * per-language mix. Thresholds chosen so every stage provably bites on
    * the fixture (each filter alone drops documents; jointly half the
    * corpus survives). */
  def q126(s: SparkSession, d: String): DataFrame =
    graft.pipelines.TrainingDataPipeline.curateV2(
      Tables.documents(s, d), "(customer|supplier) [a-z]+",
      blockWords = BlockWords, minRetained = 40L, maxRepRatio = 0.67)

  val q126Sql: String =
    s"""WITH scrub AS (SELECT doc_id, lang,
       |    regexp_replace(text, '(customer|supplier) [a-z]+', '<ENTITY>', 'g') st
       |  FROM documents),
       |t AS (SELECT doc_id, lang, string_split(st, ' ') ws FROM scrub),
       |b AS (SELECT doc_id,
       |        md5(array_to_string(ws[k*$BlockWords+1 : (k+1)*$BlockWords], ' ')) bh,
       |        least($BlockWords, len(ws) - k*$BlockWords) btok
       |      FROM (SELECT doc_id, ws,
       |              unnest(range(0, (len(ws)-1) // $BlockWords + 1)) k FROM t)),
       |f AS (SELECT bh, count(DISTINCT doc_id) df FROM b GROUP BY bh),
       |ret AS (SELECT doc_id,
       |          CAST(sum(CASE WHEN df = 1 THEN btok ELSE 0 END) AS BIGINT) rtok
       |        FROM b JOIN f USING (bh) GROUP BY doc_id),
       |w AS (SELECT doc_id, unnest(ws) w FROM t),
       |c AS (SELECT doc_id, w, count(*) c FROM w GROUP BY 1, 2),
       |rep AS (SELECT doc_id, 1.0 - CAST(count(*) AS DOUBLE)/sum(c) rr
       |        FROM c GROUP BY doc_id)
       |SELECT lang, count(*)::BIGINT n_docs,
       |  CAST(sum(CASE WHEN rtok >= 40 AND rr <= 0.67 THEN 1 ELSE 0 END) AS BIGINT) n_kept,
       |  CAST(sum(CASE WHEN rtok >= 40 AND rr <= 0.67 THEN rtok ELSE 0 END) AS BIGINT) tokens_kept
       |FROM t JOIN ret USING (doc_id) JOIN rep USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** q136 — corpus DATA CARD: the release-notes summary table every corpus
    * version ships with (per-language, per-source, per-cell, and overall
    * doc/token/char statistics plus the short-doc fraction). ONE scan of
    * the corpus: CUBE(lang, source) computes all four aggregation levels
    * in a single pass — the same Expand-based plan a hand-written
    * UNION ALL of four GROUP BYs would need four scans for. NULL grouping
    * keys from CUBE render as '(all)' (the corpus langs/sources are
    * non-null by schema; a corpus with genuinely-null labels would bucket
    * them into '(all)' — normalize labels upstream first). */
  def q136(s: SparkSession, d: String): DataFrame = {
    val nw = size(split(col("text"), " ")).cast("long")
    Tables.documents(s, d)
      .select(col("lang"), col("source"), col("n_chars"), nw.as("nw"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        Parity.fr(sum(col("nw")).cast("double") / count(lit(1)), 2).as("avg_tokens"),
        sum(when(col("nw") < 20, 1L).otherwise(0L)).as("n_short"))
      .select(coalesce(col("lang"), lit("(all)")).as("lang"),
        coalesce(col("source"), lit("(all)")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_chars"), col("avg_tokens"),
        col("n_short"))
      .orderBy(col("lang"), col("source"))
  }

  val q136Sql: String =
    """SELECT coalesce(lang, '(all)') AS lang,
      |  coalesce(source, '(all)') AS source,
      |  count(*)::BIGINT AS n_docs,
      |  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
      |  sum(n_chars)::BIGINT AS n_chars,
      |  floor(sum(len(string_split(text, ' ')))::DOUBLE / count(*) * 1e2 + 0.5) / 1e2 AS avg_tokens,
      |  CAST(sum(CASE WHEN len(string_split(text, ' ')) < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
      |FROM documents
      |GROUP BY CUBE (lang, source)
      |ORDER BY lang, source""".stripMargin

  /** Per-language token budget for [[q137]] — a stand-in for a corpus-mix
    * token target; the selection math is budget-agnostic. */
  val TokenBudget = 3000L

  /** q137 — token-budget corpus selection: keep the best documents per
    * language until the language's token budget is spent (the greedy
    * knapsack every corpus-mix step runs once target token counts per
    * language are fixed — cf. the mix rates of q111, which SAMPLE by rate;
    * this SELECTS by quality until a budget). Quality is the q38 score
    * (stopword ratio + length bonus); ties break on doc_id so re-runs
    * select identical corpora. A doc is kept while the running token sum
    * INCLUDING it fits the budget; selection stops at the first overflow
    * (no skip-and-continue — deterministic prefix, not bin packing).
    * Scale: the only window is partitioned by lang and bounded by the
    * per-language candidate pool; no global sort, no driver state. */
  def q137(s: SparkSession, d: String): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), nWords.as("n_words"),
        TextOps.qualityCol(nWords).as("quality"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
    scored
      .withColumn("cum_tokens", sum(col("n_words")).over(w))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("lang"), col("n_words"), col("quality"),
        col("cum_tokens"))
      .orderBy(col("lang"), col("cum_tokens"))
  }

  val q137Sql: String =
    s"""WITH m AS (
      |  SELECT doc_id, lang,
      |    len(string_split(text, ' '))::BIGINT AS n_words,
      |    ${TextOps.StopHitsSql} AS stop_hits
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, lang, n_words,
      |    floor((stop_hits / n_words + n_words / 1000.0) * 1e4 + 0.5) / 1e4 AS quality
      |  FROM m),
      |ranked AS (
      |  SELECT doc_id, lang, n_words, quality,
      |    CAST(sum(n_words) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
      |                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM scored)
      |SELECT doc_id, lang, n_words, quality, cum_tokens
      |FROM ranked WHERE cum_tokens <= $TokenBudget
      |ORDER BY lang, cum_tokens""".stripMargin

  /** Shard count for [[q139]]. */
  val RangeShards = 8

  /** q139 — range-sharded layout planning: HOW a 100 TB engine writes
    * globally-ordered output without a global sort. Exact interpolated
    * percentile cuts of the sort key (one aggregation) become broadcast
    * shard boundaries; every row maps to the shard counting the cuts below
    * its key (map-side), so shard i's key range sits entirely below shard
    * i+1's and a per-shard LOCAL sort yields global order. The gate
    * reports per-shard row counts and key ranges — the count balance and
    * the non-overlapping min/max ARE the layout's correctness property.
    * (Spark's interpolating `percentile` ≡ DuckDB `quantile_cont`, the
    * same identity q100 gates.) */
  def q139(s: SparkSession, d: String): DataFrame = {
    val ps = (1 until RangeShards).map(_.toDouble / RangeShards)
    val cuts = Tables.documents(s, d)
      .agg(percentile(col("n_chars"), lit(ps.toArray)).as("cuts"))
    Tables.documents(s, d)
      .crossJoin(broadcast(cuts))
      .select(col("n_chars"),
        aggregate(col("cuts"), lit(0L),
          (acc, c) => acc + when(col("n_chars") > c, 1L).otherwise(0L)).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_key"), max(col("n_chars")).as("max_key"))
      .orderBy(col("shard"))
  }

  val q139Sql: String = {
    val ps = (1 until RangeShards).map(_.toDouble / RangeShards)
    s"""WITH cuts AS (
      |  SELECT quantile_cont(n_chars, [${ps.mkString(", ")}]) AS c
      |  FROM documents)
      |SELECT shard, count(*)::BIGINT AS n_docs,
      |  min(n_chars)::BIGINT AS min_key, max(n_chars)::BIGINT AS max_key
      |FROM (SELECT n_chars,
      |        CAST(len(list_filter((SELECT c FROM cuts), x -> n_chars > x)) AS BIGINT) AS shard
      |      FROM documents)
      |GROUP BY shard ORDER BY shard""".stripMargin
  }

  /** q141 — the composed RELEASE REPORT: token-budget selection (q137)
    * feeding the data card (q136) over the SELECTED corpus — the two-stage
    * flow a release runs last ("pick the corpus under budget, then publish
    * its card"), in ONE declarative plan. The cumulative-budget window
    * stays lang-partitioned; the card is a single CUBE pass over the
    * selection. Both engines average the 4-decimal `quality` as the exact
    * integer sum of `round(quality·1e4)` over the count: a float `avg`
    * depends on summation order, and DuckDB's gave two results over 60
    * runs. */
  def q141(s: SparkSession, d: String): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        nWords.as("n_words"),
        TextOps.qualityCol(nWords).as("quality"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("quality").desc, col("doc_id"))
    val selected = scored
      .withColumn("cum_tokens", sum(col("n_words")).over(w))
      .filter(col("cum_tokens") <= TokenBudget)
    selected
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        (floor(sum(round(col("quality") * 1e4).cast("long")).cast("double") /
          count(lit(1)) + lit(0.5)) / lit(1e4)).as("avg_quality"))
      .select(coalesce(col("lang"), lit("(all)")).as("lang"),
        coalesce(col("source"), lit("(all)")).as("source"),
        col("n_docs"), col("n_tokens"), col("n_chars"), col("avg_quality"))
      .orderBy(col("lang"), col("source"))
  }

  val q141Sql: String =
    s"""WITH m AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    len(string_split(text, ' '))::BIGINT AS n_words,
      |    ${TextOps.StopHitsSql} AS stop_hits
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, lang, source, n_chars, n_words,
      |    floor((stop_hits / n_words + n_words / 1000.0) * 1e4 + 0.5) / 1e4 AS quality
      |  FROM m),
      |sel AS (
      |  SELECT * FROM (
      |    SELECT doc_id, lang, source, n_chars, n_words, quality,
      |      CAST(sum(n_words) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
      |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |    FROM scored)
      |  WHERE cum_tokens <= $TokenBudget)
      |SELECT coalesce(lang, '(all)') AS lang,
      |  coalesce(source, '(all)') AS source,
      |  count(*)::BIGINT AS n_docs,
      |  sum(n_words)::BIGINT AS n_tokens,
      |  sum(n_chars)::BIGINT AS n_chars,
      |  floor(sum(CAST(round(quality * 1e4) AS BIGINT))::DOUBLE / count(*) + 0.5) / 1e4 AS avg_quality
      |FROM sel
      |GROUP BY CUBE (lang, source)
      |ORDER BY lang, source""".stripMargin

  /** q142 — key-partitioned parquet sink round-trip (the parquet sibling
    * of the q67 CSV / q106 JSONL ingestion gates, exercising the WRITE
    * side): the corpus lands under `lang=<v>/` partition directories —
    * the physical layout that makes per-language reads partition-pruned
    * at 100 TB — is read back through partition discovery, and the gate
    * aggregates the READ-BACK rows. The oracle aggregates the source
    * directly, so a row lost or a partition value mangled in the
    * round-trip fails the hash compare. */
  def q142(s: SparkSession, d: String): DataFrame = {
    val dir = graft.Scratch.fresh("gate_shards").getPath
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  val q142Sql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs,
      |  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens,
      |  count(DISTINCT source)::BIGINT AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q101_seq_packing", q101, q101Sql), Gate("q102_contamination", q102, q102Sql),
    Gate("q103_embedding_stats", q103, q103Sql), Gate("q104_repetition", q104, q104Sql),
    Gate("q105_rare_tokens", q105, q105Sql), Gate("q106_jsonl_ingest", q106, q106Sql),
    Gate("q107_quota_sample", q107, q107Sql), Gate("q108_incremental_dedup", q108, q108Sql),
    Gate("q110_overlap_chunking", q110, q110Sql), Gate("q111_corpus_mix", q111, q111Sql),
    Gate("q112_best_per_lang", q112, q112Sql), Gate("q119_paragraph_dedup", q119, q119Sql),
    Gate("q120_epoch_shuffle", q120, q120Sql), Gate("q121_redaction", q121, q121Sql),
    Gate("q126_curation_v2", q126, q126Sql), Gate("q136_data_card", q136, q136Sql),
    Gate("q137_token_budget", q137, q137Sql), Gate("q139_range_shards", q139, q139Sql),
    Gate("q141_release_report", q141, q141Sql), Gate("q142_partitioned_sink", q142, q142Sql))
}
