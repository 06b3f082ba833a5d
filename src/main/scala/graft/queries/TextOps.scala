package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables

/** Text-analysis operators for a training-data pipeline, over `documents`:
  * n-gram language ID (q37), quality scoring (q38), token counting (q39).
  *
  * Scale posture: all three are per-document map-side computations plus one
  * small aggregation — no joins on the corpus except the tiny broadcast
  * profile in q37. They run as a single scan at any scale.
  */
object TextOps {

  /** q37 — character-trigram language ID: build a top-20-trigram profile per
    * language from a training split (doc_id % 5 != 0), score held-out docs
    * by profile-hit mass, emit the actual×predicted confusion matrix.
    * The profile is tiny → broadcast; scoring is a map-side join. */
  def q37(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // native kernel: one long[] per doc instead of ~2000 string allocations,
    // and an 8-byte join/groupBy key (hash constants mirrored in the oracle)
    val tg = docs.filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.CharGramHash.of(col("text"))).as("t"))
    // deliberately NOT cached: train/test read disjoint doc_id slices, and
    // at scale recomputing the map-side explode per branch is cheaper than
    // pinning an exploded corpus in memory
    val train = tg.filter(col("doc_id") % 5 =!= 0)
      .groupBy(col("lang").as("p_lang"), col("t")).agg(count(lit(1)).as("cnt"))
    val profile = train
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("p_lang")).orderBy(col("cnt").desc, col("t"))))
      .filter(col("rn") <= 20)
      .select(col("p_lang"), col("t"))
    val testTg = tg.filter(col("doc_id") % 5 === 0)
      .groupBy(col("doc_id"), col("lang"), col("t")).agg(count(lit(1)).as("c"))
    val scores = testTg.join(broadcast(profile), "t")
      .groupBy(col("doc_id"), col("lang"), col("p_lang"))
      .agg(sum(col("c")).as("sc"))
    scores
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("sc").desc, col("p_lang"))))
      .filter(col("rn") === 1)
      .groupBy(col("lang").as("lang_actual"), col("p_lang").as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_actual"), col("lang_pred"))
  }

  val q37Sql: String =
    """WITH tg AS (
      |  -- portable trigram hash: ord(c_k)·((1103515245·k+12345) mod (2^31-1))
      |  -- summed mod (2^31-1) — same constants as the native Spark kernel
      |  SELECT doc_id, lang,
      |    (CAST(ord(substring(text, i, 1)) AS BIGINT) * 1103527590
      |     + CAST(ord(substring(text, i + 1, 1)) AS BIGINT) * 59559188
      |     + CAST(ord(substring(text, i + 2, 1)) AS BIGINT) * 1163074433)
      |    % 2147483647 AS t
      |  FROM documents, generate_series(1, 2000) s(i)
      |  WHERE length(text) >= 3 AND i <= length(text) - 2),
      |train AS (
      |  SELECT lang p_lang, t, count(*) cnt FROM tg
      |  WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
      |profile AS (
      |  SELECT p_lang, t FROM (
      |    SELECT p_lang, t,
      |      row_number() OVER (PARTITION BY p_lang ORDER BY cnt DESC, t) rn
      |    FROM train) WHERE rn <= 20),
      |test_tg AS (
      |  SELECT doc_id, lang, t, count(*) c FROM tg
      |  WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3),
      |scores AS (
      |  SELECT doc_id, lang, p_lang, sum(c) sc
      |  FROM test_tg JOIN profile USING (t) GROUP BY 1, 2, 3),
      |pred AS (
      |  SELECT doc_id, lang, p_lang FROM (
      |    SELECT doc_id, lang, p_lang,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, p_lang) rn
      |    FROM scores) WHERE rn = 1)
      |SELECT lang AS lang_actual, p_lang AS lang_pred, count(*) AS n_docs
      |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q38 — document quality scoring: word count, average word length,
    * stopword ratio, and a rational-arithmetic composite score (no
    * transcendentals, so Spark and DuckDB agree bit-for-bit). */
  /** The q38 quality formula's stop-word list and the two shared
    * expressions built from it — q137's token-budget selection and q141's
    * release report score documents with EXACTLY this formula, so the
    * Column and SQL forms live here once (a drifted copy would silently
    * de-couple the composed gates from the scoring gate). */
  private[queries] val StopWords = Seq("a", "the", "row", "data", "value")

  private[queries] def stopHitsCol: Column = StopWords
    .map(w => ((length(col("text")) -
      length(regexp_replace(col("text"), s"\\b$w\\b", ""))) / w.length)
      .cast("long"))
    .reduce(_ + _)

  /** stop-hit ratio + length bonus, 4-decimal fixed rounding. */
  private[queries] def qualityCol(nWords: Column): Column =
    Parity.fr(stopHitsCol.cast("double") / nWords +
      nWords.cast("double") / lit(1000.0), 4)

  /** The same stop-hit sum as a DuckDB expression over `text`. */
  private[queries] val StopHitsSql: String = StopWords
    .map(w => s"""(length(text) - length(regexp_replace(text, '\\b$w\\b', '', 'g'))) / ${w.length}""")
    .mkString("( ", "\n    + ", "\n    )::DOUBLE")

  def q38(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val ws = split(col("text"), " ")
    val nWords = size(ws).cast("long")
    val stopHits = stopHitsCol
    docs.select(
        col("doc_id"),
        nWords.as("n_words"),
        col("n_chars"),
        Parity.fr((col("n_chars") - nWords + lit(1)).cast("double") / nWords, 3).as("avg_word_len"),
        Parity.fr(stopHits.cast("double") / nWords, 4).as("stop_ratio"),
        Parity.fr(stopHits.cast("double") / nWords + nWords.cast("double") / lit(1000.0), 4).as("quality"))
      .orderBy(col("doc_id"))
  }

  val q38Sql: String =
    s"""WITH m AS (
      |  SELECT doc_id, n_chars,
      |    len(string_split(text, ' '))::BIGINT AS n_words,
      |    $StopHitsSql AS stop_hits
      |  FROM documents)
      |SELECT doc_id, n_words, n_chars,
      |  floor((n_chars - n_words + 1)::DOUBLE / n_words * 1e3 + 0.5) / 1e3 AS avg_word_len,
      |  floor(stop_hits / n_words * 1e4 + 0.5) / 1e4 AS stop_ratio,
      |  floor((stop_hits / n_words + n_words::DOUBLE / 1000.0) * 1e4 + 0.5) / 1e4 AS quality
      |FROM m ORDER BY doc_id""".stripMargin

  /** q39 — token counting per source: whitespace tokens and a BPE-ish regex
    * tokenization ([a-z]+ | digit runs | single punctuation), with exact
    * integer-ratio averages. */
  def q39(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val wsTok = size(split(col("text"), " ")).cast("long")
    val reTok = size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")
    docs.select(col("source"), wsTok.as("ws_tok"), reTok.as("re_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tok")).as("ws_tokens"),
        sum(col("re_tok")).as("re_tokens"),
        round(sum(col("ws_tok")).cast("double") / count(lit(1)), 2).as("avg_ws_tokens"))
      .orderBy(col("source"))
  }

  val q39Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
      |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS re_tokens,
      |  round(sum(len(string_split(text, ' ')))::DOUBLE / count(*), 2) AS avg_ws_tokens
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** q84 — TF-IDF top terms per document: tf per (doc, word), rational idf
    * (N+1)/(df+1) (a monotone idf with NO transcendental — ln() differs in
    * the last ulp across libms, so a log-based idf could not hash-match),
    * top-3 terms per doc via the native bounded `top_k_by_score` aggregate
    * (map-side combinable: the exchange carries ≤ 3 (score, term) pairs
    * per doc). Terms are emitted as their portable hash, so an (astronomically
    * unlikely) equal-score equal-hash tie yields identical OUTPUT rows
    * regardless of which word ranked first. */
  def q84(s: SparkSession, d: String): DataFrame = {
    val wc = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfx = wc.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    wc.join(dfx, "w")
      .crossJoin(broadcast(n))
      .select(col("doc_id"),
        (col("tf") * (col("n") + 1.0) / (col("df") + 1)).as("score"),
        Parity.strHash(col("w")).as("th"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.TopKByScore.topK(col("score"), col("th"), 3).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("term_hash"), col("col.score").as("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val q84Sql: String =
    s"""WITH wc AS (
      |  SELECT doc_id, w, count(*) tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents)
      |  WHERE w <> '' GROUP BY 1, 2),
      |dfx AS (SELECT w, count(*) df FROM wc GROUP BY 1),
      |scored AS (
      |  SELECT doc_id, ${Parity.strHashSql("w")} th,
      |    tf * ((SELECT count(*) FROM documents) + 1.0) / (df + 1) score
      |  FROM wc JOIN dfx USING (w)),
      |rk AS (SELECT doc_id, th, score, row_number() OVER (
      |         PARTITION BY doc_id ORDER BY score DESC, th) rn
      |       FROM scored)
      |SELECT doc_id, rn AS rank, th AS term_hash, score
      |FROM rk WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin

  /** q134 — vocab-induction statistics (the BPE-shaped first round):
    * corpus-wide adjacent word-pair (merge-candidate) counts, min-count
    * floored, top-50 by (count desc, bigram) — the "most frequent pair"
    * table a tokenizer trainer consumes each merge round. Scale: one
    * map-side explode of in-row adjacent pairs (no window, no self-join)
    * into one count aggregation; top-k is a TakeOrdered, never a global
    * sort of the counts. The words array is projected to an attribute
    * BEFORE the pair lambda (a `split` inlined into a HOF lambda
    * re-tokenizes per element — O(words²) per doc), and
    * the adjacent pairing is zip_with(ws, tail(ws)) — one pass, no index
    * arithmetic (measured 8× over transform(sequence)+element_at). */
  def q134(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)
  }

  val q134Sql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (
      |  SELECT ws[i] || ' ' || ws[i+1] AS bigram
      |  FROM w, generate_series(1, 2000) t(i)
      |  WHERE i + 1 <= len(ws)),
      |c AS (SELECT bigram, count(*) AS n FROM bg GROUP BY 1 HAVING count(*) >= 5)
      |SELECT bigram, CAST(n AS BIGINT) AS n FROM c
      |ORDER BY n DESC, bigram LIMIT 50""".stripMargin

  /** q138 — corpus bigram language-model scoring (the KenLM-shaped
    * fluency filter: score every document under an n-gram LM trained on
    * the corpus itself, flag the tail as suspect). Per doc: the mean
    * conditional bigram probability avg over positions of
    * P(w2|w1) = C(w1 w2) / Σ_x C(w1 x), with counts from the WHOLE corpus —
    * a perplexity proxy in pure count arithmetic (no log/exp, so DuckDB
    * computes bit-identical ratios before the one rounded mean).
    * Scale: bigram explosion is the map-side zip_with of q134; the model
    * is two count aggregations (bigram, then prefix-word marginal); scoring
    * is one join keyed by the bigram string plus a doc_id-keyed mean. The
    * "model" stays distributed — nothing collects; a hot prefix word is
    * one aggregation key, never a list. */
  def q138(s: SparkSession, d: String): DataFrame = {
    val bg = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), concat(a, lit(" "), b).as("bg")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.bg").as("bg"))
      // consumers: the bigram model counts and the scoring probe;
      // frame-scoped pin (r11 house rule), not a session cache
      .transform(graft.FramePin.pin)
    val bc = bg.groupBy(col("w1"), col("bg")).agg(count(lit(1)).as("cb"))
    val pc = bc.groupBy(col("w1")).agg(sum(col("cb")).as("cw"))
    val model = bc.join(pc, Seq("w1"))
      .select(col("bg"), (col("cb").cast("double") / col("cw")).as("p"))
    bg.join(model, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        Parity.fr(avg(col("p")), 4).as("mean_p"))
      .orderBy(col("doc_id"))
  }

  val q138Sql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i] || ' ' || ws[i+1] AS bg
      |  FROM t, generate_series(1, 2000) s(i)
      |  WHERE i + 1 <= len(ws)),
      |bc AS (SELECT w1, bg, count(*) cb FROM bg GROUP BY 1, 2),
      |pc AS (SELECT w1, sum(cb) cw FROM bc GROUP BY 1),
      |model AS (SELECT bg, cb::DOUBLE / cw AS p FROM bc JOIN pc USING (w1))
      |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      |  floor(avg(p) * 1e4 + 0.5) / 1e4 AS mean_p
      |FROM bg JOIN model USING (bg)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q37_langid", q37, q37Sql), Gate("q38_quality_score", q38, q38Sql),
    Gate("q39_token_count", q39, q39Sql), Gate("q84_tfidf_topterms", q84, q84Sql),
    Gate("q134_bigram_vocab", q134, q134Sql), Gate("q138_bigram_lm", q138, q138Sql))
}
