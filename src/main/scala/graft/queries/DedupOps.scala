package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Queries.Gate
import graft.Tables

/** Training-data deduplication operators over the `documents` table:
  * exact (q31), n-gram Jaccard (q32), MinHash+LSH (q33), SimHash (q34),
  * winnowing fingerprints (q40). Each has a DuckDB oracle.
  *
  * Scale posture (100 TB): tokens (shingles/words/grams) are id-ed by
  * [[Parity.strHash]] — a pure map-side positional hash computed identically
  * in Spark and DuckDB, so there is NO token dictionary, no global sort, no
  * dictionary shuffle anywhere. The surrounding plan (explode → distinct →
  * min-per-hash → band join) is the standard distributed MinHash/LSH shape:
  * every step is a key-partitioned shuffle, no driver-side state, no cross
  * join of the full corpus. Pair enumeration only ever happens WITHIN an
  * LSH bucket / shared shingle, never globally, and the Jaccard inverted
  * index drops shingles above a document-frequency cap so no single hot
  * shingle (boilerplate, near-empty docs) can form a quadratic bucket.
  */
object DedupOps {

  /** (doc_id, shingle-hash) pairs, distinct per document. The dedup is
    * done INSIDE the scan by the native kernel (set semantics per row) —
    * no cluster-wide distinct() shuffle of the raw exploded shingles. */
  private[queries] def shingleHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.ShingleHash.distinctOf(col("text"))).as("s"))

  private val shingles3Sql =
    """sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      |       generate_series(1, 400) t(i)
      |  WHERE i + 2 <= len(ws))""".stripMargin

  /** [[shingles3Sql]] over an arbitrary source CTE, then df-capped: shingles
    * present in more than max(MinDfCap, n_docs/DfCapDivisor) documents are
    * dropped from the inverted index (mirrors [[jaccardPairs]]' cap). */
  private def cappedShSql(source: String): String =
    s"""sh0 AS (
       |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') ws FROM $source),
       |       generate_series(1, 400) t(i)
       |  WHERE i + 2 <= len(ws)),
       |sh AS (SELECT doc_id, s FROM (
       |  SELECT doc_id, s, count(*) OVER (PARTITION BY s) df FROM sh0)
       |  WHERE df <= greatest($MinDfCap, (SELECT count(*) FROM $source) // $DfCapDivisor))""".stripMargin

  /** Document-frequency cap for the Jaccard inverted index:
    * max(MinDfCap, corpus_size / DfCapDivisor), i.e. "a shingle present in
    * more than 1% of all documents is boilerplate". Proportional, not fixed:
    * a fixed cap that bites on a 500-doc fixture would shred the index at
    * 100 TB (and vice versa). On the sf0.01 gate fixture this evaluates to
    * 5 and provably drops hot shingles (max df there is 7); the point at
    * scale is that any cap is FINITE, bounding a bucket's pair count at
    * cap² regardless of how hot a boilerplate shingle gets. */
  val MinDfCap = 5
  val DfCapDivisor = 100

  /** q31 — exact dedup: group by content hash, keep min doc_id
    * (hash-groupBy dedup; cf. the reference's bulk data-repair dedup jobs,
    * etl_stock/models/company.py:657-890 which dedups uploaded rows by key).
    * Scale: one shuffle on the 128-bit content hash; survivors streamed out,
    * no collect. */
  def q31(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
      .select(col("keep_id"), col("copies"))
      .orderBy(col("keep_id"))

  val q31Sql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** q32 — n-gram Jaccard near-dup: inverted-index self-join on shared
    * 3-shingles, |A∩B| / (|A|+|B|-|A∩B|) >= 0.5, over the df-capped shingle
    * universe. Scale: the join key is the shingle, so pair enumeration is
    * bounded by cap² per shingle — no hot key can go quadratic. */
  /** Reusable exact-Jaccard pair detection over any documents frame —
    * joins on the 8-byte shingle hash, not the string (same pairs, 64-bit
    * collisions negligible, much cheaper shuffle at scale). Shingles with
    * document frequency > max(MinDfCap, n_docs/DfCapDivisor) are dropped
    * from the index entirely (both from the intersection AND the sizes,
    * i.e. Jaccard over the capped universe — the oracle mirrors with a
    * windowed df filter). The df is one partitioned window over the shingle
    * key; the cap scalar is a 1-row broadcast, so the whole cap costs one
    * extra shuffle-free sort within the existing shingle partitioning. */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    // the LAZY path pins via localCheckpoint (r11, the CacheHygieneSpec
    // house rule): the lazy API cannot unpersist — its pins materialize
    // only under the consumer's action — so the r4-era cache() here pinned
    // CacheManager storage for the session's lifetime (the sweep's q62
    // finding); localCheckpoint blocks are instead held by the plan and
    // GC-reclaimed once the consumer's frame goes unreachable
    jaccardPairsBuild(docs, threshold, graft.FramePin.pin)._1

  /** [[jaccardPairs]] computed once and written to `out` as parquet.
    * [[PairMemo]] is the suite-level consumer. Pin choice re-adjudicated
    * r19: the r10 cache()+release A/B priced the SELF-JOIN shape (two
    * join-side reads of the decorated index); with the posting-list
    * kernel only sh0 is pinned (3 map-side consumers) and the
    * localCheckpoint pin beats cache()'s columnar InMemoryRelation
    * encode — solo-child 3-run benches: 10.32 → 8.20 and 8.48 → 7.70 s
    * (two A/B pairs, comparable windows). Blocks die with the frame
    * after the write (the release thunk stays for the cache-mode
    * callers' contract; unpersist on a checkpointed frame is a no-op). */
  def materializePairs(docs: DataFrame, threshold: Double, out: String): Unit = {
    val (pairs, release) = jaccardPairsBuild(docs, threshold, graft.FramePin.pin)
    pairs.write.mode("overwrite").parquet(out)
    release()
  }

  private def jaccardPairsBuild(docs: DataFrame, threshold: Double,
      pin: DataFrame => DataFrame): (DataFrame, () => Unit) = {
    // pinned: sh0 feeds the hot-set aggregation AND the anti-join probe;
    // without the pin the scan+explode would run once per branch. (At
    // 100 TB the hot set is a per-corpus-version artifact — compute it
    // once with the index build and persist it, exactly this shape.)
    val sh0 = pin(shingleHashes(docs))
    val cap = docs.agg(greatest(lit(MinDfCap.toLong),
      floor(count(lit(1)) / lit(DfCapDivisor)).cast("long")).as("cap"))
    // df via an aggregate (map-side-combinable narrow shuffle of (s, cnt)
    // partials), then a broadcast ANTI-join of the HOT set — not a
    // semi-join against the KEEP set. keep ≈ every shingle (billions of
    // rows at scale, a full shuffle-join build), while the hot set is
    // PROVABLY broadcast-sized: Σ df = n_rows, so |{s : df > cap}| ≤
    // n_rows / cap = DfCapDivisor · (avg shingles/doc) ≈ 2·10⁴ entries
    // regardless of corpus size. The fact table is never shuffled for the
    // cap filter at all — its one exchange is the self-join's.
    val hot = sh0.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(cap))
      .filter(col("df") > col("cap")).select(col("s"))
    // derived map-side from the cached sh0 — cheap per use, not re-cached
    val sh = sh0.join(broadcast(hot), Seq("s"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // Considered and REJECTED: full PPJoin prefix filtering (index only
    // each doc's first |A| − ⌈t·|A|⌉ + 1 shingles in global df order).
    // At this gate's t = 0.5 the prefix is |A|/2 + 1 — the candidate
    // index only halves, while the rank decoration (df join + per-doc
    // window) and the separate verify phase (re-joining candidates to
    // both full shingle sets) add ~4 fact-scale shuffles to today's 2.
    // The trade flips for high thresholds (t ≥ 0.8 shrinks the prefix to
    // a few tokens); a 0.9-threshold caller should revisit.
    // Decorate every index row with its doc's (capped) set size so the
    // LENGTH FILTER (the PPJoin prefix-family bound: J(A,B) ≤ min/max, so
    // J ≥ t requires t·max ≤ min) prunes candidate pairs INSIDE the join —
    // before they are ever shuffled to the pair aggregation. The bound is
    // applied at t − 10⁻⁴ (one step of the output's 4-decimal rounding
    // grid): the FINAL filter keeps ROUNDED jaccard ≥ t, which raw
    // J ∈ [t − 5·10⁻⁵, t) can still satisfy — bounding at raw t would
    // drop those pairs on long documents (min/max < t) while every
    // oracle keeps them. Exact for the gated predicate: no pair that can
    // round up to t survives pruning. Carrying n through the join makes
    // the post-aggregation size lookups free (n1/n2 ride the group key).
    // NO broadcast hint on sizes: it is one row PER DOCUMENT (billions at
    // 100 TB — never driver-collectable); AQE broadcasts it at gate scale
    // and shuffle-joins it at corpus scale, both correct. Pinned: the
    // self-join consumes the decorated index twice — without the pin
    // each side re-runs the hot-set and size aggregations.
    val shN = sh.join(sizes, Seq("doc_id"))
    // Pair emission via the native posting-list kernel (r19, VERDICT r18
    // #3): ONE exchange of the decorated index into per-shingle posting
    // lists, then [[graft.functions.JaccardPairEmitExpr]] emits the
    // length-filtered candidate pairs per list. The former self-join
    // (`shN.as("a") ⋈ shN.as("b") ON a.s = b.s AND a.doc_id < b.doc_id
    // AND a.n·lt ≤ b.n AND b.n·lt ≤ a.n`) shuffled the index TWICE (both
    // join sides) and paid the join's sorts; the emitted pair multiset is
    // identical by construction (kernel scaladoc; JaccardPairEmitSpec pins
    // it against the join form), so the pair aggregation below is
    // byte-identical. Per-key work stays cap²-bounded — the df cap is
    // enforced upstream, a posting list never exceeds `cap` entries.
    // shN now has ONE consumer, so the r10-era pin on it is gone (the
    // A/B that justified it priced TWO join-side reads).
    val ltV = math.max(threshold - 1e-4, 0.0)
    val pairs = shN
      .groupBy(col("s"))
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ps"))
      .select(explode(graft.functions.JaccardPairEmit.of(col("ps"), ltV)).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"),
        col("p.n1").as("n1"), col("p.n2").as("n2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
    (pairs, () => { sh0.unpersist(); () })
  }

  def q32(s: SparkSession, d: String): DataFrame =
    PairMemo.pairs(s, d) // suite-level artifact; plan shape pinned on the builder
      .orderBy(col("d1"), col("d2"))

  val q32Sql: String =
    s"""WITH ${cappedShSql("documents")},
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id d1, b.doc_id d2, count(*) inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT d1, d2,
      |  round(inter::DOUBLE / (s1.n + s2.n - inter), 4) AS jaccard
      |FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |WHERE round(inter::DOUBLE / (s1.n + s2.n - inter), 4) >= 0.5
      |ORDER BY d1, d2""".stripMargin

  /** q33 — MinHash+LSH near-dup: K=12 min-hashes over 3-shingles, 4 bands
    * of 3 rows; candidate pairs share a band signature; output the
    * estimated similarity (fraction of agreeing minhashes). The permutation
    * family is (a_k·sid + b_k) mod p with plan-time constants, the textbook
    * construction. Scale: signatures are 12 longs/doc; the band join is a
    * shuffle on (band, signature) — the only pair enumeration is within a
    * bucket. The gate reads the suite-level [[PairMemo.minhashCandidates]]
    * artifact (the sketch index is a per-corpus-version output, like the
    * exact pair set); plan audits pin the BUILDER ([[minhashCandidates]]). */
  def q33(s: SparkSession, d: String): DataFrame =
    PairMemo.minhashCandidates(s, d).orderBy(col("d1"), col("d2"))

  private val MhP = 99991L
  private val MhK = 12

  /** Wide MinHash signatures (doc_id, ms array<long>) over any documents
    * frame. Token ids are map-side strHash — no dictionary, no global
    * sort. No distinct either: duplicate shingles cannot change a min, so
    * the rows flow straight from the explode into the partial
    * min-aggregation (zero full-width shuffles before the per-doc
    * signature); all K minhashes are aggregation buffers of ONE groupBy —
    * a map-side-combinable shuffle of the shingle rows, instead of a K×
    * row blowup (the scale-correct distributed MinHash plan). */
  private def minhashSignatures(docs: DataFrame): DataFrame =
    // The whole signature is the native one-pass kernel (r19, following
    // the r18 PortableNgramHash step): [[graft.functions.MinHashSigExpr]]
    // computes the portable 3-gram hashes AND the K-permutation minima
    // inside the scan — a purely row-local function of the text, so the
    // former explode + K-min-buffer groupBy(doc_id) (one row per n-gram
    // instance, one exchange per corpus) is gone: NO shuffle before the
    // band join. Bit-identical (kernel scaladoc; KernelParitySpec pins it
    // against the exploded formulation, both eval paths); `size(ms) > 0`
    // reproduces the old shape's absence of <3-word documents. The
    // permutation family constants stay plan-time literals mirrored in
    // the oracle.
    docs.select(col("doc_id"),
        graft.functions.MinHashSig.of(col("text"), 3,
          (0 until MhK).map(k => 53L * k + 7L),
          (0 until MhK).map(k => 97L * k + 13L), MhP).as("ms"))
      .filter(size(col("ms")) > 0)

  /** (doc_id, band, sig) banding of a signature frame — band ids and sigs
    * are row-local functions of the wide array, so the explode emits only
    * K/3 rows per doc. */
  private def minhashBands(sigArr: DataFrame): DataFrame =
    sigArr.select(col("doc_id"),
      explode(array((0 until MhK / 3).map(b => struct(lit(b).as("band"),
        (element_at(col("ms"), 3 * b + 1) * lit(10000000000L) +
          element_at(col("ms"), 3 * b + 2) * lit(100000L) +
          element_at(col("ms"), 3 * b + 3)).as("sig"))): _*)).as("t"))
      .select(col("doc_id"), col("t.band").as("band"), col("t.sig").as("sig"))

  /** Decorates candidate (d1, d2) pairs with the estimated similarity —
    * the fraction of agreeing minhashes; one array row moves per doc per
    * side. */
  private def minhashEstimates(cand: DataFrame, sigArr: DataFrame): DataFrame =
    cand
      .join(sigArr.select(col("doc_id").as("d1"), col("ms").as("ms1")), Seq("d1"))
      .join(sigArr.select(col("doc_id").as("d2"), col("ms").as("ms2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        round(size(filter(zip_with(col("ms1"), col("ms2"), (a, b) =>
          when(a === b, lit(1)).otherwise(lit(0))), x => x === 1))
          .cast("double") / MhK, 3).as("est_sim"))

  /** The q33 computation over any documents frame: MinHash band-candidate
    * pairs decorated with the estimated similarity, unordered. The wide
    * signature frame is consumed three times (banding + both sides of the
    * estimate join), so the build pins it with `pin` — the returned thunk
    * releases a cache once the result is materialized. */
  private def minhashBuild(docs: DataFrame,
      pin: DataFrame => DataFrame): (DataFrame, () => Unit) = {
    val sigArr = pin(minhashSignatures(docs))
    val bands = minhashBands(sigArr)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2")).distinct()
    (minhashEstimates(cand, sigArr), () => { sigArr.unpersist(); () })
  }

  /** Lazy [[minhashBuild]] view — the frame plan audits pin (the gates
    * themselves read the memoized artifact, a plain parquet scan). It pins
    * via localCheckpoint, like [[jaccardPairs]]: a lazy view has no
    * release point, and a `cache()` would stay in the CacheManager for the
    * session's lifetime. */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashBuild(docs, graft.FramePin.pin)._1

  /** [[minhashBuild]] written to `out` as parquet, caches released —
    * [[PairMemo.minhashCandidates]] is the suite-level consumer. */
  def materializeMinhashCandidates(docs: DataFrame, out: String): Unit = {
    val (est, release) = minhashBuild(docs, _.cache())
    est.write.mode("overwrite").parquet(out)
    release()
  }

  val q33Sql: String =
    s"""WITH $shingles3Sql,
      |hs AS (SELECT doc_id, ${Parity.strHashSql("s")} AS sid FROM sh),
      |hk AS (SELECT k, 53*k+7 AS a, 97*k+13 AS b FROM generate_series(0, 11) t(k)),
      |mh AS (
      |  SELECT hs.doc_id, hk.k, min((hk.a * hs.sid + hk.b) % 99991) m
      |  FROM hs CROSS JOIN hk GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, k // 3 AS band,
      |    sum(m * CAST(power(10, 5 * (2 - k % 3)) AS BIGINT)) sig
      |  FROM mh GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT x.doc_id d1, y.doc_id d2
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
      |SELECT d1, d2,
      |  round(avg(CASE WHEN m1.m = m2.m THEN 1.0 ELSE 0.0 END), 3) AS est_sim
      |FROM cand
      |JOIN mh m1 ON m1.doc_id = d1
      |JOIN mh m2 ON m2.doc_id = d2 AND m2.k = m1.k
      |GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin

  /** q162 — INCREMENTAL sketch-index maintenance (the production ingest
    * path for the MinHash index): signatures are PER-DOCUMENT — no
    * corpus-wide statistic enters them, unlike the df-capped exact pair
    * index — so an arriving batch (odd doc_ids) extends the persisted
    * index (even doc_ids) EXACTLY: signatures compute for the batch only,
    * and the new candidates are ONE band join whose left side is
    * batch-sized (batch × (corpus ∪ batch)); the corpus is never
    * re-signatured and never re-self-joined. The gate emits the union of
    * the old corpus-only candidates and the incremental additions, and
    * its oracle is the FULL-REBUILD q33 over the whole table — equality
    * is the correctness proof that incremental maintenance loses nothing
    * and invents nothing. Scale: per-batch cost is O(batch) signature
    * work + a (band, sig)-keyed join; the 100 TB corpus index is a
    * persisted artifact that only ever grows by appends. */
  def q162(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // ONE signature pass, split by parity after: in production sigC is a
    // READ of the persisted signature artifact, not a computation — the
    // fixture stands it up in the same job as the batch signatures
    // rather than paying the scan + shingle explode twice. Cached: both
    // halves' bandings and the estimate join consume it; released below
    // once the (gate-sized) result is materialized — same discipline as
    // the jaccard/minhash builders' release thunks.
    val sigAll = minhashSignatures(docs).cache()
    val sigC = sigAll.filter(col("doc_id") % 2 === 0)
    val sigB = sigAll.filter(col("doc_id") % 2 === 1)
    val bandsC = minhashBands(sigC)
    val bandsB = minhashBands(sigB)
    // the persisted corpus index: corpus-only candidate pairs
    val candOld = bandsC.as("x").join(bandsC.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
    // incremental additions: every pair touching the batch comes out of a
    // single batch-sided band join (id-normalized so d1 < d2)
    val candNew = bandsB.as("x")
      .join(bandsC.unionByName(bandsB).as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("d1"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("d2"))
    // eager localCheckpoint pins the candidate-pair result (gate-sized;
    // in production this is the artifact WRITE) so the signature cache
    // can be released immediately instead of staying pinned in executor
    // storage for the rest of the session
    val res = minhashEstimates(candOld.unionByName(candNew).distinct(), sigAll)
      .orderBy(col("d1"), col("d2"))
      .localCheckpoint()
    sigAll.unpersist()
    res
  }

  /** Full-rebuild oracle — incremental maintenance must reproduce q33's
    * candidate set and estimates bit-for-bit. */
  val q162Sql: String = q33Sql

  /** q34 — SimHash near-dup: 16-bit simhash from term-frequency-weighted
    * word hashes; emit pairs at Hamming distance <= 1 via bit_count(xor).
    * Pair search is the pigeonhole multi-probe: distance <= 1 implies the
    * two 8-bit signature halves agree on at least one half, so candidates
    * come from two equi-joins on the halves (union, distinct) instead of a
    * quadratic cartesian — the plan that survives 100 TB. */
  def q34(s: SparkSession, d: String): DataFrame =
    simhashPairs(s, d).orderBy(col("d1"), col("d2"))

  /** The per-document 16-bit SimHash signature (`doc_id`, `sh`) — the
    * shared linear-cost front of q34's pair emission and q169's
    * histogram pair counting. One definition, so the two gates cannot
    * drift apart on the signature semantics. */
  private def simhashSignatures(s: SparkSession, d: String): DataFrame =
    // The whole signature is the native one-pass kernel (r19, VERDICT r18
    // #5): [[graft.functions.SimHash16Expr]] computes the per-word
    // portable hash, the 16-bit bucket and the ±1 bit votes over word
    // INSTANCES inside the scan — a purely row-local function of the
    // text, so the former explode(split) + 16-buffer groupBy(doc_id)
    // aggregation (one row per word instance, one exchange per corpus)
    // is gone: NO shuffle exists before the pigeonhole probe (q34) /
    // signature histogram (q169). Bit-identical to the composed form
    // (kernel scaladoc; SimHash16ParitySpec pins it, incl. the r18-era
    // formulation rebuilt expression-by-expression); the `sh >= 0`
    // filter reproduces the old shape's absence of no-word documents
    // (explode emitted no row for them — the kernel returns −1).
    Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.SimHash16.of(col("text")).as("sh"))
      .filter(col("sh") >= 0)

  /** q34's pair-emission body: signature build + pigeonhole half-probe,
    * returning (`d1`, `d2`, `dist`) unsorted. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint, not cache() (r11 CacheHygieneSpec house rule): both
    // pigeonhole probes consume the signatures; the pin must be released
    // with the caller's frame, not held by the CacheManager for the session
    val sig = simhashSignatures(s, d)
      .select(col("doc_id"), col("sh"),
        (col("sh") % 256).as("h0"),
        floor(col("sh") / 256).cast("long").as("h1"))
      .transform(graft.FramePin.pin)
    def probeHalf(c: String): DataFrame =
      sig.as("x").join(sig.as("y"),
          col(s"x.$c") === col(s"y.$c") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.sh").as("s1"), col("y.sh").as("s2"))
    probeHalf("h0").unionByName(probeHalf("h1")).distinct()
      .withColumn("dist", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .filter(col("dist") <= 1)
      .select(col("d1"), col("d2"), col("dist"))
  }

  /** q169 — SimHash pair COUNTS by Hamming distance, in CLOSED FORM from
    * the signature histogram (r10, VERDICT r9 next-list #3's
    * "pair-count by bucket"). Same signatures as q34
    * ([[simhashSignatures]] — one definition), but the counting never
    * enumerates a single pair: group the corpus by signature value
    * (≤ 2¹⁶ rows REGARDLESS of corpus size), then
    *   - dist 0 pairs = Σ_v C(n_v, 2) — docs sharing a signature;
    *   - dist 1 pairs = Σ_bits Σ_{v < v⊕bit} n_v · n_{v⊕bit} — each
    *     unordered pair counted exactly once, since exactly one bit
    *     differs.
    * Equality with q34's enumerated pairs aggregated by distance is
    * spec-pinned ([[graft.OperatorsSpec]]) and oracle-checked (the
    * DuckDB oracle still counts by enumeration). This is what a
    * production pipeline does with a giant near-dup clique: a k-clique
    * costs q34 O(k²) pair rows, but costs this gate ONE histogram row —
    * the pair-mass audit stays linear in the corpus (signature build)
    * plus a bounded histogram join, which is why ScaleStress can measure
    * the SimHash operator at ×100 where q34's own output (90.6 M pairs
    * at ×30, quadratic in the synthetic corpus's copy overlap) cannot
    * be. */
  def q169(s: SparkSession, d: String): DataFrame = {
    // ≤ 65536 rows; read by both distance branches. localCheckpoint, NOT
    // cache() (r11, ADVICE r10 #1): a cache()d plan is retained by the
    // CacheManager for the session's lifetime even after the caller drops
    // the result, so every ScaleStress factor/dir invocation would leave
    // one behind; a lazy localCheckpoint's blocks are held only by the
    // returned plan's RDD — the ContextCleaner reclaims them when the
    // caller's frame becomes unreachable (the house rule the registry-wide
    // CacheHygieneSpec sweep now enforces).
    val hist = simhashSignatures(s, d)
      .groupBy(col("sh")).agg(count(lit(1)).as("n"))
      .transform(graft.FramePin.pin)
    val d0 = hist
      .agg(coalesce(sum(shiftright(col("n") * (col("n") - 1), 1)), lit(0L))
        .as("n_pairs"))
      .select(lit(0L).as("dist"), col("n_pairs"))
    // one-bit neighbors: explode each histogram row into its 16 XOR
    // neighbors, keep each unordered signature pair once (sh < sh2), and
    // join back against the histogram — a ≤ 2²⁰-row broadcast-scale join,
    // independent of corpus size
    val neighbor = hist.select(col("sh"), col("n"),
        explode(array((0 until 16).map(b => lit(1L << b)): _*)).as("bit"))
      .select(col("sh"), col("n"), col("sh").bitwiseXOR(col("bit")).as("sh2"))
      .filter(col("sh") < col("sh2"))
    val d1 = neighbor
      .join(hist.select(col("sh").as("sh2"), col("n").as("n2")), Seq("sh2"))
      .agg(coalesce(sum(col("n") * col("n2")), lit(0L)).as("n_pairs"))
      .select(lit(1L).as("dist"), col("n_pairs"))
    d0.unionByName(d1).filter(col("n_pairs") > 0).orderBy(col("dist"))
  }

  /** The SimHash signature CTE chain shared by the q34 and q169 oracles —
    * one definition, so the count-only oracle cannot drift from the
    * pair-emission one. */
  private val simhashSigCte: String =
    s"""wc AS (
      |  SELECT doc_id, w, count(*) cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents)
      |  WHERE w <> '' GROUP BY 1, 2),
      |h AS (SELECT doc_id, cnt, (${Parity.strHashSql("w")} * 2654435761) % 65536 AS hw
      |      FROM wc),
      |bits AS (
      |  SELECT doc_id, b,
      |    CASE WHEN sum(cnt * (2 * (CAST(floor(hw / power(2, b)) AS BIGINT) % 2) - 1)) > 0
      |         THEN 1 ELSE 0 END ob
      |  FROM h CROSS JOIN generate_series(0, 15) t(b) GROUP BY 1, 2),
      |sig AS (SELECT doc_id, sum(ob * CAST(power(2, b) AS BIGINT)) sh
      |        FROM bits GROUP BY 1)""".stripMargin

  val q34Sql: String =
    s"""WITH $simhashSigCte
      |SELECT x.doc_id d1, y.doc_id d2,
      |  CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS dist
      |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
      |WHERE bit_count(xor(x.sh, y.sh)) <= 1
      |ORDER BY d1, d2""".stripMargin

  val q169Sql: String =
    s"""WITH $simhashSigCte,
      |prs AS (
      |  SELECT CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS dist
      |  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
      |  WHERE bit_count(xor(x.sh, y.sh)) <= 1)
      |SELECT dist, count(*) AS n_pairs FROM prs GROUP BY dist ORDER BY dist""".stripMargin

  /** q40 — winnowing document fingerprints (Schleimer et al.): char 5-gram
    * hashes, window-min over 4 consecutive grams, distinct mins per doc.
    * Scale: one window function partitioned by doc — embarrassingly
    * parallel; gram ids are map-side strHash (no dictionary). */
  def q40(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(length(col("text")) >= 8)
      // whole per-doc computation (gram hash, 4-window min, dedup) runs in
      // the native one-pass kernel; only fingerprints reach the shuffle
      .select(col("doc_id"),
        explode(graft.functions.Winnow.of(col("text"))).as("wm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), min(col("wm")).as("min_fp"), max(col("wm")).as("max_fp"))
      .orderBy(col("doc_id"))

  val q40Sql: String =
    s"""WITH grams AS (
      |  SELECT doc_id, i - 1 AS pos, substring(text, i, 5) AS g
      |  FROM documents, generate_series(1, 2000) t(i)
      |  WHERE length(text) >= 8 AND i <= length(text) - 4),
      |hashed AS (SELECT doc_id, pos, (${Parity.strHashSql("g")} * 2654435761) % 1000003 AS hg
      |           FROM grams),
      |wins AS (
      |  SELECT doc_id, pos,
      |    min(hg) OVER (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) wm,
      |    max(pos) OVER (PARTITION BY doc_id) maxp
      |  FROM hashed),
      |fp AS (SELECT DISTINCT doc_id, wm FROM wins WHERE pos <= maxp - 3)
      |SELECT doc_id, count(*) AS n_fp, min(wm) AS min_fp, max(wm) AS max_fp
      |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q115 — MinHash/LSH quality eval: recall and precision of the q33
    * band candidates against the exact df-capped Jaccard >= 0.5 pairs —
    * the measurement a dedup pipeline runs before trusting the sketch at
    * scale (the dedup mirror of q90's ANN recall). Scale: one full-outer
    * join of two pair sets keyed by (d1, d2); both sides are the bounded
    * pair outputs, never the corpus. */
  def q115(s: SparkSession, d: String): DataFrame = {
    val exact = PairMemo.pairs(s, d)
      .select(col("d1"), col("d2")).withColumn("e", lit(1))
    val cand = PairMemo.minhashCandidates(s, d)
      .select(col("d1"), col("d2")).withColumn("c", lit(1))
    exact.join(cand, Seq("d1", "d2"), "full_outer")
      .agg(count(col("e")).as("n_exact"), count(col("c")).as("n_cand"),
        sum(when(col("e") === 1 && col("c") === 1, 1L).otherwise(0L)).as("n_hits"))
      .select(col("n_exact"), col("n_cand"), col("n_hits"),
        Parity.fr(col("n_hits").cast("double") / col("n_exact"), 4).as("recall"),
        Parity.fr(col("n_hits").cast("double") / col("n_cand"), 4).as("prec"))
  }

  val q115Sql: String =
    s"""WITH ${cappedShSql("documents")},
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |prs AS (
      |  SELECT a.doc_id d1, b.doc_id d2, count(*) inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |exact AS (
      |  SELECT d1, d2 FROM prs
      |  JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |  WHERE round(inter::DOUBLE / (s1.n + s2.n - inter), 4) >= 0.5),
      |hs AS (SELECT doc_id, ${Parity.strHashSql("s")} AS sid FROM sh0),
      |hk AS (SELECT k, 53*k+7 AS a, 97*k+13 AS b FROM generate_series(0, 11) t(k)),
      |mh AS (
      |  SELECT hs.doc_id, hk.k, min((hk.a * hs.sid + hk.b) % 99991) m
      |  FROM hs CROSS JOIN hk GROUP BY 1, 2),
      |bands AS (
      |  SELECT doc_id, k // 3 AS band,
      |    sum(m * CAST(power(10, 5 * (2 - k % 3)) AS BIGINT)) sig
      |  FROM mh GROUP BY 1, 2),
      |cand AS (
      |  SELECT DISTINCT x.doc_id d1, y.doc_id d2
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
      |j AS (
      |  SELECT coalesce(e.d1, c.d1) d1, coalesce(e.d2, c.d2) d2,
      |         e.d1 IS NOT NULL ise, c.d1 IS NOT NULL isc
      |  FROM exact e FULL OUTER JOIN cand c ON e.d1 = c.d1 AND e.d2 = c.d2)
      |SELECT
      |  CAST(sum(CASE WHEN ise THEN 1 ELSE 0 END) AS BIGINT) n_exact,
      |  CAST(sum(CASE WHEN isc THEN 1 ELSE 0 END) AS BIGINT) n_cand,
      |  CAST(sum(CASE WHEN ise AND isc THEN 1 ELSE 0 END) AS BIGINT) n_hits,
      |  floor(CAST(sum(CASE WHEN ise AND isc THEN 1 ELSE 0 END) AS DOUBLE)
      |    / sum(CASE WHEN ise THEN 1 ELSE 0 END) * 1e4 + 0.5) / 1e4 recall,
      |  floor(CAST(sum(CASE WHEN ise AND isc THEN 1 ELSE 0 END) AS DOUBLE)
      |    / sum(CASE WHEN isc THEN 1 ELSE 0 END) * 1e4 + 0.5) / 1e4 prec
      |FROM j""".stripMargin

  /** q59 — near-dup clustering: the Jaccard pairs (q32) become transitive
    * clusters via iterative connected components
    * (graft.operators.DupClusters); output (doc_id, cluster). Oracle:
    * recursive CTE transitive closure with min-id labeling. */
  def q59(s: SparkSession, d: String): DataFrame =
    PairMemo.clusters(s, d)
      .select(col("id").as("doc_id"), col("cluster"))
      .orderBy(col("doc_id"))

  /** q62 — the composed curation pipeline
    * (graft.pipelines.TrainingDataPipeline): quality band → exact dedup →
    * Jaccard near-dup clusters on the survivors → one doc per cluster →
    * per-language corpus stats. */
  def q62(s: SparkSession, d: String): DataFrame =
    graft.pipelines.TrainingDataPipeline.curate(
        Tables.documents(s, d), docs => jaccardPairs(docs, 0.5),
        minWords = 20, maxWords = 80)
      .orderBy(col("lang"))

  val q62Sql: String =
    s"""WITH RECURSIVE q AS (
      |  SELECT * FROM documents
      |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 80),
      |surv AS (
      |  SELECT * FROM q WHERE doc_id IN (
      |    SELECT min(doc_id) FROM q GROUP BY md5(text))),
      |${cappedShSql("surv")},
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |prs AS (
      |  SELECT a.doc_id d1, b.doc_id d2, count(*) inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dup AS (
      |  SELECT d1, d2 FROM prs
      |  JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |  WHERE round(inter::DOUBLE / (s1.n + s2.n - inter), 4) >= 0.5),
      |edges AS (SELECT d1 a, d2 b FROM dup UNION SELECT d2, d1 FROM dup),
      |verts AS (SELECT DISTINCT a AS id FROM edges),
      |reach AS (
      |  SELECT id AS src, id AS node FROM verts
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
      |clus AS (SELECT src AS id, min(node) AS cluster FROM reach GROUP BY src),
      |keep AS (
      |  SELECT s.* FROM surv s LEFT JOIN clus c ON s.doc_id = c.id
      |  WHERE c.cluster IS NULL OR c.cluster = s.doc_id)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  floor(sum(n_chars)::DOUBLE / count(*) * 100 + 0.5) / 100 AS avg_chars
      |FROM keep GROUP BY lang ORDER BY lang""".stripMargin

  /** The q59 oracle chain through the recursive closure (`dup` = the
    * jaccard pairs, `reach` = the transitive reachability) — shared with
    * the cluster-audit gate [[q154]]. */
  private def ccClusterCtes: String =
    s"""${cappedShSql("documents")},
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id d1, b.doc_id d2, count(*) inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dup AS (
      |  SELECT d1, d2 FROM pairs
      |  JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |  WHERE round(inter::DOUBLE / (s1.n + s2.n - inter), 4) >= 0.5),
      |edges AS (SELECT d1 a, d2 b FROM dup UNION SELECT d2, d1 FROM dup),
      |verts AS (SELECT DISTINCT a AS id FROM edges),
      |reach AS (
      |  SELECT id AS src, id AS node FROM verts
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a)"""
      .stripMargin

  val q59Sql: String =
    s"""WITH RECURSIVE $ccClusterCtes
      |SELECT src AS doc_id, min(node) AS cluster
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** q154 — near-dup cluster audit: per cluster SIZE, how many clusters
    * exist and how dense they are (`2·edges / n·(n−1)` in fixed-point
    * ppm). The threshold-tuning evidence a dedup pass reads: tight
    * near-complete cliques say the jaccard threshold is conservative;
    * large sparse chains say transitive closure is gluing unrelated
    * documents and the threshold (or the keep-rule) must move. Scale:
    * everything after the (already-bounded) pair set is cluster-keyed
    * aggregation; the integer density divides by n·(n−1) only on n ≥ 2
    * rows (every CC member has an edge, so no ANSI zero-division). */
  def q154(s: SparkSession, d: String): DataFrame = {
    // both artifacts come from the memo parquet — the former pairs.cache()
    // (never released) and the private CC rerun are gone
    val pairs = PairMemo.pairs(s, d).select(col("d1"), col("d2"))
    val clusters = PairMemo.clusters(s, d)
    val members = clusters.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    val edges = pairs
      .join(clusters.select(col("id").as("d1"), col("cluster")), Seq("d1"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("edges"))
    members.join(edges, Seq("cluster"))
      .filter(col("n") >= 2)
      .withColumn("density_ppm",
        expr("(1000000 * 2 * edges) div (n * (n - 1))"))
      .groupBy(col("n").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("edges")).as("total_edges"),
        min(col("density_ppm")).as("min_density_ppm"),
        max(col("density_ppm")).as("max_density_ppm"))
      .orderBy(col("cluster_size"))
  }

  val q154Sql: String =
    s"""WITH RECURSIVE $ccClusterCtes,
      |cl AS (SELECT src id, min(node) AS grp FROM reach GROUP BY src),
      |mem AS (SELECT grp, count(*) n FROM cl GROUP BY grp),
      |ed AS (SELECT cl.grp, count(*) edges FROM dup
      |       JOIN cl ON cl.id = dup.d1 GROUP BY 1),
      |dens AS (SELECT mem.grp, n, edges,
      |           (1000000 * 2 * edges) // (n * (n - 1)) density_ppm
      |         FROM mem JOIN ed USING (grp) WHERE n >= 2)
      |SELECT n cluster_size, count(*)::BIGINT n_clusters,
      |  CAST(sum(edges) AS BIGINT) total_edges,
      |  CAST(min(density_ppm) AS BIGINT) min_density_ppm,
      |  CAST(max(density_ppm) AS BIGINT) max_density_ppm
      |FROM dens GROUP BY n ORDER BY cluster_size""".stripMargin

  /** q135 — cross-document SPAN overlap: the substring-level dedup signal
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" — repeated spans, not whole-document copies). q119 removes
    * FIXED word blocks; this detects copied text at ANY alignment, because
    * winnowing guarantees any ≥(window+gram)-char shared substring leaves
    * at least one common fingerprint. Per doc: fingerprint count, count
    * shared with another doc, and the shared fraction — the score a
    * curation pass thresholds to route docs into span-level scrubbing.
    * Scale: fingerprints are computed by the one-pass native kernel (only
    * 8-byte fingerprints ever shuffle); the df is one count aggregation
    * keyed by the fingerprint; the rest is doc_id-keyed. No windows, no
    * self-join of documents. */
  def q135(s: SparkSession, d: String): DataFrame = {
    val fp = Tables.documents(s, d)
      .filter(length(col("text")) >= 8)
      // per-doc distinct by the kernel, so df below counts DOCUMENTS
      .select(col("doc_id"),
        explode(graft.functions.Winnow.of(col("text"))).as("wm"))
      // two consumers: the df aggregation and the join probe. Pinned via
      // localCheckpoint, not the r4-era session cache (r11 CacheHygieneSpec
      // house rule): still fingerprint-rows-sized and private to q135, but
      // the blocks now die with the caller's frame instead of depending on
      // Verify/Bench clearCache() discipline to be released.
      .transform(graft.FramePin.pin)
    val fdf = fp.groupBy(col("wm")).agg(count(lit(1)).as("df"))
    fp.join(fdf, Seq("wm"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_fp"), col("n_shared"),
        Parity.fr(col("n_shared").cast("double") / col("n_fp"), 4).as("overlap"))
      .orderBy(col("doc_id"))
  }

  val q135Sql: String =
    s"""WITH grams AS (
      |  SELECT doc_id, i - 1 AS pos, substring(text, i, 5) AS g
      |  FROM documents, generate_series(1, 2000) t(i)
      |  WHERE length(text) >= 8 AND i <= length(text) - 4),
      |hashed AS (SELECT doc_id, pos, (${Parity.strHashSql("g")} * 2654435761) % 1000003 AS hg
      |           FROM grams),
      |wins AS (
      |  SELECT doc_id, pos,
      |    min(hg) OVER (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) wm,
      |    max(pos) OVER (PARTITION BY doc_id) maxp
      |  FROM hashed),
      |fp AS (SELECT DISTINCT doc_id, wm FROM wins WHERE pos <= maxp - 3),
      |fdf AS (SELECT wm, count(*) AS df FROM fp GROUP BY wm)
      |SELECT doc_id, count(*)::BIGINT AS n_fp,
      |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  floor(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) * 1e4 + 0.5) / 1e4 AS overlap
      |FROM fp JOIN fdf USING (wm)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q140 — leakage-safe train/val/test split: assign documents to splits
    * by their NEAR-DUP CLUSTER id, not their own id, so no near-duplicate
    * pair ever straddles train and eval (the eval-contamination failure
    * mode of naive per-document hashing — a val doc whose near-copy sits
    * in train silently inflates the benchmark). Both strategies run over
    * the same q83 hash-bucket split; the gate reports, per strategy, the
    * split sizes AND the number of near-dup pairs crossing splits —
    * by_cluster must show 0 leaked pairs BY CONSTRUCTION, and by_doc shows
    * what naive splitting would have leaked. Scale: clusters via the
    * iterative CC operator, assignment map-side, the leak count two
    * doc_id-keyed joins of the bounded pair set. */
  def q140(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = PairMemo.pairs(s, d).select(col("d1"), col("d2"))
    val clusters = PairMemo.clusters(s, d)
    def splitOf(key: Column): Column = {
      val b = pmod(key * lit(2654435761L), lit(1000L))
      when(b < 800, "train").when(b < 900, "val").otherwise("test")
    }
    val assigned = docs.select(col("doc_id"))
      .join(clusters, docs("doc_id") === clusters("id"), "left")
      .select(col("doc_id"),
        splitOf(col("doc_id")).as("by_doc"),
        splitOf(coalesce(col("cluster"), col("doc_id"))).as("by_cluster"))
      // two consumers (leak join ×2 sides + the size scan); localCheckpoint
      // so the pin is frame-scoped, not session-scoped (r11 house rule)
      .transform(graft.FramePin.pin)
    // BOTH strategies in one pass: a single pair join carrying both split
    // labels and a single size scan, reshaped to two rows at the end —
    // the previous per-strategy helper ran the pair join and the assigned
    // scan twice each
    val leaks = pairs
      .join(assigned.select(col("doc_id").as("d1"),
        col("by_doc").as("bd1"), col("by_cluster").as("bc1")), Seq("d1"))
      .join(assigned.select(col("doc_id").as("d2"),
        col("by_doc").as("bd2"), col("by_cluster").as("bc2")), Seq("d2"))
      .agg(
        coalesce(sum(when(col("bd1") =!= col("bd2"), 1L).otherwise(0L)),
          lit(0L)).as("leak_doc"),
        coalesce(sum(when(col("bc1") =!= col("bc2"), 1L).otherwise(0L)),
          lit(0L)).as("leak_cluster"))
    def n(c: String, v: String): Column =
      sum(when(col(c) === v, 1L).otherwise(0L)).as(s"${c}_$v")
    assigned.agg(n("by_doc", "train"), n("by_doc", "val"), n("by_doc", "test"),
        n("by_cluster", "train"), n("by_cluster", "val"), n("by_cluster", "test"))
      .crossJoin(leaks) // 1×1
      .select(explode(array(
        struct(lit("by_cluster").as("strategy"),
          col("by_cluster_train").as("n_train"), col("by_cluster_val").as("n_val"),
          col("by_cluster_test").as("n_test"), col("leak_cluster").as("leaked_pairs")),
        struct(lit("by_doc").as("strategy"),
          col("by_doc_train").as("n_train"), col("by_doc_val").as("n_val"),
          col("by_doc_test").as("n_test"), col("leak_doc").as("leaked_pairs"))))
        .as("r"))
      .select(col("r.*"))
      .orderBy(col("strategy"))
  }

  val q140Sql: String =
    s"""WITH RECURSIVE ${cappedShSql("documents")},
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |prs AS (
      |  SELECT a.doc_id d1, b.doc_id d2, count(*) inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |dup AS (
      |  SELECT d1, d2 FROM prs
      |  JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |  WHERE round(inter::DOUBLE / (s1.n + s2.n - inter), 4) >= 0.5),
      |edges AS (SELECT d1 a, d2 b FROM dup UNION SELECT d2, d1 FROM dup),
      |verts AS (SELECT DISTINCT a AS id FROM edges),
      |reach AS (
      |  SELECT id AS src, id AS node FROM verts
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
      |cl AS (SELECT src AS doc_id, min(node) AS cluster FROM reach GROUP BY src),
      |asg AS (
      |  SELECT d.doc_id,
      |    CASE WHEN (d.doc_id*2654435761)%1000 < 800 THEN 'train'
      |         WHEN (d.doc_id*2654435761)%1000 < 900 THEN 'val'
      |         ELSE 'test' END AS by_doc,
      |    CASE WHEN (coalesce(cl.cluster, d.doc_id)*2654435761)%1000 < 800 THEN 'train'
      |         WHEN (coalesce(cl.cluster, d.doc_id)*2654435761)%1000 < 900 THEN 'val'
      |         ELSE 'test' END AS by_cluster
      |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
      |lk AS (
      |  SELECT
      |    coalesce(sum(CASE WHEN a1.by_doc <> a2.by_doc THEN 1 ELSE 0 END), 0) ld,
      |    coalesce(sum(CASE WHEN a1.by_cluster <> a2.by_cluster THEN 1 ELSE 0 END), 0) lc
      |  FROM dup p JOIN asg a1 ON p.d1 = a1.doc_id JOIN asg a2 ON p.d2 = a2.doc_id)
      |SELECT 'by_cluster' AS strategy,
      |  CAST(sum(CASE WHEN by_cluster = 'train' THEN 1 ELSE 0 END) AS BIGINT) n_train,
      |  CAST(sum(CASE WHEN by_cluster = 'val' THEN 1 ELSE 0 END) AS BIGINT) n_val,
      |  CAST(sum(CASE WHEN by_cluster = 'test' THEN 1 ELSE 0 END) AS BIGINT) n_test,
      |  CAST((SELECT lc FROM lk) AS BIGINT) leaked_pairs
      |FROM asg
      |UNION ALL
      |SELECT 'by_doc',
      |  CAST(sum(CASE WHEN by_doc = 'train' THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(sum(CASE WHEN by_doc = 'val' THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(sum(CASE WHEN by_doc = 'test' THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST((SELECT ld FROM lk) AS BIGINT)
      |FROM asg
      |ORDER BY strategy""".stripMargin

  /** Boilerplate prefix injected into every 10th document by the q166 skew
    * fixture — 7 words ⇒ 5 interior 3-shingles each present in 10 % of the
    * corpus (the boundary shingles mix in per-doc words and stay cold). */
  private[queries] val HotPrefix =
    "common portal header shared across every page"

  /** q166 — SKEW-STRESS gate for the pair-join family (VERDICT r5 #5:
    * q123 profiles hot keys, but nothing demonstrated the engine SURVIVING
    * a pathological one): every 10th document gets [[HotPrefix]] prepended,
    * planting shingles with df = n/10 — an uncapped inverted-index
    * self-join would enumerate (n/10)² pairs off each (the all-pairs
    * blowup that kills a 100 TB run). The gate emits the skew ledger:
    * the cap, how many shingles it dropped, the max df that SURVIVED
    * (≤ cap ⇒ every join bucket is ≤ cap² pairs), the candidate-pair mass
    * Σ df·(df−1)/2 kept vs uncapped (what the cap prevented), and the
    * final pair count from the REAL [[jaccardPairs]] run over the skewed
    * corpus — all mirrored in the oracle. DedupSpec pins the physical
    * posture (max shuffle-partition rows of the join input, join shape).
    *
    * Construction-eager by documented design ([[graft.Queries]] contract):
    * the stats are bounded scalar aggregates and the pair join runs once
    * with its caches released ([[jaccardPairsBuild]]'s release thunk). */
  def q166(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val skewed = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 10 === 0, concat(lit(HotPrefix + " "), col("text")))
        .otherwise(col("text")).as("text"))
    val sh0 = shingleHashes(skewed).cache()
    val capRow = skewed.agg(count(lit(1)).as("n_docs"),
      greatest(lit(MinDfCap.toLong),
        floor(count(lit(1)) / lit(DfCapDivisor)).cast("long")).as("cap")).head()
    val (nDocs, cap) = (capRow.getLong(0), capRow.getLong(1))
    val dfRow = sh0.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .agg(sum(when(col("df") > cap, 1L).otherwise(0L)).as("n_hot"),
        coalesce(max(when(col("df") <= cap, col("df"))), lit(0L)).as("kept_max"),
        // df·(df−1) is even, the double quotient is integer-valued ≤ 2^53
        coalesce(sum(when(col("df") <= cap,
          (col("df") * (col("df") - 1) / 2).cast("long")).otherwise(0L)),
          lit(0L)).as("kept_mass"),
        coalesce(sum((col("df") * (col("df") - 1) / 2).cast("long")),
          lit(0L)).as("uncapped_mass")).head()
    sh0.unpersist()
    // FramePin (r19, with the materializePairs re-adjudication): at gate
    // scale the two pin forms tie here (solo benches 2.03 cache vs 1.99
    // pin), so the r11 house rule's localCheckpoint form wins by default;
    // the pairs are fully counted at construction and the blocks die with
    // this frame
    val (pairs, release) = jaccardPairsBuild(skewed, 0.5, graft.FramePin.pin)
    val nPairs = pairs.count()
    release()
    Seq((nDocs, cap, dfRow.getLong(0), dfRow.getLong(1), dfRow.getLong(2),
      dfRow.getLong(3), nPairs))
      .toDF("n_docs", "cap", "n_hot_shingles", "max_kept_df",
        "kept_pair_mass", "uncapped_pair_mass", "n_pairs")
  }

  val q166Sql: String =
    s"""WITH skewed AS (SELECT doc_id,
      |  CASE WHEN doc_id % 10 = 0 THEN '$HotPrefix ' || text
      |       ELSE text END AS text
      |  FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |        FROM (SELECT doc_id, string_split(text, ' ') ws FROM skewed),
      |             generate_series(1, 500) t(i)
      |        WHERE i + 2 <= len(ws)),
      |capv AS (SELECT greatest($MinDfCap,
      |           (SELECT count(*) FROM skewed) // $DfCapDivisor) AS cap),
      |dfs AS (SELECT s, count(*) df FROM sh0 GROUP BY s),
      |sh AS (SELECT doc_id, s FROM sh0
      |       WHERE s IN (SELECT s FROM dfs WHERE df <= (SELECT cap FROM capv))),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id d1, b.doc_id d2, count(*) inter
      |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |good AS (SELECT d1 FROM pairs JOIN sizes s1 ON s1.doc_id = d1
      |         JOIN sizes s2 ON s2.doc_id = d2
      |         WHERE round(inter::DOUBLE / (s1.n + s2.n - inter), 4) >= 0.5)
      |SELECT CAST((SELECT count(*) FROM skewed) AS BIGINT) n_docs,
      |  CAST((SELECT cap FROM capv) AS BIGINT) cap,
      |  CAST((SELECT count(*) FROM dfs WHERE df > (SELECT cap FROM capv))
      |    AS BIGINT) n_hot_shingles,
      |  CAST((SELECT coalesce(max(df), 0) FROM dfs
      |        WHERE df <= (SELECT cap FROM capv)) AS BIGINT) max_kept_df,
      |  CAST((SELECT coalesce(sum(df * (df - 1) // 2), 0) FROM dfs
      |        WHERE df <= (SELECT cap FROM capv)) AS BIGINT) kept_pair_mass,
      |  CAST((SELECT coalesce(sum(df * (df - 1) // 2), 0) FROM dfs)
      |    AS BIGINT) uncapped_pair_mass,
      |  CAST((SELECT count(*) FROM good) AS BIGINT) n_pairs""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q31_dedup_exact", q31, q31Sql), Gate("q32_ngram_jaccard", q32, q32Sql),
    Gate("q166_skew_stress", q166, q166Sql), Gate("q33_minhash_lsh", q33, q33Sql),
    Gate("q34_simhash", q34, q34Sql), Gate("q169_simhash_paircount", q169, q169Sql),
    Gate("q162_incremental_index", q162, q162Sql), Gate("q40_winnow_fingerprint", q40, q40Sql),
    Gate("q59_dup_clusters", q59, q59Sql), Gate("q115_minhash_recall", q115, q115Sql),
    Gate("q135_span_overlap", q135, q135Sql), Gate("q140_leakage_split", q140, q140Sql),
    Gate("q154_cluster_audit", q154, q154Sql), Gate("q62_curation_pipeline", q62, q62Sql))
}
