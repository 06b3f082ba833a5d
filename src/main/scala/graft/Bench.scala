package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Benchmark main. Single-run timings at sf0.1 carry a measured ±30 %
  * run-to-run band on the heavy dedup queries (q62 spanned 4.6–9.6 s across
  * round-4 runs), so one run cannot support any regression/improvement
  * claim. This harness therefore runs the WHOLE suite N times (default 3),
  * each in a FRESH child JVM (same flags/classpath as this one — cold JIT,
  * cold code cache, no cross-run heap contamination), and reports the
  * per-query MEDIAN as the headline number:
  *   - stdout (driver contract, ONE line): {"metric":"total","value":Σ
  *     medians,"unit":"sec","queries":{q→median},"sf":…,"runs":N,
  *     "min_total":…,"max_total":…, plus the ambient + validity fields}
  *   - `target/bench_runs_latest.json`: the full spread — per-query
  *     min/median/max plus every raw sample — for reading past the
  *     driver's 2000-char tail truncation; full-suite runs mirror it to
  *     a tracked `BENCH_r{N}_driver.json` in the repo root (r10) so the
  *     driver's own per-query spread survives in a COMMITTED artifact.
  *
  * Metric semantics (pinned; the r5 VERDICT/ADVICE asked for this to be
  * explicit): `value` is the SUM OF PER-QUERY MEDIANS across the fresh-JVM
  * runs — a robust synthetic total no single run produced — PLUS the
  * suite-level memo-build ledger (`setup`, r9: the PairMemo/PQ/quantizer
  * constructions timed as their own lines instead of billed to their
  * first alphabetical consumer; see [[memoSetups]]). `min_total` /
  * `max_total` bound it with per-query extremes; `run_totals` (in the
  * target file) are the actual single-run sums. The one-line JSON carries
  * `"semantics":"sum_of_per_query_medians_incl_setup"` so downstream
  * tooling cannot silently conflate it with a single-run total.
  *
  * VALIDITY (r6 postmortem: 21 gates crashed in ~0.1 s each and were timed
  * as if they ran, so the artifact printed a "total" over work that never
  * happened): a query that throws contributes NO timing sample. The line
  * carries `n_failed` (count of queries that failed in ANY surviving run),
  * `failed_queries` (their names), and `invalid: true` whenever
  * `n_failed > 0` — a nonzero-failure artifact self-invalidates instead of
  * quietly going green. A schema-contract preflight ([[SchemaContract]])
  * runs before any child is spawned; on drift the artifact is emitted
  * immediately as invalid with the drift message, so the next testdata
  * regeneration costs one line of output, not a round.
  *
  * AMBIENT AWARENESS (r5: same-code totals spanned 103–138 s purely on
  * co-tenant host load, and the official snapshot rode an inflated
  * window): each run brackets its suite with two fixed calibration probes
  * and reports the faster bracket of each:
  *   - CPU arm: one xorshift64* thread per vCPU — senses compute
  *     contention, the resource Spark's codegen stages feel;
  *   - I/O arm (new in r7 — the r6 window inflated the suite 1.6× while
  *     the CPU probe read 1.0×, i.e. the contention was storage-side):
  *     a fixed 256 MiB write+fsync+read-back against `target/` scratch —
  *     senses the disk bandwidth shuffle spill and memo artifacts feel.
  * Per-run factors are each arm's probe over the best run's probe.
  * `total_norm` divides samples by the CPU factor only — the same
  * semantics as round 6, so it stays comparable round-over-round and
  * never over-corrects a compute-bound query by a disk-side spike
  * (observed: I/O factors of 4.6× alongside CPU factors of 1.0 would
  * deflate an 11 s suite to a fictitious 3 s). `total_norm_lb` divides
  * by the COMBINED factor (elementwise max of the arms): the quiet-
  * window cost IF every query were fully bound by the window's binding
  * resource — a lower bound. Quiet-window truth lies in
  * [total_norm_lb, total_norm]; `ambient_inflated` keys on the combined
  * factor spread (>10 %), so a disk-noisy window can no longer present
  * as clean. Field names `probe_sec`/`inflation` stay CPU-arm for
  * comparability; `probe_io_sec`/`inflation_io` carry the new arm. The
  * probes cannot conjure a quiet machine — if ALL runs are inflated,
  * factors read ~1.0 and the norms stay pessimistic; they detect
  * UNEQUAL windows.
  *
  * QUIET-WINDOW RETRY (r8): when the quietest-`runs` subset of attempts
  * still shows >10 % combined-probe spread, the harness spawns one
  * replacement child at a time (≤ SPARK_GRAFT_BENCH_MAX_RUNS attempts
  * total, default 8 since r10) and keeps the `runs` quietest attempts — the
  * official artifact converges to `ambient_inflated: false` on a shared
  * host instead of documenting that it couldn't. Uniformly-loaded hosts
  * read factors ~1.0 and never retry (normalization has nothing to
  * correct there). `runs_attempted` counts every SPAWN attempt —
  * including children that died or failed to parse, which contribute no
  * probes, so `parsed_attempt_probes_cpu_io` in the detail file may be
  * shorter than it — making a retried artifact distinguishable from a
  * first-try quiet one.
  *
  * `SPARK_GRAFT_BENCH_RUNS=1` (or any child-spawn failure) degrades to the
  * old in-process single run, so the driver always gets its line. */
object Bench {

  /** One run's outcome: bracket-min probe seconds per arm, per-query
    * timings for queries that RAN, names of queries that threw, and the
    * suite-level memo-build ledger ([[memoSetups]]). */
  private[graft] final case class Run(
      probe: Double, probeIo: Double,
      ok: Seq[(String, Double)], failed: Seq[String],
      setup: Seq[(String, Double)] = Nil)

  /** Suite-level memo artifacts ledgered as their OWN bench lines (r9,
    * VERDICT r8 next-list #5): the PairMemo / MinHash-index / PQ-codebook /
    * coarse-quantizer constructions are per-corpus-version artifacts that
    * used to be billed to whichever consumer ran first alphabetically
    * (q108's r8 median was 4.64 s; with the pair-memo build on its own
    * 5.1 s line it reads 0.90 s — BENCH_r09_builder.json). Each
    * build is triggered once here, timed, and every consumer gate then
    * reads the finished artifact — per-query numbers measure the queries.
    * A setup only runs when one of its consumers is in the selected suite,
    * so SPARK_GRAFT_ONLY probe runs don't pay for indexes nothing reads.
    * The artifact's `value` still includes these lines (semantics field
    * says so), so totals stay comparable round-over-round — the cost is
    * redistributed, not hidden. */
  private[graft] val memoSetups: Seq[(String, Set[String], (SparkSession, String) => Unit)] = Seq(
    ("setup_pairs05", Set("q32_ngram_jaccard", "q108_incremental_dedup",
      "q115_minhash_recall", "q140_leakage_split", "q154_cluster_audit",
      "q59_dup_clusters"),
      (s, d) => { graft.queries.PairMemo.pairs(s, d); () }),
    ("setup_cc05", Set("q59_dup_clusters", "q140_leakage_split",
      "q154_cluster_audit"),
      (s, d) => { graft.queries.PairMemo.clusters(s, d); () }),
    ("setup_mh12", Set("q33_minhash_lsh", "q115_minhash_recall"),
      (s, d) => { graft.queries.PairMemo.minhashCandidates(s, d); () }),
    ("setup_pq4x8", Set("q147_pq_codes", "q148_pq_adc_recall",
      "q151_ivfpq_search"),
      (s, d) => graft.queries.SelectionOps.buildPqMemo(s, d)),
    ("setup_kmeans8x2", Set("q85_kmeans_quantizer", "q145_semantic_dedup"),
      (s, d) => { graft.queries.SimilarityOps.coarseCentroids(s, d); () }),
    ("setup_evslice4", Set("q159_stream_sessionize", "q163_stream_join",
      "q164_stream_outer_join", "q165_stream_restart", "q167_stream_hourly"),
      (s, d) => { graft.queries.GateOps.buildEvSliceMemo(s, d); () }))

  /** Times each memo build whose consumers intersect `suiteNames`. A
    * failed build yields no ledger line — its consumers rebuild inline
    * (ArtifactMemo releases the key on failure), so the cost lands back
    * in their samples instead of vanishing. */
  private[graft] def measureSetup(spark: SparkSession, sfDir: String,
      suiteNames: Set[String]): Seq[(String, Double)] =
    memoSetups.flatMap { case (name, consumers, build) =>
      if (!consumers.exists(suiteNames)) None
      else {
        val t0 = System.nanoTime()
        val ok = try { build(spark, sfDir); true }
          catch { case e: Throwable =>
            System.err.println(
              s"[bench] $name FAILED (consumers build inline): ${e.getMessage}")
            false }
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        System.gc()
        if (ok) Some(name -> dt) else None
      }
    }

  /** Quiet-class reference CPU probe for CROSS-SESSION anchoring (r11,
    * VERDICT r10 next-list #1). `total_norm` corrects spread WITHIN a run
    * set — each child against its own session's quietest probe — so a
    * uniformly-slow-but-quiet window normalizes to itself: r10's official
    * driver run read 174.4 s where the same code on a quiet builder
    * window half an hour earlier read 151.3 s (per-query median ratio
    * 1.159 ≈ CPU probe ratio 1.144 — window class, not code). This
    * constant pins the quiet CLASS itself: the minimum CPU-arm probe
    * across every committed quiet (`ambient_inflated: false`) builder
    * artifact, 1.175 s in `BENCH_r10_builder4.json` (the r9/r10 builder
    * range is 1.175–1.333; the same artifacts bound the tmpfs-I/O arm at
    * 0.205 s — recorded in BASELINE.md for attribution). `total_anchor`
    * scales every sample by (reference / run probe) before the per-query
    * medians, so totals from DIFFERENT sessions land in the same
    * quiet-class currency and round-over-round official ratios stop
    * needing manual window attribution. CPU arm only, deliberately — the
    * I/O probe's absolute class depends on the probed MEDIUM
    * (tmpfs ≈ 0.205 s vs NVMe ≈ 0.6 s), so an absolute I/O anchor would
    * mis-scale any run whose scratch routing differed; I/O-loud windows
    * still surface via `ambient_inflated` / `total_norm_lb` exactly as
    * before. If the host class ever genuinely changes (new hardware),
    * re-derive the constant from that class's quiet artifacts and note
    * the break in BASELINE.md — anchoring across hardware generations is
    * attribution, not comparison.
    *
    * HARDWARE-CLASS BREAK, r13 (the rule above, exercised): from round 12
    * on, EVERY quiet window — three r12 builder snapshots, the r12 driver
    * run, and the r13 builder — probed cpu 1.35–1.56 s against the old
    * 1.175 s reference while io probed 0.177–0.208 s, at or under the
    * old 0.205 s floor; the r11-era cpu class (1.18–1.34 s) never
    * reappeared. Persistent across five sessions and both run kinds ⇒
    * class change (slower per-core cpu, slightly faster tmpfs), not a
    * window. Constants re-derived as the minima across the new class's
    * quiet artifacts (BENCH_r12_builder{,2,3}.json, BENCH_r13_builder
    * .json): cpu 1.352, io 0.177. Break recorded in BASELINE.md;
    * anchored totals before/after this break are not comparable. */
  private[graft] val AnchorProbeCpuSec: Double = 1.352

  /** Quiet-class reference for the tmpfs-I/O arm — the SECOND leg of the
    * anchored PAIR (r11, measured mid-round): the first two r11 snapshots
    * sat in the same CPU class (probe ratio 0.995) yet read 139.6 vs
    * 128.5 s raw, and the per-query median ratio (0.922) tracked the I/O
    * arm's ratio (0.917) almost exactly — the suite was bound by the
    * memory/tmpfs class that arm senses, which a CPU-arm anchor cannot
    * remove (anchored spread 8.4 %). Anchoring the same artifacts on THIS
    * arm collapsed them to 136.6 vs 137.5 (0.7 %). Semantics:
    * `total_anchor` (CPU arm) is medium-independent and always valid;
    * `total_anchor_io` is valid ONLY between runs whose scratch probed the
    * recorded tmpfs class (`anchor_io_valid` — an NVMe-class probe ~0.6 s
    * against this 0.205 s reference would "anchor" by 3× of nonsense).
    * Compare rounds on the arm whose probe ratio the per-query median
    * ratio tracks; the pair brackets quiet-class truth the way
    * [total_norm_lb, total_norm] brackets within-run truth.
    * Re-derived at the r13 hardware-class break (see
    * [[AnchorProbeCpuSec]]): 0.205 → 0.177. */
  private[graft] val AnchorProbeIoSec: Double = 0.177

  /** A probed medium is the reference tmpfs class iff its probe lands
    * well under NVMe class (~0.6 s quiet): measured, not configured. */
  private[graft] def anchorIoValid(probes: Seq[Double]): Boolean =
    probes.nonEmpty && probes.forall(p => p > 0 && p < 0.35)

  /** Per-run anchor factors: run probe over the quiet-class reference. A
    * zero probe (pre-field child / parse failure) anchors at 1.0 — an
    * unmeasured window must pass through unscaled, never be deflated by a
    * reference it was never compared against. */
  private[graft] def anchorFactors(probes: Seq[Double],
      ref: Double = AnchorProbeCpuSec): Seq[Double] =
    probes.map(p => if (p > 0) p / ref else 1.0)

  /** Wall seconds for one xorshift64* thread per host vCPU (≤32) ×
    * 4·10⁸ steps each (~1.6 s quiet on the 32-vCPU test host — record the
    * quiet reference when it moves; the ABSOLUTE value anchors
    * cross-session comparison, the per-run ratios anchor within-session).
    * Width-matching the host matters: an 8-thread probe rode out a window
    * in which 32-wide Spark stages ran ~15 % slow, because the ambient
    * co-tenant load left 8 cores' worth of headroom — saturating all
    * vCPUs senses exactly the contention the suite feels. Returns the
    * elapsed time of the slowest thread; callers take the min over two
    * brackets. */
  private def calibrationProbe(): Double = calibrationProbe(400000000L)

  /** The probe kernel, parameterized by per-thread step count:
    * `AMPLIFY_r11.json` ran this SAME arm at probe weight (10⁸), so no
    * second copy can drift from the one the artifacts cite. */
  private[graft] def calibrationProbe(iters: Long): Double = {
    val threads = math.min(32, Runtime.getRuntime.availableProcessors())
    val sink = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0L
        while (i < iters) {
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          x *= 0x2545F4914F6CDD1DL
          i += 1
        }
        sink.addAndGet(x): Unit // defeat dead-code elimination
      })
      th.setDaemon(true); th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** I/O arm: 256 MiB of 4 MiB blocks written with a final fsync, then
    * read back, against THE MEDIUM THE SUITE'S SHUFFLE/SPILL ACTUALLY
    * USES — [[Scratch.benchLocalDir]]'s tmpfs when routed (r9; quiet
    * reference ~0.1 s there), else `target/` disk (~0.6 s quiet on the
    * test host's NVMe). Probing the live medium keeps the ambient flag
    * and `total_norm_lb` honest in both directions: before r9's tmpfs
    * routing the probe correctly sensed the disk the shuffle felt; after
    * it, a loud disk the suite no longer touches must not flag (or
    * deflate) a run that never felt it. Co-tenant pressure on the probed
    * medium stretches both phases, which is the signal; source-parquet
    * reads stay page-cached at bench scale and their residual exposure
    * shows in the CPU arm and sample spread. The file is per-PID and
    * deleted on exit. */
  private def ioProbe(): Double = {
    val dir = Scratch.benchLocalDir().map(Paths.get(_)).getOrElse(Paths.get("target"))
    Files.createDirectories(dir)
    val f = dir.resolve(s"ioprobe_${ProcessHandle.current().pid()}.bin")
    val block = new Array[Byte](4 << 20)
    new java.util.Random(0x5EED).nextBytes(block)
    try {
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE,
        StandardOpenOption.TRUNCATE_EXISTING)
      try {
        var i = 0
        while (i < 64) { ch.write(java.nio.ByteBuffer.wrap(block)); i += 1 }
        ch.force(false)
      } finally ch.close()
      val rch = java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocate(4 << 20)
        var n = rch.read(buf)
        while (n >= 0) { buf.clear(); n = rch.read(buf) }
      } finally rch.close()
      (System.nanoTime() - t0) / 1e9
    } finally Files.deleteIfExists(f): Unit
  }

  private def session(cpus: String): SparkSession = {
    // shuffle/spill to tmpfs when headroom allows ([[Scratch.benchLocalDir]]
    // — the r8 q62 driver/builder gap was local-dir exposure to co-tenant
    // disk pressure); SPARK_GRAFT_LOCAL_TMPFS=0 is the A/B switch
    SessionConf.localSession(cpus,
      Scratch.benchLocalDir().map("spark.local.dir" -> _).toSeq: _*)
  }

  /** One full timed pass over `suite`. A query that throws yields a
    * `failed` entry and NO timing sample (r6: crashes were recorded as
    * ~0.1 s "timings" and summed into the official total). Package-visible
    * so the failure contract is spec-testable. */
  private[graft] def measureSuite(
      spark: SparkSession, sfDir: String,
      suite: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : (Seq[(String, Double)], Seq[String]) = {
    // Untimed warmup: absorb JVM/codegen/scan-init cost so per-query numbers
    // measure the queries, not SparkSession startup. Runs the suite's OWN
    // first NON-memo-consumer query (not an arbitrary Map-order one — that
    // could be an expensive streaming gate on a 3-query probe run; and not
    // a consumer — if a memo build failed transiently in measureSetup, a
    // consumer warmup would retry it UNTIMED and the build cost would
    // vanish from the artifact, the ADVICE r9 #1 leak through a second
    // door). A consumers-only suite skips the warmup: the rebuild then
    // bills to the first timed sample, the honest place.
    val consumers: Set[String] = memoSetups.flatMap(_._2).toSet
    try suite.find { case (n, _) => !consumers(n) }
      .foreach(_._2(spark, sfDir).count())
    catch { case _: Throwable => () }
    val results = suite.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop per-query caches so later queries aren't penalized by GC/evict;
      // localCheckpoint blocks are only released via the ContextCleaner on
      // GC, so nudge it — otherwise iterative queries' checkpoint RDDs pile
      // up and later queries pay their eviction at random times
      spark.catalog.clearCache()
      System.gc()
      (name, dt, ok)
    }
    (results.collect { case (n, dt, true) => n -> dt },
      results.collect { case (n, _, false) => n })
  }

  private def qJson(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def sJson(ss: Seq[String]): String =
    ss.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** `$SPARK_GRAFT_CPUS` as a JSON value: a bare number when it is one
    * (the always case), a quoted string otherwise — never invalid JSON. */
  private def jnum(s: String): String =
    if (s.nonEmpty && s.forall(_.isDigit)) s else "\"" + jstr(s) + "\""

  /** Full JSON string escape (backslash, quote, ALL control chars) — drift
    * entries embed raw exception messages, and Spark messages routinely
    * contain newlines that would break the one-line stdout contract.
    * Verify escapes its `oracle_sql.json` with it too. */
  private[graft] def jstr(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** One run = probes, suite, probes: ambient load is sampled in the same
    * window the suite ran in (min of the two brackets per arm — the best
    * the window allowed). */
  private def inProcessRun(sfDir: String, cpus: String): Run = {
    val p1 = calibrationProbe(); val io1 = ioProbe()
    val spark = session(cpus)
    val (setup, ok, failed) =
      try {
        val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
        val suite = SparkEntry.queries.toSeq.sortBy(_._1)
          .filter { case (name, _) => only.forall(_.contains(name)) }
        // Warmup BEFORE the setup ledger, so setup lines measure the
        // builds, not JVM/codegen cold start — but with the first
        // NON-memo-consumer query (r10, ADVICE r9 #1): warming with a
        // consumer head (possible under SPARK_GRAFT_ONLY) would build its
        // memo inline during the UNTIMED warmup, leaving the setup_* line
        // to time an ArtifactMemo cache hit — the build cost would vanish
        // from the artifact. If every selected query is a consumer, skip
        // the pre-setup warmup: JVM cold start then lands in the first
        // setup line — the honest place, since nothing memo-free exists
        // to absorb it (measureSuite's own warmup still warms the head
        // before any query is timed).
        val consumerNames: Set[String] = memoSetups.flatMap(_._2).toSet
        try suite.find { case (n, _) => !consumerNames(n) }
          .foreach(_._2(spark, sfDir).count())
        catch { case _: Throwable => () }
        val setup = measureSetup(spark, sfDir, suite.map(_._1).toSet)
        val (ok, failed) = measureSuite(spark, sfDir, suite)
        (setup, ok, failed)
      } finally spark.stop()
    val p2 = calibrationProbe(); val io2 = ioProbe()
    Run(math.min(p1, p2), math.min(io1, io2), ok, failed, setup)
  }

  /** The child's one-line JSON for a [[Run]] — paired with
    * [[parseChildLine]] and round-trip spec-tested ([[graft
    * .HarnessContractSpec]]): a drift between the format and the parse
    * would silently drop samples (or the whole setup ledger) from the
    * official artifact, the exact r6 failure class. */
  private[graft] def childLine(r: Run, sfDir: String): String = {
    val total = r.ok.map(_._2).sum + r.setup.map(_._2).sum
    s"""{"metric":"run","value":$total,"unit":"sec","probe":${r.probe},"probe_io":${r.probeIo},"queries":${qJson(r.ok)},"setup":${qJson(r.setup)},"failed":${sJson(r.failed)},"sf":"$sfDir"}"""
  }

  /** Parse one child line back into a [[Run]] (None = unparseable). */
  private[graft] def parseChildLine(l: String): Option[Run] = {
    def num(field: String): Double =
      ("\"" + field + "\":([0-9.eE+\\-]+)").r.findFirstMatchIn(l)
        .map(_.group(1).toDouble).getOrElse(0.0)
    val body = l.substring(l.indexOf("\"queries\":{") + "\"queries\":{".length)
    // the number class must admit negative exponents (8.6E-4 from a
    // sub-millisecond sample) or the whole run's samples are dropped
    val pairs = "\"([^\"]+)\":([0-9.eE+\\-]+)".r.findAllMatchIn(
      body.take(body.indexOf('}'))).map(m => m.group(1) -> m.group(2).toDouble).toSeq
    val failed = "\"failed\":\\[([^\\]]*)\\]".r.findFirstMatchIn(l)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      .filter(_.nonEmpty).toSeq
    val setup = "\"setup\":\\{([^}]*)\\}".r.findFirstMatchIn(l)
      .map(_.group(1)).getOrElse("")
    val setupPairs = "\"([^\"]+)\":([0-9.eE+\\-]+)".r.findAllMatchIn(setup)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
    if (pairs.isEmpty && failed.isEmpty) None
    else Some(Run(num("probe"), num("probe_io"), pairs, failed, setupPairs))
  }

  /** Spawn one fresh child JVM (this JVM's flags + classpath, inherited
    * env) running `graft.Bench --child`; parse its one-line JSON back into
    * a [[Run]]. None on any launch/parse failure. */
  private def spawnRun(i: Int, runs: Int): Option[Run] = {
    try {
      val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Xdebug"))
      val cmd = Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", sys.props("java.class.path"), "graft.Bench", "--child")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT) // Spark logs → stderr
      val p = pb.start()
      // drain stdout on a separate thread: reading to EOF on THIS thread
      // would block until the child exits, making the waitFor timeout and
      // the destroyForcibly fallback unreachable against a hung child
      val outBuf = new java.util.concurrent.atomic.AtomicReference[String]("")
      val drainer = new Thread(() =>
        outBuf.set(new String(p.getInputStream.readAllBytes(), "UTF-8")))
      drainer.setDaemon(true)
      drainer.start()
      if (!p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)) {
        p.destroyForcibly(); System.err.println(s"[bench] run $i/$runs timed out"); return None
      }
      drainer.join(60000)
      val out = outBuf.get()
      out.linesIterator.find(_.startsWith("""{"metric""""))
        .flatMap(parseChildLine)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] run $i/$runs failed to spawn: $e"); None
    }
  }

  /** The round in progress, inferred from repo-root file names: 1 + the
    * highest OFFICIAL `BENCH_r<N>.json` (see the call site for why that
    * exact class and nothing else). None when no such artifact exists
    * (fresh checkout — nothing to stamp against). Package-visible so the
    * stamp rule is spec-testable against the real artifact-name zoo. */
  private[graft] def currentRound(fileNames: Seq[String]): Option[Int] = {
    val re = "^BENCH_r(\\d+)\\.json$".r
    val rounds = fileNames.flatMap(f => re.findFirstMatchIn(f).map(_.group(1).toInt))
    if (rounds.isEmpty) None else Some(rounds.max + 1)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The `k` quietest attempts, ranked by each run's combined probe
    * factor against the global per-arm minima (CPU and I/O arms). A run
    * with a ZERO probe (pre-field child or parse failure) ranks after
    * every measured run, however loud: a measured-loud window is still
    * normalizable (its factor is known), an unmeasured one would enter
    * the medians with factor 1.0 and hide whatever its window was — it
    * only fills the set when there are not enough measured runs.
    * Package-visible with [[windowInflated]] so the retry-selection
    * contract is spec-testable on synthetic probe vectors. */
  private[graft] def quietestSubset(rs: Seq[Run], k: Int): Seq[Run] = {
    def minPos(ps: Seq[Double]) = ps.filter(_ > 0) match {
      case Seq() => 0.0; case xs => xs.min
    }
    val (mc, mi) = (minPos(rs.map(_.probe)), minPos(rs.map(_.probeIo)))
    def score(r: Run): Double =
      if (r.probe <= 0 || r.probeIo <= 0) Double.PositiveInfinity
      else math.max(
        if (mc > 0) r.probe / mc else 1.0,
        if (mi > 0) r.probeIo / mi else 1.0)
    rs.sortBy(score).take(k)
  }

  /** True when the subset's combined (max-of-arms) probe spread exceeds
    * the 10 % band — the same criterion the artifact's `ambient_inflated`
    * field reports over the kept runs. */
  private[graft] def windowInflated(rs: Seq[Run]): Boolean = {
    def fs(ps: Seq[Double]) = {
      val best = ps.filter(_ > 0) match { case Seq() => 0.0; case xs => xs.min }
      ps.map(p => if (p > 0 && best > 0) p / best else 1.0)
    }
    fs(rs.map(_.probe)).zip(fs(rs.map(_.probeIo)))
      .map { case (a, b) => math.max(a, b) }.max > 1.10
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    if (args.contains("--child")) {
      println(childLine(inProcessRun(sfDir, cpus), sfDir))
      return
    }
    // Schema-contract preflight BEFORE spawning 3 × 45-min children: on
    // BREAKING drift (missing/retyped/unloadable — the r6 failure mode),
    // emit the artifact immediately as invalid with the cause in one line.
    // ADDITIVE drift (a new column no gate projects) is a warning carried
    // in the artifact, not an invalidation (policy: [[SchemaContract]]).
    val schemaWarnings: Seq[String] = {
      val s = session(cpus)
      val (errors, warnings) = try SchemaContract.driftDetailed(s, sfDir) finally s.stop()
      if (errors.nonEmpty) {
        val msg = jstr(errors.mkString("; "))
        System.err.println(s"[bench] SCHEMA DRIFT — artifact invalid: ${errors.mkString("; ")}")
        println(s"""{"metric":"total","value":-1,"unit":"sec","sf":"$sfDir","invalid":true,"n_failed":${SparkEntry.queries.size},"error":"schema drift: $msg"}""")
        return
      }
      warnings.foreach(w => System.err.println(s"[bench] schema warning (non-fatal): $w"))
      warnings
    }
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // QUIET-WINDOW CONVERGENCE (r8, VERDICT r7 next-list #2): rather than
    // documenting an inflated window, retry it away. After the initial
    // `runs` children, if the quietest-`runs` subset still shows >10 %
    // combined-probe spread, spawn ONE replacement child at a time (hard
    // cap SPARK_GRAFT_BENCH_MAX_RUNS, default 8 attempts (since r10) total — the
    // driver's patience bounds this) and re-select the `runs` quietest
    // attempts by each run's combined probe factor vs the global per-arm
    // minima. The probes can only rank windows, not conjure a quiet host:
    // if every window is equally loaded, factors read ~1.0, `inflated`
    // is false, and no retry fires — which is the correct outcome, since
    // normalization has nothing to correct. All attempts (kept + dropped)
    // are recorded in target/bench_runs_latest.json.
    var attempted: Vector[Run] = Vector.empty
    var attempts = 0
    val samples: Seq[Run] =
      if (runs == 1) { attempts = 1; attempted = Vector(inProcessRun(sfDir, cpus)); attempted }
      else {
        // default raised 6 → 8 (r10, VERDICT r9 #2): builder windows now
        // flag quiet routinely (3/3 r9 snapshots) but the driver's own
        // window has never once cleared the 10 % band in 6 attempts —
        // two more chances cost ≤ ~11 min worst case against a 45-min
        // child timeout the driver already tolerates
        val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_RUNS", "8")
          .toInt.max(runs)
        attempted = (1 to runs).flatMap(i => spawnRun(i, maxAttempts)).toVector
        attempts = runs
        while (attempted.nonEmpty && attempts < maxAttempts &&
            windowInflated(quietestSubset(attempted, runs))) {
          attempts += 1
          System.err.println(s"[bench] window inflated; retry $attempts/$maxAttempts")
          spawnRun(attempts, maxAttempts).foreach(r => attempted :+= r)
        }
        if (attempted.nonEmpty) quietestSubset(attempted, runs)
        else { // degrade rather than give the driver nothing
          System.err.println("[bench] all child runs failed; in-process fallback")
          attempts += 1
          attempted = Vector(inProcessRun(sfDir, cpus)); attempted
        }
      }
    // per-run ambient factor per arm: probe relative to the quietest run's
    // probe (a probe of 0 means the child predates the field / failed to
    // parse — treat as baseline so it never skews normalization)
    def factorsOf(probes: Seq[Double]): Seq[Double] = {
      val best = probes.filter(_ > 0) match { case Seq() => 0.0; case ps => ps.min }
      probes.map(p => if (p > 0 && best > 0) p / best else 1.0)
    }
    val cpuProbes = samples.map(_.probe)
    val ioProbes = samples.map(_.probeIo)
    val cpuFactors = factorsOf(cpuProbes)
    val ioFactors = factorsOf(ioProbes)
    // combined factor: the binding constraint of the window (either arm)
    val combined = cpuFactors.zip(ioFactors).map { case (a, b) => math.max(a, b) }
    val inflated = combined.max > 1.10
    // failure accounting: a query red in ANY surviving run invalidates
    val failedQueries = samples.flatMap(_.failed).distinct.sorted
    val nFailed = failedQueries.size
    // per-query spread over however many runs survived, in suite order;
    // the setup ledger aggregates identically but reports separately
    val names = samples.flatMap(_.ok.map(_._1)).distinct.sorted
    val byName = names.map { n =>
      n -> samples.flatMap(_.ok.collectFirst { case (`n`, v) => v })
    }
    val setupNames = samples.flatMap(_.setup.map(_._1)).distinct.sorted
    val bySetup = setupNames.map { n =>
      n -> samples.flatMap(_.setup.collectFirst { case (`n`, v) => v })
    }
    // normalized samples: total_norm by the CPU arm (r6-comparable),
    // total_norm_lb by the combined arm (full-sensitivity lower bound)
    def normTotal(fs: Seq[Double]): Double =
      names.map { n =>
        median(samples.zip(fs).flatMap { case (r, f) =>
          r.ok.collectFirst { case (`n`, v) => v / f }
        })
      }.sum +
      setupNames.map { n =>
        median(samples.zip(fs).flatMap { case (r, f) =>
          r.setup.collectFirst { case (`n`, v) => v / f }
        })
      }.sum
    val med = byName.map { case (n, vs) => n -> median(vs) }
    val setupMed = bySetup.map { case (n, vs) => n -> median(vs) }
    // `value` INCLUDES the setup ledger — cost is redistributed out of the
    // first-consumer gates, never dropped from the headline total
    val total = med.map(_._2).sum + setupMed.map(_._2).sum
    val totalNorm = normTotal(cpuFactors)
    val totalNormLb = normTotal(combined)
    // cross-session anchored total (r11): same median-of-scaled-samples
    // aggregation, but each run scales against the RECORDED quiet-class
    // reference probe instead of this session's own quietest run — the
    // number that is comparable across rounds without window attribution
    val totalAnchor = normTotal(anchorFactors(cpuProbes))
    val ioAnchorValid = anchorIoValid(ioProbes)
    val totalAnchorIo =
      if (ioAnchorValid) normTotal(anchorFactors(ioProbes, AnchorProbeIoSec))
      else -1.0
    // partial-anchor honesty (r11 review): an unmeasured probe (0.0 —
    // pre-field child or parse failure) passes through at factor 1.0, so
    // that run's samples enter total_anchor UNSCALED and the field loses
    // the cross-session comparability it promises. `anchored_runs` counts
    // the runs that actually anchored; when it is short, a warning lands
    // in schema_warnings so no reader has to spot a 0.0 in probe_sec.
    val anchoredRuns = cpuProbes.count(_ > 0)
    val anchorWarnings =
      if (anchoredRuns == samples.size) schemaWarnings
      else schemaWarnings :+ (s"total_anchor partially anchored: " +
        s"$anchoredRuns of ${samples.size} kept runs have a measured CPU " +
        "probe; unmeasured runs pass through unscaled")
    val minTotal = byName.map(_._2.min).sum + bySetup.map(_._2.min).sum
    val maxTotal = byName.map(_._2.max).sum + bySetup.map(_._2.max).sum
    def fmtJ(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    // scaling-measurement ground truth (r19, VERDICT r18 #2): echo the
    // effective core count, master and shuffle partitioning the children
    // ran with, so the driver's suspect_cpus heuristic can check the bench
    // against what it asked for instead of guessing. Placed AFTER the
    // per-query block: the driver's stored artifact keeps only a tail of
    // stdout, and everything BEFORE the (large) queries object is what
    // truncation eats. Additions only — no timing-path change.
    val cpusEcho = s""""cpus":${jnum(cpus)},"master":"local[${jstr(cpus)}]","shuffle_partitions":${jnum(cpus)}"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","semantics":"sum_of_per_query_medians_incl_setup","queries":${qJson(med)},"setup":${qJson(setupMed)},$cpusEcho,"sf":"$sfDir","runs":${samples.size},"runs_attempted":$attempts,"min_total":$minTotal,"max_total":$maxTotal,"probe_sec":${fmtJ(cpuProbes)},"inflation":${fmtJ(cpuFactors)},"probe_io_sec":${fmtJ(ioProbes)},"inflation_io":${fmtJ(ioFactors)},"total_norm":$totalNorm,"total_norm_lb":$totalNormLb,"total_anchor":$totalAnchor,"total_anchor_io":$totalAnchorIo,"anchor_io_valid":$ioAnchorValid,"anchored_runs":$anchoredRuns,"anchor_probe_cpu_sec":$AnchorProbeCpuSec,"anchor_probe_io_sec":$AnchorProbeIoSec,"ambient_inflated":$inflated,"schema_warnings":${sJson(anchorWarnings.map(jstr))},"n_failed":$nFailed,"failed_queries":${sJson(failedQueries)},"invalid":${nFailed > 0}}""")
    // full spread snapshot (per-query min/med/max + raw samples) — the
    // driver's BENCH tail truncates at 2000 chars, this file never does
    val detail = byName.map { case (n, vs) =>
      s""""$n":{"med":${median(vs)},"min":${vs.min},"max":${vs.max},"samples":[${vs.mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val setupDetail = bySetup.map { case (n, vs) =>
      s""""$n":{"med":${median(vs)},"min":${vs.min},"max":${vs.max},"samples":[${vs.mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val runTotals = samples.map(r => r.ok.map(_._2).sum + r.setup.map(_._2).sum)
      .mkString("[", ",", "]")
    val runFailed = samples.map(_.failed.size).mkString("[", ",", "]")
    // parsed attempts only: a child that died/failed to parse left no Run
    val allProbes = attempted.map(r => f"[${r.probe}%.3f,${r.probeIo}%.3f]")
      .mkString("[", ",", "]")
    Files.createDirectories(Paths.get("target"))
    val detailJson =
      s"""{"sf":"$sfDir",$cpusEcho,"written_utc":"${java.time.Instant.now()}","runs":${samples.size},"runs_attempted":$attempts,"parsed_attempt_probes_cpu_io":$allProbes,"run_totals":$runTotals,"run_n_failed":$runFailed,"total_med":$total,"total_norm":$totalNorm,"total_norm_lb":$totalNormLb,"total_anchor":$totalAnchor,"total_anchor_io":$totalAnchorIo,"anchor_io_valid":$ioAnchorValid,"anchored_runs":$anchoredRuns,"anchor_probe_cpu_sec":$AnchorProbeCpuSec,"anchor_probe_io_sec":$AnchorProbeIoSec,"probe_sec":${fmtJ(cpuProbes)},"inflation":${fmtJ(cpuFactors)},"probe_io_sec":${fmtJ(ioProbes)},"inflation_io":${fmtJ(ioFactors)},"ambient_inflated":$inflated,"schema_warnings":${sJson(anchorWarnings.map(jstr))},"n_failed":$nFailed,"failed_queries":${sJson(failedQueries)},"invalid":${nFailed > 0},"setup":$setupDetail,"per_query":$detail}"""
    Files.writeString(Paths.get("target/bench_runs_latest.json"), detailJson)
    // ROUND-STAMPED COMMITTED COPY (r10, VERDICT r9 #1): the driver's
    // official BENCH_r{N}.json keeps only a 2000-char stdout `tail` and a
    // null `parsed` field, so driver-side per-query claims (the r8 q62
    // letter) were only provable from this target/ file — uncommitted and
    // overwritten by the next bench. Full-suite runs therefore ALSO write
    // the identical detail JSON to `BENCH_r{N}_driver.json` in the repo
    // root, where N = 1 + the highest OFFICIAL driver bench artifact
    // (`BENCH_r\d+.json` exactly — the one file class that never exists
    // yet for the round in progress, because the driver writes it FROM
    // this very run's output). Deliberately NOT CORRECTNESS_r* (the
    // driver may write the round's correctness artifact before its
    // bench) and NOT the suffixed `_builder`/`_driver` snapshots (they
    // are committed mid-round under the CURRENT round number — counting
    // them would bump N past it). The file is tracked, so the driver's
    // end-of-round artifact commit records it; `written_utc` +
    // `run_totals` (vs the official line's value) attribute which run
    // wrote it. Filtered (SPARK_GRAFT_ONLY) probe runs skip the copy,
    // and so do invalid (any gate failed) and single-run smoke artifacts
    // — a committed round artifact must never be clobbered by a weaker
    // run on the same checkout (the embedded `sf` field still attributes
    // a full run taken at an unusual tier).
    if (!sys.env.contains("SPARK_GRAFT_ONLY") && nFailed == 0 && samples.size >= 2) {
      val files = Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty).toSeq.map(_.getName)
      currentRound(files).foreach { n =>
        val p = Paths.get(f"BENCH_r$n%02d_driver.json")
        // the file name states its PURPOSE (capture the driver's run in a
        // committed artifact), not the provenance of the bytes currently
        // in it — any full-suite bench on this checkout (builder snapshots
        // included) overwrites it, and the driver's end-of-round run is
        // simply the last writer. The embedded provenance note +
        // written_utc + run_totals (vs the official line's value) say
        // which session's data a given copy holds.
        val note = "\"provenance\":\"written by the most recent full-suite " +
          "bench on this checkout; attribute via written_utc and " +
          "run_totals vs the official BENCH artifact's value\","
        Files.writeString(p, "{" + note + detailJson.substring(1))
        System.err.println(s"[bench] detail snapshot also written to $p")
      }
    }
    System.err.println(s"[bench] ${samples.size} runs, median total $total s (norm $totalNorm, anchor $totalAnchor, anchor_io $totalAnchorIo, inflated=$inflated, n_failed=$nFailed); full spread in target/bench_runs_latest.json")
  }
}
