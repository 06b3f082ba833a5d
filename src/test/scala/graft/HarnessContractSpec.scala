package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r7 harness contracts (VERDICT r6 "what's wrong" #3/#4 + next
  * list #2/#3): the schema-contract preflight catches testdata drift with
  * a message naming the column, Verify writes a RED row (never an absent
  * one) for a query that throws, and Bench records a failed query as
  * FAILED with no timing sample instead of timing the crash. */
class HarnessContractSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("schema contract holds on the driver-provided testdata, all tiers") {
    // a partial regeneration could drift one tier only — check all three
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1"))
      assert(SchemaContract.drift(spark, d) == Seq.empty, s"tier $d")
  }

  test("events loader adapts both ts encodings to TIMESTAMP") {
    // current generation: timestamp[us] (TIMESTAMP_NTZ at the reader)
    val cur = Tables.events(spark, sfDir)
    assert(cur.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // legacy generation: TIMESTAMP(NANOS) read nanos-as-long — synthesize
    // a long-ts events file and load through the same adaptive path
    val dir = Files.createTempDirectory(Paths.get("target"), "evdrift").toString
    Tables.events(spark, sfDir).limit(10)
      .withColumn("ts", unix_micros(col("ts")) * 1000) // micros → fake nanos
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val legacy = Tables.events(spark, dir)
    assert(legacy.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // the two encodings decode to the same instants
    val a = cur.limit(10).select("event_id", "ts").collect().map(_.toString).sorted
    val b = legacy.select("event_id", "ts").collect().map(_.toString).sorted
    assert(a.toSeq == b.toSeq)
  }

  test("events loader leaves the session conf as found on micros ts") {
    // a fresh path, so the schema memo cannot skip the inference under
    // test; a fresh session, so conf other specs set cannot mask a leak
    val s = spark.newSession()
    val dir = Files.createTempDirectory(Paths.get("target"), "evconf")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      Paths.get(s"$sfDir/events.parquet"))
    val before = s.conf.getAll
    Tables.events(s, dir.toString)
    assert(s.conf.getAll == before)
    SchemaContract.preflight(s, sfDir, "spec") // must not throw
    assert(s.conf.getAll == before)
  }

  test("schema drift is reported naming the drifted column") {
    // clone the testdata dir by re-pointing loaders at a temp dir where
    // every table is a symlink except events, which gets a drifted ts
    val dir = Files.createTempDirectory(Paths.get("target"), "drift")
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings"))
      Files.createSymbolicLink(
        dir.resolve(s"$t.parquet"), Paths.get(s"$sfDir/$t.parquet"))
    Tables.events(spark, sfDir).limit(5)
      .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd")) // ts → STRING
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val drift = SchemaContract.drift(spark, dir.toString)
    assert(drift.size == 1)
    // the adaptive loader itself rejects the unknown encoding, so the
    // drift line carries its message — which names the column and the
    // offending type (what the one-line diagnosis needs)
    assert(drift.head.contains("events.ts"))
    assert(drift.head.contains("StringType"))
    intercept[IllegalStateException] {
      SchemaContract.preflight(spark, dir.toString, "spec")
    }
  }

  test("additive drift (new column) warns but does not invalidate") {
    // r8 policy (SchemaContract scaladoc): a purely ADDED column changes
    // no gate's projection, so it is a warning, not an error — preflight
    // must NOT throw, and Bench must not self-invalidate on it
    val dir = Files.createTempDirectory(Paths.get("target"), "adddrift")
    for (t <- Seq("nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings"))
      Files.createSymbolicLink(
        dir.resolve(s"$t.parquet"), Paths.get(s"$sfDir/$t.parquet"))
    Tables.region(spark, sfDir)
      .withColumn("r_comment", lit("benign widening"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val (errors, warnings) = SchemaContract.driftDetailed(spark, dir.toString)
    assert(errors.isEmpty)
    assert(warnings == Seq("region.r_comment: UNEXPECTED column (STRING)"))
    SchemaContract.preflight(spark, dir.toString, "spec") // must not throw
    // the flattened view still surfaces it for contract-map maintenance
    assert(SchemaContract.drift(spark, dir.toString).nonEmpty)
  }

  test("bench retry keeps the quietest runs and detects window spread") {
    def run(cpu: Double, io: Double) = Bench.Run(cpu, io, Seq("q" -> 1.0), Nil)
    val quietA = run(1.60, 0.60); val quietB = run(1.65, 0.62)
    val quietC = run(1.62, 0.61)
    val cpuNoisy = run(4.80, 0.61); val ioNoisy = run(1.61, 2.10)
    // spread on either arm flags the window; a tight set does not
    assert(Bench.windowInflated(Seq(quietA, quietB, cpuNoisy)))
    assert(Bench.windowInflated(Seq(quietA, quietB, ioNoisy)))
    assert(!Bench.windowInflated(Seq(quietA, quietB, quietC)))
    // selection drops the noisy attempt regardless of which arm was loud
    assert(Bench.quietestSubset(
      Seq(cpuNoisy, quietA, ioNoisy, quietB, quietC), 3).toSet ==
      Set(quietA, quietB, quietC))
    // a probe of 0 (pre-field child / parse failure) ranks LAST — even a
    // measured-loud window beats it (loud-but-measured is normalizable;
    // unmeasured would enter the medians with factor 1.0 unflagged) —
    // but it still fills the set when measured runs are too few
    val legacy = run(0.0, 0.0)
    assert(Bench.quietestSubset(Seq(legacy, quietA, cpuNoisy), 2).toSet ==
      Set(quietA, cpuNoisy))
    assert(Bench.quietestSubset(Seq(legacy, quietA), 2).toSet ==
      Set(quietA, legacy))
    // uniformly-loaded host: factors ~1.0 everywhere -> no retry signal
    assert(!Bench.windowInflated(Seq(run(4.8, 2.1), run(4.85, 2.12), run(4.82, 2.08))))
  }

  test("anchor factors scale to the recorded quiet-class reference and " +
      "collapse same-code spread across unequal windows") {
    // r11 (VERDICT r10 next-list #1): total_anchor exists so two sessions
    // running IDENTICAL code on different-class windows report the same
    // number. The factor contract: reference probe → 1.0, a k×-slower
    // window → k, an UNMEASURED probe (0.0, pre-field child or parse
    // failure) → 1.0 — pass-through, never deflated against a reference
    // it was not compared to.
    val ref = Bench.AnchorProbeCpuSec
    assert(Bench.anchorFactors(Seq(ref)) == Seq(1.0))
    assert(Bench.anchorFactors(Seq(2 * ref, 0.0)) == Seq(2.0, 1.0))
    // the IO arm shares the factor contract with its own reference, and
    // its validity gate is the MEDIUM, measured: tmpfs-class probes only
    // (an NVMe-class ~0.6 s probe against the 0.205 s reference would
    // "anchor" by 3× of nonsense), any unmeasured probe invalidates
    val ioRef = Bench.AnchorProbeIoSec
    assert(Bench.anchorFactors(Seq(2 * ioRef), ioRef) == Seq(2.0))
    assert(Bench.anchorIoValid(Seq(0.2, 0.21, 0.3)))
    assert(!Bench.anchorIoValid(Seq(0.2, 0.6)), "NVMe-class probe must invalidate")
    assert(!Bench.anchorIoValid(Seq(0.2, 0.0)), "unmeasured probe must invalidate")
    assert(!Bench.anchorIoValid(Nil))
    // same-code collapse: a run whose window is k× the reference class has
    // samples ~k× the quiet-class time; dividing by its anchor factor
    // recovers the quiet-class number for BOTH windows, so the anchored
    // totals of a 1.0× and a 1.2× window agree where raw totals differ 20%
    val quietSamples = Seq(2.0, 5.0, 0.5)
    for (k <- Seq(1.0, 1.2, 1.5)) {
      val f = Bench.anchorFactors(Seq(k * ref)).head
      val anchored = quietSamples.map(t => k * t / f).sum
      assert(math.abs(anchored - quietSamples.sum) < 1e-9,
        s"window k=$k did not collapse: $anchored vs ${quietSamples.sum}")
    }
  }

  test("Verify writes a red-row marker for a query that throws") {
    val out = Files.createTempDirectory(Paths.get("target"), "vfail").toString
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException("deliberate gate failure")
    val okQ: (SparkSession, String) => DataFrame =
      (s, d) => Tables.region(s, d)
    val failed = Verify.run(spark,
      Map("q_boom" -> boom, "q_ok" -> okQ), sfDir, out)
    assert(failed == Seq("q_boom"))
    // the failed slot is a READABLE one-row parquet that can never match
    // an oracle schema — red, not absent, in every downstream compare
    val marker = spark.read.parquet(s"$out/q_boom")
    assert(marker.columns.toSeq == Seq("_graft_error"))
    assert(marker.count() == 1)
    assert(marker.head().getString(0).contains("deliberate gate failure"))
    assert(spark.read.parquet(s"$out/q_ok").count() > 0)
  }

  test("Bench records a crashed query as failed with no timing sample") {
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException("bench crash")
    val okQ: (SparkSession, String) => DataFrame =
      (s, d) => Tables.region(s, d)
    val (ok, failed) = Bench.measureSuite(spark, sfDir,
      Seq("a_ok" -> okQ, "b_boom" -> boom))
    assert(failed == Seq("b_boom"))
    assert(ok.map(_._1) == Seq("a_ok"))
    assert(ok.head._2 > 0)
  }

  test("Bench child line round-trips through the parser exactly") {
    // format and parse are a spec'd PAIR: drift between them silently
    // drops samples (or the whole setup ledger) from the official
    // artifact — the r6 failure class. Cover the hard cases: scientific
    // notation with negative exponent, empty vs nonempty setup/failed,
    // and the all-failed run.
    val runs = Seq(
      Bench.Run(1.23, 0.45, Seq("q1" -> 0.5, "q2" -> 8.6e-4), Nil),
      Bench.Run(1.0, 2.0, Seq("q1" -> 1.5e3), Seq("q_boom", "q_bang"),
        Seq("setup_pairs05" -> 5.14, "setup_mh12" -> 2.0e-2)),
      Bench.Run(0.9, 0.1, Nil, Seq("q_only_failure")))
    for (r <- runs) {
      val parsed = Bench.parseChildLine(Bench.childLine(r, "/tmp/sf"))
      assert(parsed.contains(r), s"round-trip of $r")
    }
    // an unparseable line yields None, never a half-parsed Run
    assert(Bench.parseChildLine("""{"metric":"run","garbage":true}""").isEmpty)
  }

  test("the JSON string escaper round-trips quotes, backslashes and control chars") {
    // Bench's result lines and Verify's oracle_sql.json share one escaper;
    // an unescaped control char makes the whole document unreadable
    val raw = "a\"b\\c\nd\te\u0001f"
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue("\"" + Bench.jstr(raw) + "\"", classOf[String])
    assert(parsed == raw)
  }

  test("Scratch.fresh clears a symlink without touching its target") {
    // a delete that follows the link would empty the linked dir (the
    // ScaleStress corpus dirs link into the read-only base testdata)
    val target = Files.createTempDirectory(Paths.get("target"), "linktarget")
    Files.writeString(target.resolve("keep.txt"), "keep")
    val dir = Scratch.fresh("symlink_probe").toPath
    Files.createSymbolicLink(dir.resolve("link"), target.toAbsolutePath)
    assert(Scratch.fresh("symlink_probe").list().isEmpty)
    assert(Files.readString(target.resolve("keep.txt")) == "keep")
    Scratch.deleteRec(target.toFile)
  }

  test("Bench setup ledger is consumer-gated and builds the real memos") {
    // the memos are per application, which the whole suite shares: drop
    // any an earlier spec built on this dir, so the builds below are real
    graft.queries.ArtifactMemo.invalidate(sfDir)
    // no memo consumer selected -> no setup lines, no build jobs
    assert(Bench.measureSetup(spark, sfDir, Set("q1_agg", "q80_traceability"))
      .isEmpty)
    // a q59-only suite needs the pair memo AND its cc layer, nothing else;
    // the builds run for real (ArtifactMemo) and each reports a time
    val lines = Bench.measureSetup(spark, sfDir, Set("q59_dup_clusters"))
    assert(lines.map(_._1) == Seq("setup_pairs05", "setup_cc05"))
    assert(lines.forall(_._2 > 0))
    // the artifact now exists: the consumer gate runs without rebuilding
    // (smoke: it still returns its oracle-shaped result)
    assert(SparkEntry.queries("q59_dup_clusters")(spark, sfDir).count() > 0)
  }

  test("Bench round stamp counts only official driver bench artifacts") {
    // r10: the BENCH_r{N}_driver.json mirror must stamp the round IN
    // PROGRESS. Only `BENCH_r<N>.json` exactly may count — the round's
    // own CORRECTNESS file can land BEFORE the driver's bench, and the
    // suffixed _builder/_driver snapshots are committed mid-round under
    // the CURRENT number; counting either would bump the stamp past the
    // live round.
    val zoo = Seq("BENCH_r09.json", "BENCH_r09_builder3.json",
      "BENCH_r10_builder.json", "BENCH_r10_driver.json",
      "CORRECTNESS_r10.json", "CROSSCHECK_r10_sf0.1.json",
      "SCALE_STRESS_r10.json", "VERDICT.md", "build.sbt")
    assert(Bench.currentRound(zoo) == Some(10))
    // the official artifact for the round landing mid-run (double bench
    // in one round) legitimately advances the stamp
    assert(Bench.currentRound(zoo :+ "BENCH_r10.json") == Some(11))
    // fresh checkout: nothing to stamp against
    assert(Bench.currentRound(Seq("build.sbt", "SURVEY.md")).isEmpty)
  }

  test("the only mains in src/main are the four harness entry points") {
    // per-layer profiling is perfbench's traced run; a one-off dev main
    // beside the harness is a second, drifting copy of gate code
    val Main = """def main\(args: Array\[String\]\)""".r
    val Obj = """object (\w+)""".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator()
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
    val mains = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      Main.findAllMatchIn(src).map { m =>
        Obj.findAllMatchIn(src.take(m.start)).toSeq.lastOption
          .fold(s"<no object> in $f")(_.group(1))
      }
    }
    assert(mains.sorted == Seq("Bench", "Explain", "ScaleStress", "Verify"))
  }

  /** Comment-stripped source of every .scala file under `dir`, keyed by
    * its path relative to `dir`. */
  private def sources(dir: String): Seq[(String, String)] = {
    val Comment = """(?s)/\*.*?\*/|//[^\n]*""".r
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
      root.relativize(f).toString ->
        Comment.replaceAllIn(new String(Files.readAllBytes(f), "UTF-8"), "")
    }.toSeq
  }

  test("the engine names no checkout path") {
    // an absolute path into a checkout's build dir breaks every other
    // clone and lets two runs share one directory; scratch paths come
    // from Scratch, relative to the working directory
    val CheckoutPath = "\"/[^\"]*/target\\b".r
    val pinned = sources("src/main/scala").collect {
      case (f, src) if CheckoutPath.findFirstIn(src).nonEmpty => f }
    assert(pinned.isEmpty, s"checkout path literal in ${pinned.mkString(", ")}")
  }

  test("the portable hash weight and the ASCII test live only in the text-kernel core") {
    // a second copy of either is a twin loop that can drift from the core
    val code = sources("src/main/scala/graft/functions")
    for (p <- Seq("""1103515245""".r, """getByte\([^)]*\)\s*<\s*0""".r))
      assert(code.collect { case (f, src) if p.findFirstIn(src).nonEmpty => f } ==
        Seq("TextKernel.scala"), s"/$p/")
  }

  test("session conf is set and unset only through SessionConf") {
    // a hand-written save/set/restore drifts: restoring what conf.get
    // reported pins a never-set key to Spark's default. The one permanent
    // set left is Tables.events' nanos-as-long for TIMESTAMP(NANOS) scans.
    val code = sources("src/main/scala")
    def sites(call: String) = code.map { case (f, src) =>
      f -> scala.util.matching.Regex.quote(call).r.findAllIn(src).size }
      .filter(_._2 > 0).toMap
    assert(sites("conf.unset(").keySet == Set("graft/SessionConf.scala"))
    assert(sites("conf.set(") - "graft/SessionConf.scala" == Map("graft/Tables.scala" -> 1))
  }

  test("a session is built only by SessionConf.localSession") {
    // which local session the engine and its tests run in is one decision;
    // a second builder chain drifts from it key by key. The test root
    // (SparkSpec) is built by the same helper, so src/test has none.
    val Builder = """SparkSession\s*\.\s*builder""".r
    def sites(dir: String) = sources(dir).map { case (f, src) =>
      f -> Builder.findAllIn(src).size }.filter(_._2 > 0).toMap
    assert(sites("src/main/scala") == Map("graft/SessionConf.scala" -> 1))
    assert(sites("src/test/scala").isEmpty)
  }

  test("only the sweep spec walks the whole gate registry") {
    // each gate is built once per run: CacheHygieneSpec's loop runs it,
    // checks the cache and the conf, and audits its plans; a second
    // registry pass in another spec pays every gate's build again
    val Walk = """Queries\.all\s*\.\s*(toSeq|keys|foreach|map)\b|PlanAudit\.sweep\(""".r
    val walkers = sources("src/test/scala").collect {
      case (f, src) if Walk.findFirstIn(src).nonEmpty => f }
    assert(walkers == Seq("graft/CacheHygieneSpec.scala"))
  }

  test("every gate is declared once with an oracle") {
    // one table per queries/ module; building the maps rejects a second
    // declaration of a name instead of letting one shadow the other
    assert(Queries.all.size == 183)
    assert(Queries.oracle.keySet == Queries.all.keySet)
    val code = sources("src/main/scala/graft/queries").map(_._2).mkString("\n")
    val repeated = Queries.all.keySet.filter(n =>
      scala.util.matching.Regex.quote("\"" + n + "\"").r.findAllIn(code).size != 1)
    assert(repeated.isEmpty, "gate names written more than once in queries/")
    val q: Queries.Q = (s, d) => Tables.region(s, d)
    val twice = intercept[IllegalArgumentException](Queries.index(Seq(
      Queries.Gate("q_twice", q, "SELECT 1"), Queries.Gate("q_twice", q, "SELECT 2"))))
    assert(twice.getMessage.contains("q_twice"))
    for (sql <- Seq(null, ""))
      assert(intercept[IllegalArgumentException](Queries.index(Seq(
        Queries.Gate("q_bare", q, sql)))).getMessage.contains("q_bare"))
  }
}
