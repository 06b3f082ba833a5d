package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide no-lingering-cache sweep (r11, VERDICT r10 next-list #4,
  * generalizing the r10 Traceability leak spec): a whole-suite
  * single-session run — the bench, ScaleStress, a production pipeline
  * driving many queries through one SparkSession — must not accumulate
  * operator-created cached RDDs. The house rule the Traceability spec
  * established, now enforced over EVERY gate:
  *
  *   after a gate's returned frame is executed and released, the
  *   persistent-RDD set returns to its pre-gate baseline, EXCEPT
  *   localCheckpoint blocks — those are held by the caller's plan and the
  *   ContextCleaner reclaims them when the frame becomes unreachable,
  *   whereas a forgotten `cache()` is pinned by the CacheManager for the
  *   session's LIFETIME no matter who still references the frame.
  *
  * First adjudicated instance: q169's signature histogram cache
  * (ADVICE r10 #1), converted to `localCheckpoint(false)` this round —
  * this sweep is the regression gate that keeps the whole registry at
  * that standard. The distinction the filter draws is exactly the one
  * [[org.apache.spark.rdd.GraftRddInspect]] exposes.
  *
  * The same loop sweeps the session's SQL conf: every gate must leave
  * `spark.conf.getAll` (explicit settings only) exactly as it found it,
  * so a key the gate set for its own body is unset again afterwards, not
  * pinned to Spark's default.
  *
  * And it is the suite's one plan audit of the registry: each gate is
  * built once, through [[PlanAudit.audit]], which reads the three
  * corpus-scale killers (a cartesian product, a non-scalar nested loop,
  * a partition-less window) off the gate's plan and every pinned
  * upstream plan before the frame runs. [[PlanAuditSpec]]'s per-gate
  * pins cover the queries someone already suspected; this sweep catches
  * the one nobody did. No other spec walks the registry (a
  * `HarnessContractSpec` guard), so no gate is built twice per run. */
class CacheHygieneSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** One line per key whose explicit setting differs between two
    * `conf.getAll` snapshots. */
  private def confDiff(before: Map[String, String],
      after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted.collect {
      case k if before.get(k) != after.get(k) =>
        s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}"
    }

  /** Builds the gate once, reads its plan offenses, then runs it. Its own
    * method, so the frame is unreachable when the sweep nudges the GC. */
  private def auditAndCount(name: String)(build: => DataFrame): Seq[String] = {
    val (df, bad) = PlanAudit.audit(name)(build)
    df.count(): Unit
    bad
  }

  test("no gate in the registry leaves a cached (non-localCheckpoint) " +
      "RDD behind after its frame is executed") {
    // the same loop audits the plans and sweeps the SQL conf (see the class doc)
    val sc = spark.sparkContext
    val planOffenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val confLeaks = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, fn) <- Queries.all.toSeq.sortBy(_._1)) {
      // pre-gate baseline AFTER the previous gate's cleanup nudge, so a
      // leak is attributed to the gate that created it, never inherited
      val baseline = sc.getPersistentRDDs.keySet.toSet
      val confBefore = spark.conf.getAll
      val bad = auditAndCount(name)(fn(spark, sf))
      if (bad.nonEmpty) planOffenders += s"$name: ${bad.mkString(", ")}"
      confLeaks ++= confDiff(confBefore, spark.conf.getAll).map(l => s"$name: $l")
      val lingering = sc.getPersistentRDDs
        .filter { case (id, _) => !baseline(id) }
        .values
        .filterNot(org.apache.spark.rdd.GraftRddInspect.isLocalCheckpoint)
        .toSeq
      if (lingering.nonEmpty)
        offenders += s"$name: ${lingering.map(_.toString).mkString("; ")}"
      // release this gate's legitimate checkpoint blocks before the next
      // baseline: drop the only reference (the frame is already out of
      // scope), clear any cached QUERIES (distinct from the RDD-level
      // leaks this sweep hunts — those were sampled above, before the
      // clear could mask them), and nudge the ContextCleaner
      spark.catalog.clearCache()
      System.gc()
    }
    val report = Seq(
      "gates plan a cartesian product, a non-scalar nested loop, or a " +
        "partition-less window" -> planOffenders,
      "gates left non-localCheckpoint persistent RDDs behind" -> offenders,
      "gates left the session conf changed" -> confLeaks
    ).collect { case (what, lines) if lines.nonEmpty => s"$what:\n${lines.mkString("\n")}" }
    if (report.nonEmpty) fail(report.mkString("\n"))
  }

  test("the sweep DETECTS a leaked cache (positive control)") {
    // a filter typo or a Spark storage-level rename must not silently
    // green every future sweep: a deliberately leaked cache() is caught,
    // and a localCheckpoint of the same frame is exempt
    val s = spark; import s.implicits._
    val sc = s.sparkContext
    val base = sc.getPersistentRDDs.keySet.toSet
    val leaked = Seq((1L, "a"), (2L, "b")).toDF("id", "v").cache()
    leaked.count(): Unit
    def newNonCheckpoint() = sc.getPersistentRDDs
      .filter { case (id, _) => !base(id) }
      .values.filterNot(org.apache.spark.rdd.GraftRddInspect.isLocalCheckpoint)
    assert(newNonCheckpoint().nonEmpty, "the detector missed a real cache()")
    leaked.unpersist(true)
    val ckpt = Seq((3L, "c")).toDF("id", "v").localCheckpoint(false)
    ckpt.count(): Unit
    assert(newNonCheckpoint().isEmpty,
      "localCheckpoint blocks must be exempt (caller-held, GC-reclaimable)")
  }

  test("SessionConf.scoped restores every key when its body throws, and " +
      "the conf sweep DETECTS a leaked key (positive control)") {
    val explicit = "spark.sql.shuffle.partitions" // set at session creation
    val defaulted = "spark.sql.adaptive.enabled"  // unset, Spark default true
    val bare = "spark.graft.spec.noDefault"       // unset, no default at all
    val before = spark.conf.getAll
    assert(before.contains(explicit) && !before.contains(defaulted) &&
      !before.contains(bare), s"fixture keys: $before")
    intercept[IllegalStateException] {
      SessionConf.scoped(spark, explicit -> "7", defaulted -> "false", bare -> "x") {
        assert(Seq(explicit, defaulted, bare).map(spark.conf.get) == Seq("7", "false", "x"))
        throw new IllegalStateException("forced failure inside the scope")
      }
    }
    assert(confDiff(before, spark.conf.getAll).isEmpty)
    // the hand-written restore the helper replaced: reading the prior
    // value with conf.get reports the default, and writing it back leaves
    // the key explicitly set — the sweep's diff must name it
    val prior = spark.conf.get(defaulted)
    spark.conf.set(defaulted, prior)
    try assert(confDiff(before, spark.conf.getAll) == Seq(s"$defaulted: <unset> -> $prior"))
    finally spark.conf.unset(defaulted)
    assert(confDiff(before, spark.conf.getAll).isEmpty)
  }
}
