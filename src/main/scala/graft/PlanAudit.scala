package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

/** Shared plan-shape audit: the three corpus-scale killers, checkable on
  * any gate's planned (not executed) query at any data dir.
  *
  *   1. CartesianProduct — corpus² rows;
  *   2. BroadcastNestedLoopJoin that is not the 1-row scalar pattern and
  *      not an explicitly waived bounded-dim broadcast;
  *   3. a Window whose spec opens with an ordering (no partition keys) —
  *      the whole input sorts on ONE task.
  *
  * Two consumers, deliberately the same code ([[graft.CacheHygieneSpec]]'s
  * one registry loop [[audit]]s every gate at sf0.001 on every `sbt test`;
  * [[ScaleStress]] re-runs the [[sweep]] against its ×10/×30 synthetic
  * dirs, where AQE and size-based planning could legitimately switch join
  * strategies — the r7 VERDICT's point that gate-scale pins don't prove
  * scaled-input plans). A divergence between tiers shows up as a sweep
  * offender in `SCALE_STRESS` instead of staying invisible until a
  * cluster run.
  */
object PlanAudit {

  /** Gates that RUN bounded Structured Streaming work at construction
    * time (Queries.scala gate-runner contract) — planning them IS
    * executing them, so scaled-dir sweeps exclude them; their scale
    * posture is measured through their batch twins (q30 for q167, q75
    * for q159/q165) and the state-keyed design argument in SURVEY. */
  val streamingGates: Set[String] = Set(
    "q157_stream_maintain", "q159_stream_sessionize", "q160_stream_dedup",
    "q161_stream_bloom", "q163_stream_join", "q164_stream_outer_join",
    "q165_stream_restart", "q167_stream_hourly", "q168_stream_dropdup")

  /** Tolerated non-equi broadcast loops — each builds a PROVABLY BOUNDED
    * side (never fact-scale), so the loop is dim-bounded at any corpus
    * size; the queries' own scaladocs carry the argument. */
  val bnljWaivers: Map[String, String] = Map(
    "q10_prefix_membership" -> "prefix dim (bounded code list) broadcast under a startsWith condition",
    "q35_cosine_topk" -> "brute-force BASELINE over the bounded query set (the scale path is q36/q52)",
    "q69_multimodal_meta" -> "tiny codec-fixture frame broadcast for the outer metadata join",
    "q77_topk_native_agg" -> "bounded query set broadcast against the corpus for per-query top-k",
    "q90_ann_recall" -> "exact brute-force RECALL ORACLE arm over the ≤50-row query set (the serving arm is cell-keyed)",
    "q99_edit_distance" -> "self-join of the 25-row nation dim (constant cardinality at any SF)",
    "q148_pq_adc_recall" -> "exact-L2 recall arm + per-block query LUTs, both bounded by the ≤10-row query set",
    "q151_ivfpq_search" -> "exact-L2 recall arm + query LUT broadcasts, bounded by the ≤10-row query set; serving arm joins cell-keyed codes")

  /** The only tolerated nested loop is the 1-row scalar broadcast
    * (crossJoin(broadcast(agg)) — the documented A9/df-cap pattern).
    * Walks the PHYSICAL tree (pre-exchange `sparkPlan`, so the build
    * child is the actual subplan) and requires every BNLJ's build side
    * to bottom out in a grand-total aggregate — no grouping keys ⇒
    * exactly one row broadcasts, at any corpus size. Checks BNLJs ONLY
    * (r8 ADVICE: a cartesian used to flip this too, double-labeling a
    * cartesian-only plan "non-scalar BNLJ" — the cartesian detector in
    * [[offenses]] owns that signal, on both plan stages). */
  def onlyScalarBnlj(qe: QueryExecution): Boolean = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    def scalarBuild(n: SparkPlan): Boolean = n match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case u if u.children.size == 1 => scalarBuild(u.children.head)
      case _ => false
    }
    qe.sparkPlan.collect { case j: BroadcastNestedLoopJoinExec =>
      scalarBuild(if (j.buildSide == BuildRight) j.right else j.left)
    }.forall(identity)
  }

  /** A window spec whose first argument is an ORDERING (ASC/DESC before
    * the first comma) has no partition keys — single-task window state. */
  private val partitionlessWindow =
    """windowspecdefinition\([^,()]*(ASC|DESC)""".r

  /** The killer list for ONE planned gate (empty = clean). The cartesian
    * detector reads BOTH plan stages (pre-AQE `sparkPlan` and
    * `executedPlan`): AQE can rewrite the initial plan, but a cartesian
    * in either stage is the signal — and it is labeled `cartesian`
    * exactly once, never smuggled through the BNLJ detector (which a
    * waiver would suppress). */
  def offenses(name: String, qe: QueryExecution): Seq[String] = {
    val p = qe.executedPlan.toString
    Seq(
      if (p.contains("CartesianProduct") ||
          qe.sparkPlan.toString.contains("CartesianProduct"))
        Some("cartesian") else None,
      if (!onlyScalarBnlj(qe) && !bnljWaivers.contains(name))
        Some("non-scalar BNLJ") else None,
      partitionlessWindow.findFirstIn(p).map(_ => "partition-less window")
    ).flatten
  }

  /** A frame built under [[FramePin.collecting]], with its own plan
    * followed by every [[FramePin]]-pinned upstream plan its construction
    * created (r11): a frame-scoped pin truncates the visible plan at a
    * `Scan ExistingRDD` leaf, so without the collection a cartesian (or
    * any killer) upstream of a pin would vanish from the audit — the pin
    * must never be a place to hide a bad plan. */
  def planned(build: => DataFrame): (DataFrame, Seq[QueryExecution]) = {
    val (df, pinned) = FramePin.collecting(build)
    (df, df.queryExecution +: pinned)
  }

  /** Builds gate `name` once and returns its frame, unexecuted, with the
    * killer list over all of its [[planned]] plans (empty = clean). The
    * list is read before the caller runs the frame, so it judges the
    * plans as planned, not as AQE re-planned them. Construction-time side
    * effects (memo builds, bounded fixture writes — Queries.scala
    * contract) run for real. */
  def audit(name: String)(build: => DataFrame): (DataFrame, Seq[String]) = {
    val (df, plans) = planned(build)
    (df, plans.flatMap(qe => offenses(name, qe)).distinct)
  }

  /** [[audit]]s every named gate at `dir` and returns "name: offense, …"
    * lines (empty = all clean). Callers at scaled dirs should sweep AFTER
    * the heavy memos exist. */
  def sweep(spark: SparkSession, dir: String,
      names: Iterable[String] = Queries.all.keys): Seq[String] =
    names.toSeq.sorted.flatMap { name =>
      val bad = audit(name)(Queries.all(name)(spark, dir))._2
      if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(", ")}")
    }
}
