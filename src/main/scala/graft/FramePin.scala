package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Frame-scoped pinning for multi-consumer intermediates (r11, VERDICT r10
  * next-list #4): the ONE way a lazily-returned gate plan may pin a reused
  * subframe.
  *
  * Why not `cache()`: the lazy gate API has no release point — its pins
  * materialize only under the consumer's action — so a `cache()` is
  * retained by the CacheManager for the SESSION's lifetime no matter when
  * the caller drops the frame (the r10 Traceability leak spec's class,
  * found registry-wide by [[graft.CacheHygieneSpec]]: 12 gates). A lazy
  * `localCheckpoint` materializes the same blocks once under the same
  * first action, but they are held by the returned plan's RDD and the
  * ContextCleaner reclaims them when the caller's frame goes unreachable —
  * the pin's lifetime IS the frame's lifetime.
  *
  * Known trade (accepted deliberately): localCheckpoint truncates lineage,
  * so a pinned partition lost with its executor (failure,
  * dynamic-allocation decommission) cannot be recomputed — the job fails
  * where a `cache()` would have recovered. Pins guard gate-scale reused
  * intermediates; at 100 TB the same intermediates are materialized
  * artifacts (reliable `checkpoint()` / parquet — e.g.
  * [[graft.pipelines.TrainingDataPipeline]]'s `Checkpoint` mode), which is
  * also the failure-proof path. In exchange the pin skips the columnar
  * InMemoryRelation encode `cache()` pays — measured ~7 % off the whole
  * suite, q62 −37 % (`BENCH_r11_builder.json` vs `BENCH_r10_builder4`).
  *
  * Why a helper instead of bare `localCheckpoint(false)` at every site:
  * the checkpoint truncates the VISIBLE plan at an `Scan ExistingRDD`
  * leaf, which would blind the three-killer plan audits ([[PlanAudit]],
  * the ScaleStress ×100 sweeps) to everything upstream of a pin — a
  * cartesian hidden behind a pin boundary must still be an offender. Every
  * pin therefore records its upstream [[QueryExecution]] when an audit is
  * collecting ([[collecting]]), and [[PlanAudit.audit]] audits those
  * upstream plans alongside the gate's own. */
object FramePin {

  private val collector =
    new ThreadLocal[scala.collection.mutable.Buffer[QueryExecution]]

  /** Pin `df` for reuse by multiple consumers of the RETURNED plan:
    * records the upstream plan for any collecting audit, then lazily
    * localCheckpoints (blocks materialize under the consumer's first
    * action, die with the consumer's frame). */
  def pin(df: DataFrame): DataFrame = {
    val buf = collector.get()
    if (buf != null) buf += df.queryExecution
    df.localCheckpoint(false)
  }

  /** Runs `body` collecting the upstream [[QueryExecution]] of every
    * [[pin]] it creates on THIS thread (gate construction is
    * single-threaded); returns (result, pinned upstream plans). Nested
    * collections see only their own pins. */
  def collecting[T](body: => T): (T, Seq[QueryExecution]) = {
    val prev = collector.get()
    val buf = scala.collection.mutable.Buffer.empty[QueryExecution]
    collector.set(buf)
    try { val r = body; (r, buf.toSeq) }
    finally collector.set(prev)
  }
}
