package graft.perfbench

import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch nanoseconds. `parent` is -1 when the
  * span was recorded by a listener; those are attached to the innermost
  * harness span that contains their `anchor` time when the run is reported. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      start: Long, end: Long, anchor: Long,
                      attrs: Map[String, String])

/** In-memory span recorder for the traced run. Spans stay in memory and are
  * written out once, when the run ends. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def nowNs: Long = System.nanoTime() + offsetNs

  def span[T](kind: String, name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowNs
      try body
      finally {
        val t1 = nowNs
        stack = stack.tail
        synchronized { spans += Span(id, parent, kind, name, t0, t1, t0, attrs) }
      }
    }

  /** Records a listener-derived span (epoch nanoseconds). */
  def record(kind: String, name: String, start: Long, end: Long, anchor: Long,
             attrs: Map[String, String] = Map.empty): Unit =
    if (enabled) synchronized {
      nextId += 1
      spans += Span(nextId, -1, kind, name, start, math.max(start, end), anchor, attrs)
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Per-pass counters of the traced run, filled by the listeners below and by
  * the request loop. Listener events are drained at pass boundaries, so each
  * event lands in the pass whose actions caused it. */
final class Counters {
  private val byPass = mutable.Map[Int, mutable.Map[String, Double]]()
  @volatile var pass: Int = 0

  def add(key: String, v: Double): Unit = synchronized {
    val m = byPass.getOrElseUpdate(pass, mutable.Map())
    m(key) = m.getOrElse(key, 0.0) + v
  }
  def max(key: String, v: Double): Unit = synchronized {
    val m = byPass.getOrElseUpdate(pass, mutable.Map())
    m(key) = math.max(m.getOrElse(key, 0.0), v)
  }
  def get(key: String): Double = synchronized {
    byPass.get(pass).flatMap(_.get(key)).getOrElse(0.0)
  }
  def snapshot: Map[Int, Map[String, Double]] = synchronized {
    byPass.map { case (p, m) => p -> m.toMap }.toMap
  }
}

/** Job, stage and task statistics from listener timestamps and task
  * metrics (layer `exec`), plus the `spark.job` and `spark.stage` spans. */
final class ExecListener(c: Counters, tracer: Tracer) extends SparkListener {
  private val jobStart = mutable.Map[Int, (Long, String)]()
  private val stageJob = mutable.Map[Int, Int]()
  private val MB = 1024.0 * 1024.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    jobStart(e.jobId) = (e.time * 1000000L, exec)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    c.add("exec.jobs", 1)
    jobStart.remove(e.jobId).foreach { case (t0, exec) =>
      tracer.record("spark.job", s"job ${e.jobId}", t0, e.time * 1000000L, t0,
        Map("execution_id" -> exec, "job_id" -> e.jobId.toString))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c.add("exec.stages", 1)
    val i = e.stageInfo
    for (t0 <- i.submissionTime; t1 <- i.completionTime) {
      val job = stageJob.get(i.stageId).map(_.toString).getOrElse("")
      tracer.record("spark.stage", s"stage ${i.stageId}", t0 * 1000000L, t1 * 1000000L,
        t0 * 1000000L, Map("job" -> job))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.add("exec.tasks", 1)
    if (e.reason != TaskSuccess) c.add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add("exec.task_run_s", m.executorRunTime / 1e3)
      c.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      c.add("exec.task_gc_s", m.jvmGCTime / 1e3)
      c.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      c.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      c.add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      c.max("exec.peak_exec_mem_mb", m.peakExecutionMemory / MB)
      c.add("exec.input_mb", m.inputMetrics.bytesRead / MB)
      c.add("exec.output_mb", m.outputMetrics.bytesWritten / MB)
    }
  }
}

/** Catalyst phases of every executed query (layer `catalyst`), as counters
  * and as one `catalyst.<phase>` span per phase. */
final class PhaseListener(c: Counters, tracer: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    note(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    note(funcName, qe)

  private def note(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    c.add("catalyst.queries", 1)
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => c.add(s"catalyst.${p}_s", (s.endTimeMs - s.startTimeMs) / 1e3))
    }
    // Analysis often ran eagerly when the DataFrame was built, long before
    // the action; each phase is attached to the harness span it ran in.
    phases.foreach { case (p, s) =>
      tracer.record(s"catalyst.$p", funcName, s.startTimeMs * 1000000L, s.endTimeMs * 1000000L,
        s.startTimeMs * 1000000L)
    }
  }
}

/** One `spark.query` span per SQL execution, from its start and end events;
  * jobs carry the execution id that links them to it. */
final class SqlExecutionListener(tracer: Tracer) extends SparkListener {
  import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
  private val started = mutable.Map[Long, (Long, String)]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        started(e.executionId) = (e.time * 1000000L, e.description)
      case e: SparkListenerSQLExecutionEnd =>
        started.remove(e.executionId).foreach { case (t0, desc) =>
          tracer.record("spark.query", desc, t0, e.time * 1000000L, t0,
            Map("execution_id" -> e.executionId.toString))
        }
      case _ =>
    }
  }
}

/** Micro-batch statistics of Structured Streaming queries (layer
  * `streaming`) and one `streaming.trigger` span per batch. */
final class StreamListener(c: Counters, tracer: Tracer) extends StreamingQueryListener {
  private val started = mutable.Map[java.util.UUID, Long]()
  private val lastStateRows = mutable.Map[java.util.UUID, Long]()
  val triggerMs = mutable.Map[Int, mutable.ArrayBuffer[Double]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    started(e.runId) = Instant.parse(e.timestamp).toEpochMilli
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val t0 = Instant.parse(p.timestamp).toEpochMilli
    val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
    c.add("streaming.triggers", 1)
    triggerMs.getOrElseUpdate(c.pass, mutable.ArrayBuffer()) += ms
    started.remove(p.runId).foreach(s => c.add("streaming.start_s", math.max(0L, t0 - s) / 1e3))
    val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    c.add("streaming.state_commit_ms", ops.map(_.commitTimeMs.toDouble).sum)
    lastStateRows(p.runId) = ops.map(_.numRowsTotal).sum
    tracer.record("streaming.trigger", s"batch ${p.batchId}", t0 * 1000000L,
      (t0 + ms.toLong) * 1000000L, t0 * 1000000L)
  }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized {
    lastStateRows.remove(e.runId).foreach(n => c.add("streaming.state_rows", n.toDouble))
    started.remove(e.runId)
  }
}

/** JVM MXBeans and Spark's codegen statistics, read as cumulative
  * totals; the caller takes differences across a pass. */
object JvmStats {
  def read(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    Map(
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.jit_s" -> jit / 1e3,
      "jvm.classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble,
      "codegen.compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)
  }

  /** Heap in use after a full collection, in MiB. Collected twice:
    * Spark's ContextCleaner releases shuffle and broadcast state only after
    * the first collection has cleared the weak references it watches. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Each native kernel timed alone over the x10 text (layer `functions`):
  * the input is cached first, and the kernel's output is computed for every
  * row into Spark's no-op sink, so the rate excludes the parquet scan. */
object Kernels {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import graft.functions._

  def rowsPerSecond(s: SparkSession, x10: String, tracer: Tracer, minSeconds: Double): Map[String, Double] = {
    val docs = s.read.parquet(s"$x10/documents.parquet").select("doc_id", "text").cache()
    val vecs = s.read.parquet(s"$x10/embeddings.parquet").select("vec_id", "embedding").cache()
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    val postings = docs
      .select(col("doc_id"), explode(ShingleHash.distinctOf(col("text"))).as("s"))
      .groupBy("s").agg(slice(collect_list(struct(col("doc_id"),
        lit(10L).as("n"))), 1, 64).as("ps"))
      .cache()
    val nPost = postings.count().toDouble
    val perms = 12
    val kernels: Seq[(String, DataFrame, Double)] = Seq(
      ("simhash16", docs.select(SimHash16.of(col("text"))), nDocs),
      ("minhash_sig", docs.select(MinHashSig.of(col("text"), 3,
        (0 until perms).map(k => 53L * k + 7L), (0 until perms).map(k => 97L * k + 13L),
        2147483647L)), nDocs),
      ("ngram_bucket_counts", docs.select(NgramBucketCounts.of(col("text"), 2, 4096)), nDocs),
      ("jaccard_pair_emit", postings.select(JaccardPairEmit.of(col("ps"), 0.5)), nPost),
      ("portable_ngram_hash", docs.select(PortableNgramHash.of(col("text"), 3)), nDocs),
      ("shingle_hash", docs.select(ShingleHash.of(col("text"))), nDocs),
      ("chargram_hash", docs.select(CharGramHash.of(col("text"))), nDocs),
      ("winnow", docs.select(Winnow.of(col("text"))), nDocs),
      ("vector_dot", vecs.select(VectorDot.dot(col("embedding"), col("embedding"))), nVecs),
      ("vector_d2", vecs.select(VectorD2.d2(col("embedding"), reverse(col("embedding")))), nVecs))
    val out = kernels.map { case (name, df, rows) =>
      df.write.format("noop").mode("overwrite").save() // warm-up: codegen and JIT
      val rates = mutable.ArrayBuffer[Double]()
      var spent = 0.0
      while (rates.size < 3 || spent < minSeconds) {
        val t0 = System.nanoTime()
        tracer.span("functions.kernel", name) {
          df.write.format("noop").mode("overwrite").save()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        spent += dt
        rates += rows / dt
      }
      s"functions.$name.rows_per_s" -> Stats.median(rates.toSeq)
    }.toMap
    docs.unpersist(); vecs.unpersist(); postings.unpersist()
    out
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val v = xs.sorted
    if (v.isEmpty) 0.0
    else if (v.size % 2 == 1) v(v.size / 2)
    else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
  }
}
