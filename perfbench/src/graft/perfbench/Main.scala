package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark process for one workload run: sets up a fresh SparkSession on
  * `local[4]`, then runs a closed loop (one client, one request in flight)
  * over the workload's request set: a cold pass, then the number of warm
  * passes that nominally fits the measuring window. Every response is
  * fingerprinted and checked against the committed references; a request
  * that throws or mismatches is counted as failed and yields no timing.
  *
  * Raw records (setup, passes, requests, and in a traced run the layer
  * counters and spans) are written as JSON to `--out`; `perfbench/run.py`
  * turns them into metrics.
  *
  * Modes: `run` (default) and `dump`, which writes each gate's full output
  * and fingerprint for building the reference file. */
object Main {
  private val json = new ObjectMapper()

  final case class Record(pass: Int, kind: String, name: String, params: String,
                          ok: Boolean, error: String, buildS: Double,
                          actionS: Double, latencyS: Double)

  sealed trait Req { def kind: String; def name: String; def params: String = "" }
  final case class GateReq(name: String) extends Req { def kind = "gate" }
  final case class RunnerReq(periods: Seq[Requests.Period]) extends Req {
    def kind = "runner"; def name = "report_runner"
    override def params: String = periods.map(_.key).mkString(",")
  }
  final case class MemoReq(name: String) extends Req { def kind = "memo" }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.getOrElse("mode", "run") match {
      case "run" => run(a)
      case "dump" => dump(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- run mode ------------------------------------------------------------

  private def run(a: Map[String, String]): Unit = {
    val launchMs = a("launch-ms").toLong
    val w = Requests.all(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val dirs = Map("base" -> a("base"), "x10" -> a("x10"))
    val dir = dirs(w.data)
    val inject: Map[String, String] = a.get("inject").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("="); v -> k }.toMap
    val refs = json.readTree(Files.readString(Paths.get(a("refs"))))

    // ---- set-up: session and schema preflight ------------------------------
    val spark = session(a("work"))
    val confSession = spark.conf.getAll
    graft.SchemaContract.preflight(spark, dir, "perfbench")
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3

    val tracer = new Tracer(traced)
    val counters = new Counters
    val streams = new StreamListener(counters, tracer)
    if (traced) {
      spark.sparkContext.addSparkListener(new ExecListener(counters, tracer))
      spark.sparkContext.addSparkListener(new SqlExecutionListener(tracer))
      spark.listenerManager.register(new PhaseListener(counters, tracer))
      spark.streams.addListener(streams)
    }
    def drain(): Unit = if (traced) org.apache.spark.perfbench.BusDrain(spark.sparkContext)

    val gateFns = graft.Queries.all
    val rng = new SplittableRandom(seed)
    val order = MessageDigest.getInstance("SHA-256")
    val records = mutable.ArrayBuffer[Record]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val confLeaks = mutable.ArrayBuffer[String]()

    def passRequests(): Seq[Req] = {
      // runners come in pairs drawing k and 5 - k periods (k in 1..4), so
      // the seed moves the parameters but not the amount of work in a pass
      val counts = Seq.fill(w.runners / 2) { val k = 1 + rng.nextInt(4); Seq(k, 5 - k) }.flatten ++
        Seq.fill(w.runners % 2)(1 + rng.nextInt(4))
      val runners = counts.map { k =>
        val picked = mutable.LinkedHashSet[Requests.Period]()
        while (picked.size < k)
          picked += Requests.candidatePeriods(rng.nextInt(Requests.candidatePeriods.size))
        RunnerReq(picked.toSeq)
      }
      val shuffled = mutable.ArrayBuffer[Req]((w.gates.map(GateReq(_)) ++ runners): _*)
      for (i <- shuffled.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
      }
      w.memos.map(MemoReq(_)) ++ shuffled.toSeq
    }

    def check(name: String, got: (Long, BigDecimal), data: String = w.data): Unit = {
      val n = refs.path("gates").path(data).path(name)
      if (n.isMissingNode) throw new IllegalStateException(s"no reference for $name on $data")
      val want0 = (n.path("rows").asLong(), BigDecimal(n.path("hash").asText()))
      val want = if (inject.get(name).contains("wrongfp")) (want0._1, want0._2 + 1) else want0
      if (got != want) throw new IllegalStateException(
        s"$name: fingerprint (${got._1} rows, ${got._2}) != reference (${want._1} rows, ${want._2})")
    }

    def checkRunner(got: Map[String, Map[String, Double]]): Unit = {
      val vals = refs.path("runner").path("values")
      for ((period, row) <- got; (code, v) <- row) {
        val want = vals.path(period).path(code)
        if (want.isMissingNode) throw new IllegalStateException(s"no runner reference for $period $code")
        if (math.abs(v - want.asDouble()) > 1e-6 * math.max(1.0, math.abs(v)))
          throw new IllegalStateException(s"runner $period $code: $v != ${want.asDouble()}")
      }
    }

    def memoEntries(): Int = graft.queries.ArtifactMemo.entryCount(dir)

    def noteConfLeaks(where: String, before: Map[String, String], after: Map[String, String]): Unit =
      (before.keySet ++ after.keySet).toSeq.sorted
        .filter(k => before.get(k) != after.get(k))
        .foreach { k =>
          counters.add("queries.conf_leaks", 1)
          confLeaks += s"$where: $k ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}"
        }
    noteConfLeaks("set-up (schema preflight)", confSession, spark.conf.getAll)

    def runRequest(pass: Int, r: Req): Record = {
      val confBefore = spark.conf.getAll
      val memoBefore = memoEntries()
      val t0 = System.nanoTime()
      var t1 = t0
      val attrs = Map("workload" -> w.name, "gate" -> r.name, "pass" -> pass.toString,
        "seed" -> seed.toString)
      val rec = tracer.span("request", r.name, attrs) {
        try {
          if (inject.get(r.name).contains("throw"))
            throw new IllegalStateException(s"injected failure in ${r.name}")
          r match {
            case GateReq(name) =>
              drain(); val jobs0 = counters.get("exec.jobs")
              val df = tracer.span("queries.build", name) { gateFns(name)(spark, dir) }
              t1 = System.nanoTime()
              drain(); counters.add("queries.build_jobs", counters.get("exec.jobs") - jobs0)
              val fp = tracer.span("exec.action", name) { Requests.fingerprint(df) }
              check(name, fp)
            case RunnerReq(periods) =>
              drain(); val jobs0 = counters.get("exec.jobs")
              val out = tracer.span("engine.run", "report_runner") {
                Requests.runReport(spark, dir, periods)
              }
              drain(); counters.add("engine.jobs", counters.get("exec.jobs") - jobs0)
              counters.add("engine.run_s", (System.nanoTime() - t0) / 1e9)
              checkRunner(out)
            case MemoReq(kind) =>
              val out = tracer.span("memo.build", kind) { Requests.memoBuilds(kind)(spark, dir) }
              t1 = System.nanoTime()
              counters.add("memo.build_s", (t1 - t0) / 1e9)
              check(s"memo_$kind", tracer.span("exec.action", kind) { Requests.fingerprint(out) })
          }
          val t2 = System.nanoTime()
          Record(pass, r.kind, r.name, r.params, ok = true, null,
            (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t2 - t0) / 1e9)
        } catch {
          case e: Throwable =>
            val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
            System.err.println(s"[perfbench] ${r.name} FAILED: $msg")
            Record(pass, r.kind, r.name, r.params, ok = false, msg, 0, 0, 0)
        }
      }
      val built = memoEntries() - memoBefore
      if (built > 0) counters.add("memo.builds", built)
      else if (Requests.memoConsumers(r.name)) counters.add("memo.hits", 1)
      if (r.kind == "gate") {
        counters.add("queries.build_s", rec.buildS)
        counters.add("exec.action_s", rec.actionS)
      }
      noteConfLeaks(r.name, confBefore, spark.conf.getAll)
      rec
    }

    val windowStart = System.nanoTime()
    var pass = 0
    var lastPassS = 0.0
    val warmPasses = w.warmPasses(seconds)
    // the time guard only bounds a run on a host far slower than nominal
    def overtime: Boolean = pass > 2 && (System.nanoTime() - windowStart) / 1e9 > 2 * seconds
    while (pass <= warmPasses && !overtime) {
      counters.pass = pass
      val reqs = passRequests()
      reqs.foreach(r => order.update(s"$pass|${r.kind}|${r.name}|${r.params}\n".getBytes(StandardCharsets.UTF_8)))
      if (w.memos.nonEmpty) graft.queries.ArtifactMemo.invalidate(dir)
      val jvm0 = JvmStats.read()
      val p0 = System.nanoTime()
      reqs.foreach(r => records += runRequest(pass, r))
      lastPassS = (System.nanoTime() - p0) / 1e9
      drain()
      val jvm1 = JvmStats.read()
      if (traced) counters.add("memo.bytes_mb", memoMb(a("scratch")))
      val heap = JvmStats.liveHeapMb()
      passes += Map("pass" -> pass, "wall_s" -> lastPassS, "live_heap_mb" -> heap,
        "jvm" -> jvm1.map { case (k, v) => k -> (v - jvm0(k)) })
      pass += 1
    }
    val windowS = (System.nanoTime() - windowStart) / 1e9

    // Layers no kept workload exercises are measured alone in the traced
    // run: the native kernels, and Structured Streaming through the
    // streaming dedup gate (counted as pass -1).
    val kernels =
      if (traced) Kernels.rowsPerSecond(spark, dirs("x10"), tracer, minSeconds = 0.4)
      else Map.empty[String, Double]
    if (traced) {
      drain()
      counters.pass = StreamProbe.Pass
      for (_ <- 1 to StreamProbe.Runs) tracer.span("request", StreamProbe.Gate,
          Map("workload" -> "streaming_probe", "gate" -> StreamProbe.Gate,
            "pass" -> StreamProbe.Pass.toString, "seed" -> seed.toString)) {
        val df = tracer.span("queries.build", StreamProbe.Gate) {
          gateFns(StreamProbe.Gate)(spark, dirs("base"))
        }
        check(StreamProbe.Gate, tracer.span("exec.action", StreamProbe.Gate) {
          Requests.fingerprint(df)
        }, data = "base")
      }
    }
    drain()

    val out = Map(
      "workload" -> w.name, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "window_s" -> windowS,
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "cores" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "gates" -> w.gates, "memos" -> w.memos, "runners_per_pass" -> w.runners,
      "request_order_sha256" -> order.digest().map("%02x".format(_)).mkString,
      "passes" -> passes.toSeq,
      "requests" -> records.toSeq.map(r => Map(
        "pass" -> r.pass, "kind" -> r.kind, "name" -> r.name, "params" -> r.params,
        "ok" -> r.ok, "error" -> r.error, "build_s" -> r.buildS,
        "action_s" -> r.actionS, "latency_s" -> r.latencyS)),
      "conf_leaks" -> confLeaks.toSeq,
      "counters" -> counters.snapshot.map { case (p, m) => p.toString -> m },
      "stream_trigger_ms" -> streams.triggerMs.map { case (p, v) => p.toString -> v.toSeq }.toMap,
      "kernels" -> kernels,
      "spans" -> tracer.all.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "anchor" -> s.anchor, "attrs" -> s.attrs)))
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(toJava(out)))
    spark.stop()
  }

  object StreamProbe {
    val Gate = "q168_stream_dropdup"
    val Runs = 2
    val Pass = -1
  }

  private def memoMb(scratch: String): Double = {
    val root = Paths.get(scratch)
    if (!Files.isDirectory(root)) 0.0
    else {
      val st = Files.walk(root)
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && root.relativize(p).toString.startsWith("memo_"))
        .map(p => Files.size(p)).sum / (1024.0 * 1024.0)
      finally st.close()
    }
  }

  private def toJava(x: Any): AnyRef = x match {
    case null => null
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, v) => out.put(k.toString, toJava(v)) }
      out
    case s: Seq[_] => s.map(toJava).asJava
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Integer.valueOf(i)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case b: BigDecimal => b.bigDecimal
    case o => o.toString
  }

  // ---- dump mode -----------------------------------------------------------

  /** Writes every gate's and memo's full output under `--outdir/<data>/` as
    * parquet, with its fingerprint taken twice (a gate whose two
    * fingerprints differ is not deterministic and cannot be referenced),
    * plus the DuckDB oracle SQL of the gates. The gates are those the
    * request sets issue, and the streaming probe's gate on the base data. */
  private def dump(a: Map[String, String]): Unit = {
    val spark = session(a("work"))
    val outRoot = a("outdir")
    val dirs = Map("base" -> a("base"), "x10" -> a("x10"))
    val byData = Requests.all.values.groupBy(_.data)
    val result = mutable.LinkedHashMap[String, Any]()
    for ((data, ws) <- byData.toSeq.sortBy(_._1)) {
      val dir = dirs(data)
      graft.SchemaContract.preflight(spark, dir, "perfbench")
      val probe = if (data == "base") Seq(StreamProbe.Gate) else Nil
      val gates = (ws.flatMap(_.gates).toSeq ++ probe).distinct.sorted
      val fps = mutable.LinkedHashMap[String, Any]()
      def record(name: String, df: DataFrame): Unit = {
        val f1 = Requests.fingerprint(df)
        val f2 = Requests.fingerprint(df)
        df.write.mode("overwrite").parquet(s"$outRoot/$data/$name")
        fps(name) = Map("rows" -> f1._1, "hash" -> f1._2.toString, "deterministic" -> (f1 == f2))
        println(s"[dump] $data $name rows=${f1._1} deterministic=${f1 == f2}")
      }
      for (g <- gates) record(g, graft.Queries.all(g)(spark, dir))
      for (m <- ws.flatMap(_.memos).toSeq.distinct) record(s"memo_$m", Requests.memoBuilds(m)(spark, dir))
      val oracle = graft.Queries.oracle.filter { case (k, _) => gates.contains(k) }
      Files.writeString(Paths.get(s"$outRoot/$data/oracle_sql.json"), json.writeValueAsString(toJava(oracle)))
      result(data) = fps.toMap
    }
    Files.writeString(Paths.get(s"$outRoot/fingerprints.json"), json.writeValueAsString(toJava(result.toMap)))
    spark.stop()
  }
}
