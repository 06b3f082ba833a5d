package graft

import java.nio.file.{Files, LinkOption}

/** Per-process scratch root for gate fixtures (q67 CSV, q106 JSONL),
  * streaming checkpoint/store dirs, and memo artifacts.
  *
  * The fixture gates materialize a tiny dim-table file to exercise the
  * ingestion sources; the path must not be a fixed literal or two
  * concurrent runs (bench + verify, or two Verify invocations) would
  * clobber each other's fixture mid-read. Overridable via
  * SPARK_GRAFT_SCRATCH; the default embeds the JVM pid so concurrent
  * processes get disjoint roots. Fact-sized data must never go through
  * this path — it is driver-side PrintWriter territory, dim tables only.
  *
  * The default root prefers `/dev/shm` (tmpfs) when writable. Everything
  * here is bounded gate-fixture-sized (MBs against a 126 GiB tmpfs), but
  * the ACCESS PATTERN is sync-heavy: streaming micro-batches commit state
  * stores and sink metadata with create+sync+rename per partition, and
  * the memo builders write their parquet artifacts here. Measured honestly
  * (r7, interleaved disk/tmpfs A/B on the 4 heaviest streaming gates in
  * the same window): the QUIET-window cost is unchanged — the fixed
  * streaming overhead is per-batch planning/commit latency, not disk.
  * What tmpfs removes is the EXPOSURE to co-tenant disk pressure: the r6
  * round recorded 3–15× inflation on exactly the scratch-heaviest queries
  * (q62/q115/q34/q108, all memo-artifact writers) in windows whose
  * disk-I/O probe read 3.5–4.6× while CPU read ~1.0×. At production
  * scale these artifacts live on cluster storage chosen for that duty;
  * locally, RAM-backing them measures the operators instead of the
  * co-tenant's disk queue. Disk fallback keeps any non-tmpfs host
  * working unchanged.
  */
object Scratch {
  private lazy val base: String = {
    val b = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", {
      val shm = new java.io.File("/dev/shm")
      // Writability alone is not enough: Docker/containerd mounts /dev/shm
      // at 64 MiB by default, and streaming state stores + memo parquet
      // would ENOSPC mid-gate. Require real headroom (4 GiB) before
      // preferring tmpfs; otherwise fall back to disk.
      val minTmpfsBytes = 4L << 30
      val root =
        if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > minTmpfsBytes)
          "/dev/shm"
        else new java.io.File("target").getAbsolutePath
      s"$root/graft-scratch-${ProcessHandle.current().pid()}"
    })
    // the pid default is unique per process, so nothing else ever reuses
    // it — remove it at exit or the root accrues one orphan dir per run
    // (on tmpfs that would be leaked RAM, so the hook matters even more)
    if (!sys.env.contains("SPARK_GRAFT_SCRATCH"))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        deleteRec(new java.io.File(b))))
    b
  }

  /** tmpfs-backed `spark.local.dir` for BENCH sessions (r9, VERDICT r8
    * next-list #2): q62 ran 5.7 s builder-quiet but 12.5 s on the driver —
    * the 2.2× gap was shuffle exposure, because `spark.local.dir` defaults
    * to the contended disk that tmpfs SCRATCH deliberately does not cover.
    * Gate-scale shuffle is bounded MBs against a 126 GiB tmpfs, but the
    * guard is stricter than Scratch's own (16 GiB): one bench child keeps
    * a single SparkSession across the whole gate suite, so shuffle files accrue until
    * the per-gate GC nudge lets the ContextCleaner drop them. Only Bench
    * routes through this — ScaleStress's ×100 corpora shuffle GBs and
    * stay on disk, and Verify's timing is not a measurement. Returns None
    * (→ Spark default) without headroom or when SPARK_GRAFT_LOCAL_TMPFS=0
    * (the A/B switch). At production scale this knob is the cluster's
    * fast local SSD/NVMe spill volume — the point is measuring operators,
    * not the co-tenant's disk queue. */
  def benchLocalDir(): Option[String] = benchLocalDirMemo

  // Memoized (r10, ADVICE r9 #2): the decision is made ONCE per JVM —
  // callers include both ioProbe() brackets AND session(), so a per-call
  // headroom re-check could land the probe and the actual spark.local.dir
  // on DIFFERENT media if tmpfs headroom flipped between calls (the probe
  // would then misrepresent the suite's medium), and each call registered
  // a redundant shutdown hook. One decision, one hook.
  private lazy val benchLocalDirMemo: Option[String] = {
    if (sys.env.get("SPARK_GRAFT_LOCAL_TMPFS").contains("0")) None
    else {
      val shm = new java.io.File("/dev/shm")
      val minFreeBytes = 16L << 30
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > minFreeBytes) {
        val d = new java.io.File(shm, s"graft-local-${ProcessHandle.current().pid()}")
        d.mkdirs()
        // Spark removes its blockmgr-*/spark-* subdirs on context stop;
        // this hook removes the root itself (tmpfs leak = leaked RAM)
        Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(d)))
        Some(d.getPath)
      } else None
    }
  }

  /** A fresh, empty scratch subdirectory (recreated on every call). */
  def fresh(sub: String): java.io.File = {
    val f = new java.io.File(base, sub)
    deleteRec(f); f.mkdirs()
    f
  }

  /** Recursive delete that does NOT follow symlinks: a link is removed,
    * never the tree it points into (ScaleStress's stale corpus dirs hold
    * links into the read-only base testdata). */
  def deleteRec(f: java.io.File): Unit = {
    val p = f.toPath
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.forEach(c => deleteRec(c.toFile)) finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }
}
