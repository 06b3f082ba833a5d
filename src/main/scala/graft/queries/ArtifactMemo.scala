package graft.queries

import java.nio.file.{FileVisitOption, Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.SparkSession

/** Keyed once-per-run materialization of derived artifacts shared by
  * several gates — the generic machinery under [[PairMemo]] (near-dup
  * pairs + CC clusters) and the PQ training memo in [[SelectionOps]].
  *
  * `path(s, dir, kind)(build)` runs `build(out)` exactly once per
  * (Spark application, canonical data dir, kind, content fingerprint of
  * the dir) — writing whatever parquet layout the caller wants under
  * `out` — and returns the same path to every later caller. At 100 TB
  * this is the production shape: expensive derived artifacts (dedup
  * indexes, trained codebooks) are per-corpus-version outputs on object
  * storage that downstream queries READ, not recompute; the scratch dir
  * stands in for that store at test scale. Standalone correctness is untouched — the first consumer
  * triggers exactly the computation the gate used to run inline. */
private[graft] object ArtifactMemo {

  /** (applicationId, canonical dir, kind, fingerprint) → the single
    * builder's promise. putIfAbsent elects exactly one builder per key;
    * losers block on the winner's future instead of racing build()
    * against the same scratch dir (Scratch.fresh DELETES the target, so
    * two interleaved builders would corrupt the artifact the map then
    * points at). */
  private val paths = scala.collection.concurrent.TrieMap[
    (String, String, String, Seq[(String, Long, Long)]),
    scala.concurrent.Promise[String]]()

  /** Every file under `canon` (symlinks followed) with its size and
    * mtime: a corpus rewritten in place gets a new key, so its memo is
    * rebuilt instead of served from the previous content. */
  private def fingerprint(canon: String): Seq[(String, Long, Long)] =
    Using.resource(Files.walk(Paths.get(canon), FileVisitOption.FOLLOW_LINKS)) {
      _.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        (f.toString, a.size, a.lastModifiedTime.toMillis)
      }.toSeq.sortBy(_._1)
    }

  def path(s: SparkSession, dir: String, kind: String)
          (build: String => Unit): String = {
    val canon = new java.io.File(dir).getCanonicalPath
    // the scratch subdir embeds the FULL sanitized path, not a 32-bit
    // hash: a hashCode collision between two data dirs would make the
    // second build wipe (Scratch.fresh deletes) and overwrite the first
    // dir's artifact while its TrieMap entry still points there —
    // silently cross-wiring their results
    val tag = canon.replaceAll("[^A-Za-z0-9]", "_")
    val key = (s.sparkContext.applicationId, canon, kind, fingerprint(canon))
    val mine = scala.concurrent.Promise[String]()
    paths.putIfAbsent(key, mine) match {
      case Some(winner) =>
        scala.concurrent.Await.result(
          winner.future, scala.concurrent.duration.Duration.Inf)
      case None =>
        try {
          val out = graft.Scratch.fresh(s"memo_${kind}_$tag").getPath
          build(out)
          mine.success(out)
          out
        } catch {
          case e: Throwable =>
            // release the key so a later caller can retry the build
            mine.failure(e); paths.remove(key, mine); throw e
        }
    }
  }

  /** Drop every COMPLETED memo entry for `dir` (all kinds, all
    * applications), so the next consumer rebuilds from scratch — the
    * rebuild reuses the same deterministic scratch path (`Scratch.fresh`
    * deletes the stale target first), so nothing leaks. Returns the
    * number of entries dropped.
    *
    * Exists for measurement harnesses that re-time a gate within one JVM
    * ([[graft.ScaleStress]]'s transient resample): without it the
    * re-measure of a memo-consuming gate times a parquet scan of the
    * already-built artifact instead of the work the first sample paid —
    * measured on q32 at ×100: 21.3 s build-inclusive first sample,
    * 0.23 s memo-hit "re-measure". In-flight (uncompleted) builds are
    * left untouched: removing one would elect a second builder racing
    * the first on the same scratch target, the exact corruption the
    * promise map exists to prevent.
    *
    * Caller contract — single-threaded over the dir. Invalidate followed
    * by a rebuild is safe only with NO concurrent consumers of `dir`'s
    * artifacts: the rebuild's `Scratch.fresh` DELETES the old artifact
    * dir first, so a concurrent `path()` caller that obtained the old
    * path just before the invalidate may still be mid-read of files the
    * rebuild removes. The promise map serializes BUILDERS, not readers —
    * it cannot protect a reader holding an already-returned path. The
    * harnesses that call this ([[graft.ScaleStress]]'s transient
    * resample) run gates strictly sequentially over the dir, which is
    * the only supported use. */
  def invalidate(dir: String): Int = {
    val canon = new java.io.File(dir).getCanonicalPath
    val done = paths.toSeq.collect {
      case (k @ (_, `canon`, _, _), p) if p.isCompleted => (k, p)
    }
    done.foreach { case (k, p) => paths.remove(k, p) }
    done.size
  }

  /** Number of COMPLETED memo entries currently registered for `dir`
    * (all kinds, all applications) — the "rebuilt" side of the resample
    * ledger: [[graft.ScaleStress]] logs `memos_dropped` (from
    * [[invalidate]]) against this count after the re-measure, so the
    * residual (dropped − rebuilt) the later plan-audit sweep silently
    * pays to rebuild is attributable in the artifact. */
  def entryCount(dir: String): Int = {
    val canon = new java.io.File(dir).getCanonicalPath
    paths.count { case ((_, d, _, _), p) => d == canon && p.isCompleted }
  }
}
