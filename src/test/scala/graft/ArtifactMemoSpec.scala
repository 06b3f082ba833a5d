package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Pins the ArtifactMemo single-builder election (ADVICE r5 medium: the
  * old getOrElseUpdate evaluated build() outside any lock, so two racing
  * first-callers could interleave Scratch.fresh's delete with the other's
  * write against the SAME deterministic dir). In package graft.queries —
  * the memo is private[queries] by design. */
class ArtifactMemoSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("concurrent first access elects exactly ONE builder; losers get its path") {
    val builds = new AtomicInteger(0)
    val go = new CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { _ =>
      val t = new Thread(() => {
        go.await()
        try results.add(ArtifactMemo.path(spark, dir, "spec_race") { out =>
          builds.incrementAndGet()
          Thread.sleep(100) // hold the build open so racers must block
          Files.writeString(Paths.get(out, "artifact.txt"), "ok")
          ()
        }): Unit
        catch { case e: Throwable => errors.add(e): Unit }
      })
      t.start(); t
    }
    go.countDown()
    threads.foreach(_.join(30000))
    assert(errors.isEmpty, s"racer threw: ${errors.peek()}")
    assert(builds.get() == 1, "exactly one thread must run build()")
    import scala.jdk.CollectionConverters._
    val paths = results.asScala.toSeq
    assert(paths.size == 8 && paths.distinct.size == 1,
      "every caller must observe the single winner's path")
    assert(Files.exists(Paths.get(paths.head, "artifact.txt")),
      "the published path must hold the completed artifact")
  }

  test("a failed build releases the key so a later caller can retry") {
    val boom = intercept[RuntimeException] {
      ArtifactMemo.path(spark, dir, "spec_retry")(_ =>
        throw new RuntimeException("boom"))
    }
    assert(boom.getMessage == "boom")
    val p = ArtifactMemo.path(spark, dir, "spec_retry") { out =>
      Files.writeString(Paths.get(out, "artifact.txt"), "ok"); ()
    }
    assert(Files.exists(Paths.get(p, "artifact.txt")),
      "the retry after a failed build must run and publish")
  }

  test("a corpus rewritten in place is rebuilt, never served its stale memo") {
    val s = spark; import s.implicits._
    val corpus = Files.createTempDirectory(Paths.get("target"), "memostale").toString
    def write(n: Int): Unit =
      (1 to n).toDF("id").write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    var builds = 0
    // the artifact records the row count of the corpus it was built from
    def consume(): Long = s.read.parquet(ArtifactMemo.path(s, corpus, "spec_stale") { out =>
      builds += 1
      s.read.parquet(s"$corpus/documents.parquet").groupBy().count()
        .write.parquet(s"$out/n")
    } + "/n").head().getLong(0)
    write(3)
    assert(consume() == 3 && consume() == 3 && builds == 1)
    write(5) // same dir, same kind, new content
    assert(consume() == 5, "the memo built from the old corpus was served")
    assert(builds == 2)
  }
}
