package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.TrainingDataPipeline
import graft.registers.Registers

/** Unit specs for the composed curation pipeline and register pivot. */
class PipelineSpec extends AnyFunSuite with SparkSpec {

  test("curation: quality gate, exact dups, cluster reps, stats") {
    val s = spark; import s.implicits._
    // 6 docs: d1=d2 exact dups; d3~d4 near dups (same text, but we inject
    // the pair explicitly); d5 ok; d6 too short
    val docs = Seq(
      (1L, "a b c d e", "en", 9L),
      (2L, "a b c d e", "en", 9L),   // exact dup of 1 → dropped
      (3L, "f g h i j", "en", 9L),
      (4L, "f g h i k", "en", 9L),   // near dup of 3 (via injected pair)
      (5L, "x y z w v", "de", 9L),
      (6L, "too short", "en", 9L))   // quality-gated (2 words)
      .toDF("doc_id", "text", "lang", "n_chars")
    val pairs = (survivors: org.apache.spark.sql.DataFrame) => {
      val s2 = s; import s2.implicits._
      // injected near-dup pair; only valid if both survived
      val p = Seq((3L, 4L)).toDF("d1", "d2")
      p.join(survivors.select(col("doc_id").as("d1")), "d1")
        .join(survivors.select(col("doc_id").as("d2")), "d2")
    }
    val out = TrainingDataPipeline.curate(docs, pairs, minWords = 3, maxWords = 10)
      .orderBy("lang")
      .as[(String, Long, Long, Double)].collect().toSeq
    // survivors: d1 (exact rep), d3 (cluster rep), d5 → en: 2 docs/10 tokens
    assert(out == Seq(("de", 1L, 5L, 9.0), ("en", 2L, 10L, 9.0)))

    // the 100 TB persistence path: a REAL checkpoint of the survivor set
    // (cheap-storage artifact, no executor-memory pinning) must run the
    // same flow end-to-end with identical results
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_curate_ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    val outCkpt = TrainingDataPipeline.curate(docs, pairs,
        minWords = 3, maxWords = 10,
        cacheMode = TrainingDataPipeline.Checkpoint)
      .orderBy("lang")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(outCkpt == out, "checkpoint mode must match cache mode exactly")
    graft.Scratch.deleteRec(ckptDir.toFile)
  }

  test("register pivot: explicit values, zero-fill, grand total") {
    val s = spark; import s.implicits._
    val facts = Seq(("a", "t1", 10.0), ("a", "t2", 5.0), ("b", "t1", 1.0))
      .toDF("g", "tax", "amt")
    val out = Registers.pivotRegister(facts, col("g"), col("tax"),
        Seq("t1", "t2"), col("amt"))
      .as[(String, Double, Double)].collect().toSeq
    assert(out == Seq(
      ("(total)", 11.0, 5.0), ("a", 10.0, 5.0), ("b", 1.0, 0.0)))
  }
}
