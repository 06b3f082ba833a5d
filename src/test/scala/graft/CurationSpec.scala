package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.CurationOps

/** Property specs for the round-3 curation operators (the DuckDB gates
  * cover value-level parity; these pin the invariants). */
class CurationSpec extends AnyFunSuite with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("seq packing conserves tokens and fills every non-tail sequence") {
    val s = spark; import s.implicits._
    val out = CurationOps.q101(s, sfDir).cache()
    val packed = out.agg(sum("n_tokens")).as[Long].head()
    val total = Tables.documents(s, sfDir)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(sum("n")).as[Long].head()
    assert(packed == total) // every token lands in exactly one sequence
    // within a shard, only the LAST sequence may be under budget
    val under = out.withColumn("mx", max("seq_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang", "source")))
      .filter(col("seq_id") < col("mx") &&
        col("n_tokens") =!= CurationOps.SeqBudget)
      .count()
    assert(under == 0)
    out.unpersist(): Unit
  }

  test("quota sample: at most 5 per stratum, deterministic across runs") {
    val a = CurationOps.q107(spark, sfDir)
    val mx = a.groupBy("lang", "source").count()
      .agg(max("count")).head().getLong(0)
    assert(mx <= 5)
    val r1 = a.collect().toSeq
    val r2 = CurationOps.q107(spark, sfDir).collect().toSeq
    assert(r1 == r2)
  }

  test("contamination: an exact copy of a benchmark doc is flagged") {
    val s = spark; import s.implicits._
    // doc 0 is benchmark (0 % 97 == 0); doc 1 repeats its text verbatim
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq((0L, txt), (1L, txt), (2L, "totally different words here now"))
      .toDF("doc_id", "text")
    val flagged = CurationOps.contaminationScreen(docs, col("doc_id") % 97 === 0)
      .filter(col("contaminated"))
      .select("doc_id").as[Long].collect().toSet
    assert(flagged == Set(1L))
  }

  test("json ingest splits malformed lines from valid rows") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toFile
    val f = new java.io.File(dir, "rows.jsonl")
    val pw = new java.io.PrintWriter(f)
    try {
      pw.println("""{"k": 1, "v": "a"}""")
      pw.println("""{"k": 2, "v": "b"}""")
      pw.println("""{"k": 3, "v":""") // truncated
    } finally pw.close()
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    val dest = new java.io.File(dir, "landed").getPath
    val (valid, corrupt) =
      graft.sources.JsonSource.ingest(spark, f.getPath, schema, dest)
    assert(valid == 2 && corrupt == 1)
    assert(spark.read.parquet(dest).count() == 2)
  }
}
