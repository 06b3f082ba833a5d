package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure discipline (r6 postmortem): a query that throws must yield a
  * RED row, never an ABSENT one — in round 6, 21 construction-time crashes
  * simply vanished from the driver's compare because nothing was written.
  * Now every failure writes a one-row parquet `{_graft_error: "..."}` in
  * the query's slot: the compare reads it fine, the schema can never match
  * an oracle, and the error text is visible in the artifact itself. A
  * `_verify_status.json` summary (n_failed + names) rides along for humans
  * and for scripts/crosscheck.py. */
object Verify {

  /** Runs each query into `outDir/<name>`; returns the failed names.
    * Package-visible so the failure contract is spec-testable. */
  private[graft] def run(
      spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String, outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val failed =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
          import spark.implicits._
          val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
          Seq(msg).toDF("_graft_error").coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          Some(name)
        } finally {
          // release per-query state between gates: clearCache() drops
          // CacheManager entries, and the GC nudge lets the ContextCleaner
          // reclaim FramePin localCheckpoint blocks (r11 — those bypass the
          // CacheManager; without the nudge, pinned blocks from ~170
          // dropped frames accumulate until a natural driver GC)
          spark.catalog.clearCache()
          System.gc()
        }
      failed
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, names) => (s, o, Some(names.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SessionConf.localSession(cpus)
    // Schema-contract preflight: on drift, ONE message names the drifted
    // column(s) up front — then still run the suite, so every gate gets
    // its red row instead of the round dying with nothing written.
    try SchemaContract.preflight(spark, sfDir, "verify")
    catch { case e: IllegalStateException => System.err.println(e.getMessage) }
    val failed = run(spark,
      SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) },
      sfDir, outDir)
    // a JSON string: a tab or CR in an oracle's SQL left unescaped would
    // make the compare's json.load fail and zero the run's correctness
    def q(s: String): String = "\"" + Bench.jstr(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_verify_status.json"),
      s"""{"n_failed":${failed.size},"failed":${failed.map(q).mkString("[", ",", "]")}}""")
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} FAILED: ${failed.mkString(", ")}")
    spark.stop()
  }
}
