package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned parquet sink + retention (SURVEY §2.10: the reference's
  * auditlog autovacuum deletes log rows older than N days in chunks,
  * auditlog/models/autovacuum.py:16-37). Spark-first: the changelog lands
  * partitioned by day, so retention is DROPPING WHOLE PARTITION DIRECTORIES
  * — an O(partitions) metadata operation instead of a chunked DELETE scan,
  * and readers prune to the partitions they query. */
object PartitionedSink {

  /** Append `df` partitioned by the date of `tsCol` (day granularity). */
  def appendByDay(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("p_date", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.mode("append")
      .partitionBy("p_date")
      .parquet(path)

  /** Retention vacuum: drop partitions strictly older than `cutoff`
    * (yyyy-MM-dd). Returns the dropped partition names. */
  def dropOlderThan(spark: SparkSession, path: String, cutoff: String): Seq[String] = {
    val root = new java.io.File(path)
    val dropped = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("p_date="))
      .filter(_.getName.stripPrefix("p_date=") < cutoff)
    dropped.foreach(graft.Scratch.deleteRec)
    dropped.map(_.getName).toSeq.sorted
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Layout-optimized write: sort rows WITHIN each output file by
    * `sortCols` before writing. Parquet records per-row-group min/max
    * stats, so a sorted layout turns point/range predicates on the sort
    * key into row-group skips at read time — the poor man's clustering
    * (Delta OPTIMIZE ZORDER's 1-column case). A repartition on the sort
    * key first makes the GLOBAL range per file tight, not just locally
    * ordered. */
  def writeSorted(df: DataFrame, path: String, files: Int,
                  sortCols: String*): Unit =
    df.repartitionByRange(files, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(path)

  final case class CompactStats(filesBefore: Int, filesAfter: Int, rows: Long)

  /** Small-files compaction — the maintenance job every streaming/CDC sink
    * needs (each micro-batch appends a few files; a year of 1-minute
    * batches is half a million files whose open/footer cost dwarfs the
    * data). Rewrites `dir` into ceil(bytes/targetBytes) files with a
    * best-effort local-FS directory swap (two renames; a failure between
    * them restores the original from the backup). This contract is local-FS
    * only — on HDFS/S3 pair the rewrite with a commit protocol or a table
    * format's atomic swap instead. Row content is untouched. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long): CompactStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    def parquetFiles(d: java.io.File): Array[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val root = new java.io.File(dir)
    val before = parquetFiles(root)
    val totalBytes = before.map(_.length).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(dir)
    val rows = df.count()
    val tmp = new java.io.File(root.getParentFile, root.getName + ".compact-tmp")
    df.repartition(n).write.mode("overwrite").parquet(tmp.getPath)
    val bak = new java.io.File(root.getParentFile, root.getName + ".compact-bak")
    graft.Scratch.deleteRec(bak)
    // Best-effort local-FS swap (two renames, not atomic as a pair): if the
    // second rename fails, restore the original directory from the backup so
    // `dir` is never left without data. On HDFS/S3 use a committer instead.
    require(root.renameTo(bak), s"compact: could not move $dir aside")
    if (!tmp.renameTo(root)) {
      val restored = bak.renameTo(root)
      throw new IllegalStateException(
        s"compact: swap-in failed for $dir" +
          (if (restored) " (original restored)" else s" (original left at $bak)"))
    }
    graft.Scratch.deleteRec(bak)
    CompactStats(before.length, parquetFiles(root).length, rows)
  }
}
