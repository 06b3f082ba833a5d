package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Scale posture: each loader is a bare parquet scan — filters/projections
  * applied downstream are pushed into the scan by Catalyst (verify with
  * `.explain`: `PushedFilters`, `ReadSchema`). At 100 TB these would be
  * partitioned/bucketed tables; the query code below never assumes
  * single-file inputs.
  */
object Tables {
  /** Schema memo per parquet path (r18 optimization): a bare
    * `spark.read.parquet(path)` runs a schema-inference JOB on every call
    * (~95 ms measured on the test host), and the suite builds each table
    * frame hundreds of times per run — ~25 s of repeated footer reads per
    * bench child for schemas that cannot change mid-process (the driver
    * testdata is static). The first load of a path infers and memoizes;
    * every later load passes the SAME footer-derived schema explicitly
    * (~6 ms). Values and types are identical by construction — the schema
    * IS the file's. Keyed by full path: different dirs (sf tiers, scale
    * copies) memoize independently; nothing here applies to scratch
    * artifacts, which are read outside this loader. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaMemo.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** events.parquet has shipped with two `ts` encodings across driver
    * testdata generations, so the loader adapts on the OBSERVED type:
    *   - TIMESTAMP(NANOS): Spark's parquet reader rejects it
    *     ([PARQUET_TYPE_ILLEGAL]) unless read nanos-as-long, then converted
    *     to micros TimestampType (truncation matches DuckDB's ns→µs cast);
    *   - timestamp[us] without tz (current generation): arrives as
    *     TIMESTAMP_NTZ; cast to the session-UTC TimestampType the oracles
    *     assume — an identity re-tag of the wall-clock value under the
    *     UTC session every graft main pins, matching DuckDB's naive read.
    * Any third encoding fails HERE with the table+column named, not deep
    * inside 21 query plans (the round-6 drift failure mode).
    *
    * The schema is inferred with nanos-as-long scoped to the call, so the
    * session's conf is left as found. Only the nanos encoding sets it for
    * good: its scans read nanos-as-long again when they execute. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = SessionConf.scoped(s, NanosAsLong -> "true")(load(s, d, "events"))
    raw.schema("ts").dataType match {
      case LongType =>
        s.conf.set(NanosAsLong, "true")
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet encoding $other " +
          "(expected TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
