package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The one Spark application of a test JVM: a `local[4]` root session,
  * built on first use and stopped by Spark's own shutdown hook, never by
  * a spec. Its warehouse dir is scratch, for the specs that write tables.
  * Four threads, not two: the all-gate sweeps are thread-bound (alone on
  * a 4-vCPU host, CacheHygieneSpec took 344 s at `local[2]`, 191 s here). */
object SparkSpec {
  lazy val root: SparkSession = SessionConf.localSession("4",
    "spark.sql.warehouse.dir" -> Files.createTempDirectory("graft_warehouse").toString)
}

/** A spec's session is `root.newSession()`: SQL conf, temp views and
  * registered functions stay per spec, while the SparkContext, catalog
  * and CacheManager are shared. So `afterAll` fails, naming the spec, if
  * it leaves an active streaming query or a CacheManager entry behind. */
trait SparkSpec extends BeforeAndAfterAll { this: Suite =>

  protected lazy val spark: SparkSession = SparkSpec.root.newSession()

  /** Run `f` on the codegen path, or with `enabled = false` on the
    * interpreted one (no codegen factory, no whole-stage codegen). */
  protected def withCodegen[A](enabled: Boolean)(f: => A): A =
    if (enabled) f
    else SessionConf.scoped(spark, "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(f)

  override protected def afterAll(): Unit =
    try {
      val streams = spark.streams.active.map(q => Option(q.name).getOrElse(q.id.toString))
      assert(streams.isEmpty, s"$suiteName left streaming queries active: ${streams.mkString(", ")}")
      val cache = spark.sharedState.cacheManager
      val leaked = !cache.isEmpty
      cache.clearCache() // so the next spec is not blamed for this one's entries
      assert(!leaked, s"$suiteName left cached queries in the shared CacheManager")
    } finally super.afterAll()
}
