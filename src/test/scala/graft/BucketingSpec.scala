package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Co-located joins via bucketing (build brief: "repartition()/bucketing
  * for co-located joins"): writing both sides bucketed on the join key
  * lets the sort-merge join read buckets directly — NO shuffle exchange on
  * either side. At 100 TB this is the difference between re-shuffling the
  * fact table per join and a scan-local join. */
class BucketingSpec extends AnyFunSuite with SparkSpec {

  test("join of two tables bucketed on the key runs with zero shuffles") {
    val s = spark; import s.implicits._
    val facts = (1 to 1000).map(i => (i.toLong % 50, i.toLong, i * 1.5))
      .toDF("k", "id", "v")
    val dim = (0L until 50L).map(k => (k, s"name_$k")).toDF("k", "nm")
    facts.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("b_facts")
    dim.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("b_dim")
    // force the SMJ path (tiny fixture would otherwise broadcast)
    SessionConf.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = s.table("b_facts").join(s.table("b_dim"), "k")
      val agg = j.groupBy("k").agg(count(lit(1)).as("n"), max("nm").as("nm"))
      agg.collect() // materialize so AQE finalizes the plan
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      // and the result is the plain join's result
      assert(j.count() == 1000)
    }
  }
}
