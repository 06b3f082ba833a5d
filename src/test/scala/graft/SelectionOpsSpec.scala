package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior contracts of the data-SELECTION operators
  * ([[graft.queries.SelectionOps]]) that the DuckDB parity gates cannot
  * express: the Bloom screen's one-sided error, the DSIR selection's
  * shard-budget invariant, and the plan shapes that carry both to 100 TB. */
class SelectionOpsSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("bloom screen has NO false negatives and really bites") {
    val r = queries.SelectionOps.q144(spark, sf)
      .agg(sum(when(col("n_bloom_hit") < col("n_exact_hit"), 1L).otherwise(0L))
          .as("fn"),
        sum(col("n_exact_hit")).as("hits"))
      .head()
    assert(r.getLong(0) == 0L, "a true Bloom filter cannot miss a member")
    assert(r.getLong(1) > 0L, "the fixture must exercise real block overlap")
  }

  test("bloom positionCols matches the row-side positions for non-negative hashes") {
    // positionCols is the ONE column-side source of the double-hash math
    // (q144 batch + q161 streaming fixture); this pins it bit-for-bit to
    // the executor/driver row-side BloomStream.positions the screen and
    // fold actually run — a drift between them breaks bitmap parity
    val s = spark; import s.implicits._
    val m = queries.SelectionOps.BloomBits
    val k = queries.SelectionOps.BloomHashes
    val hs = Seq(0L, 1L, 7777L, m - 1, m, m + 1, 2654435761L, Long.MaxValue)
    val colSide = hs.toDF("h")
      .select(col("h"), array(
        graft.streaming.BloomStream.positionCols(col("h"), m, k): _*).as("ps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    hs.foreach { h =>
      assert(colSide(h) == graft.streaming.BloomStream.positions(h, m, k),
        s"position math diverged at h=$h")
    }
  }

  test("bloom probe is map-side: broadcast bitmap literal, no probe-side shuffle join on positions") {
    val p = queries.SelectionOps.q144(spark, sf)
      .queryExecution.executedPlan.toString
    // the position test must be an expression over the array literal, not
    // a join against a positions table
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("dsir selection never exceeds the per-shard budget") {
    val over = queries.SelectionOps.q143(spark, sf)
      .filter(col("selected") === 1L)
      .groupBy(col("lang"), col("source")).count()
      .filter(col("count") > queries.SelectionOps.SelectPerShard)
      .count()
    assert(over == 0L)
  }

  test("dsir weights favor the target slice: en docs outscore non-en on average") {
    val r = queries.SelectionOps.q143(spark, sf)
      .groupBy(col("lang") === "en")
      .agg(avg(col("score").cast("double") / col("n_bigrams")).as("s"))
      .collect().map(x => (x.getBoolean(0), x.getDouble(1))).toMap
    assert(r(true) > r(false),
      "per-bigram importance must rank the target distribution higher")
  }

  test("semantic dedup keeps at least one representative per cell") {
    val r = queries.SelectionOps.q145(spark, sf)
    assert(r.filter(col("n_kept") < 1L).count() == 0L,
      "keep-lowest-id can never empty a cell")
    assert(r.filter(col("n_kept") + col("n_removed") =!= col("n_vectors"))
      .count() == 0L)
  }

  test("coreset returns exactly k centers covering every vector") {
    val r = queries.SelectionOps.q146(spark, sf).collect()
    assert(r.length == queries.SelectionOps.CoresetK)
    val total = Tables.embeddings(spark, sf).count()
    assert(r.map(_.getLong(1)).sum == total,
      "every vector must be assigned to exactly one center")
  }

  test("pq codebooks discriminate: every block uses >1 code, codes < k") {
    val r = queries.SelectionOps.q147(spark, sf).cache()
    for (b <- 0 until queries.SelectionOps.PqBlocks) {
      val distinct = r.select(col(s"code$b")).distinct().collect().map(_.getLong(0))
      assert(distinct.length > 1, s"block $b collapsed to one centroid")
      assert(distinct.forall(c => c >= 0 && c < 500),
        s"block $b code out of the seeded id range")
    }
    assert(r.filter(col("err2") < 0).count() == 0)
    r.unpersist()
  }

  test("systematic sampler's slots always sum to K per shard") {
    val bad = queries.SelectionOps.q149(spark, sf)
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_slots")).as("slots"))
      .filter(col("slots") =!= queries.SelectionOps.SamplePerShard)
      .count()
    assert(bad == 0L, "systematic PPS must allocate exactly K slots per shard")
  }

  test("ivf-pq search really bounds its candidates via the probed cells") {
    val total = Tables.embeddings(spark, sf).count()
    val r = queries.SelectionOps.q151(spark, sf)
      .agg(max(col("n_cand")).as("mx"), min(col("n_cand")).as("mn")).head()
    assert(r.getLong(0) < total,
      "multiprobe must score a strict subset of the corpus")
    assert(r.getLong(1) > 0L, "2-of-8 cells can never be empty on this fixture")
  }

  test("k-anon release: no published cell under k, totals reconcile") {
    val r = queries.SelectionOps.q152(spark, sf).cache()
    val k = queries.SelectionOps.KAnonMin
    assert(r.filter(col("lang") =!= "_suppressed_" && col("n_docs") < k)
      .count() == 0L, "a released cell must describe at least k documents")
    val released = r.agg(sum(col("n_docs"))).head().getLong(0)
    val total = Tables.documents(spark, sf).count()
    assert(released == total, "suppression must pool, not drop")
    r.unpersist()
  }

  test("temperature mix lifts low-resource languages, shrinks the head") {
    val r = queries.SelectionOps.q153(spark, sf).collect()
      .map(x => x.getString(0) -> x.getLong(4)).toMap
    assert(r("en") < 1000L, "the dominant language must downsample")
    assert(r.filterKeys(_ != "en").values.forall(_ > 1000L),
      "every tail language must upsample")
  }

  test("dsir weight dim is broadcast against the per-doc features") {
    val p = queries.SelectionOps.q143(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the <=1024-bucket weight table must broadcast, not shuffle the features")
  }

  test("coreset centers switch from plan literals to a broadcast frame " +
      "above the k*d bound, with identical assignments") {
    val v = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("vd"))
      .filter(col("vec_id") < 200)
    // two real centers lifted from the data (bit-identical on both paths)
    val sel = v.filter(col("vec_id").isin(3L, 17L))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val lit = queries.SelectionOps.nearestCenter(v, sel) // 2*64 <= 4096
    val bc = queries.SelectionOps.nearestCenter(v, sel, maxLiteralElems = 1)
    val litP = lit.queryExecution.executedPlan.toString
    val bcP = bc.queryExecution.executedPlan.toString
    assert(!litP.contains("BroadcastExchange"),
      "gate-scale centers must inline as literals (zero exchange)")
    assert(bcP.contains("BroadcastExchange"),
      "above the bound the centers frame must broadcast")
    val a = lit.select("vec_id", "cid", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = bc.select("vec_id", "cid", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b, "literal and broadcast assignment paths must agree exactly")
  }
}
