package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AsOfJoin, DupClusters, RangeJoin}

/** Edge-case specs for the standalone operators (gate queries cover the
  * happy paths against DuckDB; these pin the corners). */
class OperatorsSpec extends AnyFunSuite with SparkSpec {

  private def ts(sec: Int): Timestamp = new Timestamp(1700000000000L + sec * 1000L)

  test("as-of join: no-earlier-right yields null, equal ts matches") {
    val s = spark; import s.implicits._
    val left = Seq((1L, ts(10), 100L, 1.0), (1L, ts(5), 101L, 2.0), (2L, ts(1), 102L, 3.0))
      .toDF("k", "ts", "event_id", "lv")
    val right = Seq((1L, ts(5), 900L, 50.0), (1L, ts(8), 901L, 60.0))
      .toDF("k", "ts", "event_id", "rv")
    val out = AsOfJoin.asOf(left, right, "k", "ts", "event_id",
        payload = Seq("lv"), rightCols = Seq("rv"))
      .select("k", "lv", "rv").as[(Long, Double, Option[Double])].collect().toSet
    assert(out == Set(
      (1L, 1.0, Some(60.0)), // ts=10 → latest right at ts=8
      (1L, 2.0, Some(50.0)), // ts=5 → equal-ts right matches (<=)
      (2L, 3.0, None)))      // no right rows for key 2
  }

  test("as-of join: carried columns all come from the SAME latest right row") {
    val s = spark; import s.implicits._
    val left = Seq((1L, ts(10), 100L, 1.0)).toDF("k", "ts", "event_id", "lv")
    // latest right row (ts=8) has a NULL rv — it must stay NULL, not be
    // backfilled from the older ts=5 row (struct carry, not per-column)
    val right = Seq(
      (1L, ts(5), 900L, Option(50.0), Option("old")),
      (1L, ts(8), 901L, Option.empty[Double], Option("new")))
      .toDF("k", "ts", "event_id", "rv", "tag")
    val out = AsOfJoin.asOf(left, right, "k", "ts", "event_id",
        payload = Seq("lv"), rightCols = Seq("rv", "tag"))
      .select("rv", "tag").as[(Option[Double], Option[String])].collect().toSeq
    assert(out == Seq((None, Some("new"))))
  }

  test("range join: bucket-boundary intervals and points match exactly") {
    val s = spark; import s.implicits._
    val points = Seq((1L, 8.0), (2L, 7.999), (3L, 16.0), (4L, 24.1)).toDF("id", "p")
    // [8, 16] spans buckets 1..2 at width 8; 24.1 outside
    val intervals = Seq(("iv", 8.0, 16.0)).toDF("name", "lo", "hi")
    val out = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", 8.0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 3L)) // inclusive bounds; 7.999 below, 24.1 outside
  }

  test("prefix regroup: recursion stops below threshold; short names stay put") {
    val s = spark; import s.implicits._
    // root n=4 >= 3 -> level 1 'a' (4 lines); 'a' >= 3 -> level 2 'ab'
    // (3 lines; the bare "a" is too short to extend); 'ab' >= 3 but no
    // name reaches level 3 -> stop. "xy" never groups (root is the only
    // sibling set and x-group has 1 line... emitted at level 1 since the
    // ROOT count gates level 1).
    val items = Seq(("a", 1.0), ("ab", 2.0), ("ab!", 3.0), ("abc", 4.0))
      .toDF("name", "v")
    val out = graft.operators.PrefixRegroup
      .recursiveGroups(items, "name", "v", threshold = 3)
      .as[(String, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out == Seq(
      ("a", 1L, 4L, 10.0),   // all four share 'a'
      ("ab", 2L, 3L, 9.0),   // "a" itself too short to reach level 2
      ("ab!", 3L, 1L, 3.0),  // 'ab' had 3 >= T, so level-3 groups emit
      ("abc", 3L, 1L, 4.0)))
    // below-threshold root: nothing groups
    val tiny = Seq(("a", 1.0), ("b", 2.0)).toDF("name", "v")
    assert(graft.operators.PrefixRegroup
      .recursiveGroups(tiny, "name", "v", threshold = 3).count() == 0)
  }

  test("dup clusters: transitivity across a chain, isolated pairs separate") {
    val s = spark; import s.implicits._
    // chain 1-2-3-4 plus pair 10-11
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L)).toDF("a", "b")
    val out = DupClusters.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(out(_) == 1L))
    assert(out(10L) == 10L && out(11L) == 10L)
  }

  test("cluster audit: densities within (0, 1e6], sizes reconcile with the clustering") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.01"
    val audit = graft.queries.DedupOps.q154(spark, sf).cache()
    assert(audit.filter(col("min_density_ppm") <= 0 ||
      col("max_density_ppm") > 1000000L).count() == 0L,
      "2E/n(n-1) of a connected component lies in (0, 1]")
    val members = audit
      .agg(sum(col("cluster_size") * col("n_clusters"))).head().getLong(0)
    val clustered = graft.queries.DedupOps.q59(spark, sf).count()
    assert(members == clustered,
      "every clustered document appears in exactly one size bucket")
    audit.unpersist()
  }

  test("fifo valuation: allocation matches hand-walked FIFO, pairs exactly once") {
    val s = spark; import s.implicits._
    import graft.operators.FifoValuation
    // key 7: layers 5@$1, 3@$2, 4@$3 (in that order); outs consume 6 then 4.
    // Hand FIFO: out A(6) <- 5 from L1 + 1 from L2; out B(4) <- 2 from L2 +
    // 2 from L3; remaining: L3 keeps 2.
    val ins0 = Seq((7L, 1L, 5L, 100L), (7L, 2L, 3L, 200L), (7L, 3L, 4L, 300L))
      .toDF("k", "in_id", "q", "ucc")
    val outs0 = Seq((7L, 10L, 6L), (7L, 11L, 4L)).toDF("k", "out_id", "q")
    val ins = FifoValuation.cumInterval(ins0, col("k"), Seq(col("in_id")), col("q"))
    val outs = FifoValuation.cumInterval(outs0, col("k"), Seq(col("out_id")), col("q"))
      .drop("ucc")
    // bucketWidth 2 << interval lengths forces multi-bucket spans; the
    // overlap-start rule must still emit each pair exactly once
    val pairs = FifoValuation.allocate(ins.drop("q"), outs.drop("q"), "k", bucketWidth = 2)
      .select($"out_id", $"in_id", $"__matched").as[(Long, Long, Long)]
      .collect().toSet
    assert(pairs == Set((10L, 1L, 5L), (10L, 2L, 1L), (11L, 2L, 2L), (11L, 3L, 2L)))
    // remaining: consumed=10 of 12 -> L3 keeps 2 => value 2*3.00
    val rem = FifoValuation.remaining(ins, "k",
      outs0.groupBy($"k").agg(sum($"q").as("consumed")), "consumed")
      .select($"in_id", $"__rem").as[(Long, Long)].collect().toMap
    assert(rem == Map(1L -> 0L, 2L -> 0L, 3L -> 2L))
    // over-consumption clamps to zero everywhere
    val over = FifoValuation.remaining(ins, "k",
      Seq((7L, 99L)).toDF("k", "consumed"), "consumed")
      .agg(sum($"__rem")).as[Long].head()
    assert(over == 0L)
    // a key with no outs at all keeps every layer (left join semantics)
    val keep = FifoValuation.remaining(ins, "k",
      Seq((8L, 5L)).toDF("k", "consumed"), "consumed")
      .agg(sum($"__rem")).as[Long].head()
    assert(keep == 12L)
  }

  test("fifo allocation conserves quantity against the closed form (randomized)") {
    val s = spark; import s.implicits._
    import graft.operators.FifoValuation
    val rnd = new scala.util.Random(42)
    val ins0 = for {
      k <- Seq(1L, 2L, 3L); i <- 0 until rnd.nextInt(6)
    } yield (k, k * 100 + i, 1L + rnd.nextInt(9))
    val outs0 = for {
      k <- Seq(1L, 2L, 3L); i <- 0 until rnd.nextInt(6)
    } yield (k, k * 1000 + i, 1L + rnd.nextInt(9))
    val ins = FifoValuation.cumInterval(
      ins0.toDF("k", "id", "q"), col("k"), Seq(col("id")), col("q"))
      .withColumnRenamed("id", "in_id").drop("q")
    val outs = FifoValuation.cumInterval(
      outs0.toDF("k", "id", "q"), col("k"), Seq(col("id")), col("q"))
      .withColumnRenamed("id", "out_id").drop("q")
    val pairs = FifoValuation.allocate(ins, outs, "k", bucketWidth = 4)
      .select($"k", $"out_id", $"in_id", $"__matched")
      .as[(Long, Long, Long, Long)].collect()
    // each (out, layer) pair appears at most once
    assert(pairs.map(p => (p._2, p._3)).distinct.length == pairs.length)
    val totalIn = ins0.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val totalOut = outs0.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // per out: allocation == overlap of its interval with [0, total_in)
    def cums(xs: Seq[(Long, Long, Long)]) = xs.groupBy(_._1).flatMap {
      case (k, rows) =>
        var c = 0L
        rows.sortBy(_._2).map { r => val s0 = c; c += r._3; (r._2, (k, s0, c)) }
    }
    for ((oid, (k, os, oe)) <- cums(outs0)) {
      val got = pairs.filter(_._2 == oid).map(_._4).sum
      assert(got == math.max(0L, math.min(oe, totalIn.getOrElse(k, 0L)) - os),
        s"out $oid")
    }
    // per layer: consumption == overlap of its interval with [0, total_out)
    for ((iid, (k, cs, ce)) <- cums(ins0)) {
      val got = pairs.filter(_._3 == iid).map(_._4).sum
      assert(got == math.max(0L, math.min(ce, totalOut.getOrElse(k, 0L)) - cs),
        s"in $iid")
    }
  }

  test("traceability: BFS shortest depth, cycle-safe, maxHops honored") {
    val s = spark; import s.implicits._
    import graft.operators.Traceability
    // diamond 1->2->4, 1->3->4 (4 first reached at depth 2 via both), plus
    // a cycle 4->1 back to the seed, and a long tail 4->5->6
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val out = Traceability.reach(edges, Seq(Tuple1(1L)).toDF("id"), maxHops = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 1L),
      (1L, 4L, 2L), (1L, 5L, 3L), (1L, 6L, 4L)))
    // bound=0 forces the distributed label-propagation loop the 100 TB
    // graphs take — same result as the driver fast path above
    val outIter = Traceability.reach(edges, Seq(Tuple1(1L)).toDF("id"),
        maxHops = 10, smallGraphBound = 0L)
      .as[(Long, Long, Long)].collect().toSet
    assert(outIter == out)
    // maxHops truncates the walk
    val shallow = Traceability.reach(edges, Seq(Tuple1(1L)).toDF("id"), maxHops = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(shallow.map(_._2) == Set(1L, 2L, 3L, 4L))
    // two seeds trace independently (per-root visited)
    val two = Traceability.reach(edges,
      Seq(Tuple1(1L), Tuple1(5L)).toDF("id"), maxHops = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(two.filter(_._1 == 5L) == Set((5L, 5L, 0L), (5L, 6L, 1L)))
    assert(two.filter(_._1 == 1L).size == 6)
  }

  test("changelog apply: create/write/unlink algebra, zero-count keys drop") {
    val s = spark; import s.implicits._
    import graft.cdc.ChangelogApply
    val base = Seq((1L, 100L, 2L), (2L, 50L, 1L), (3L, 10L, 1L))
      .toDF("k", "total", "n")
    val log = Seq(
      (1L, "write", 40L, 55L),   // +15, n unchanged
      (2L, "unlink", 50L, 0L),   // key 2 drops entirely
      (3L, "create", 0L, 5L),    // +5, +1
      (9L, "create", 0L, 77L))   // brand-new key
      .toDF("k", "op", "old_value", "new_value")
    val out = ChangelogApply.applySums(base, log, "k")
      .as[(Long, Long, Long)].collect()
      .map { case (k, t, n) => k -> ((t, n)) }.toMap
    assert(out == Map(1L -> ((115L, 2L)), 3L -> ((15L, 2L)), 9L -> ((77L, 1L))))
  }

  test("upsert merge: update, insert, tombstone, and no-op tombstone for a missing key") {
    val s = spark; import s.implicits._
    import graft.operators.Upsert
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val updates = Seq(
      (2L, "B", false),   // update
      (4L, "d", false),   // insert
      (3L, "x", true),    // delete
      (9L, "x", true))    // tombstone for a key not in base: no-op
      .toDF("k", "v", "__del")
    val out = Upsert.merge(base, updates, "k", "__del")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 4L -> "d"))
  }

  test("kmeans quantizer: separated blobs recovered, deterministic, k bounded") {
    val s = spark; import s.implicits._
    import graft.operators.KMeansQuantizer
    // two tight blobs far apart in 4-d; seeds 0 and 1 land one per blob
    def v(base: Float, j: Int): Array[Float] =
      Array(base + j * 0.01f, base, base, base)
    val rows = (0 until 6).map(i => (i.toLong, v(if (i % 2 == 0) 0f else 10f, i)))
    val vecs = rows.toDF("vec_id", "embedding")
    val (assign, centroids) = KMeansQuantizer.train(vecs, k = 2, iterations = 2)
    val a = assign.as[(Long, Long)].collect().toMap
    assert(a.keySet == (0L until 6L).toSet)           // every vector assigned
    assert(a.values.toSet.size == 2)                  // both cells survive
    // blob membership: evens together, odds together
    assert(Set(0L, 2L, 4L).map(a) != Set(1L, 3L, 5L).map(a))
    assert(Set(0L, 2L, 4L).map(a).size == 1 && Set(1L, 3L, 5L).map(a).size == 1)
    assert(centroids.count() == 2)
    // rerun is bit-identical (the determinism contract)
    val (_, centroids2) = KMeansQuantizer.train(vecs, k = 2, iterations = 2)
    assert(centroids.as[(Long, Seq[Double])].collect().toMap ==
      centroids2.as[(Long, Seq[Double])].collect().toMap)
  }

  test("traceability matches a reference BFS on random graphs, both paths") {
    val s = spark; import s.implicits._
    import graft.operators.Traceability
    // deterministic LCG (the CC test's discipline) over cyclic multigraphs
    var seed = 98765L
    def next(bound: Int): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (((seed >>> 33) % bound + bound) % bound).toInt
    }
    for ((nEdges, maxHops) <- Seq((12, 3), (50, 4), (150, 10))) {
      val edges = (0 until nEdges).map(_ => (next(25).toLong, next(25).toLong))
      val seedIds = (0 until 3).map(_ => next(25).toLong).distinct
      // driver-side reference BFS (shortest hop depth, per root)
      val adj = edges.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      val expected = seedIds.flatMap { root =>
        val depth = scala.collection.mutable.Map(root -> 0L)
        var frontier = List(root)
        var d = 0L
        while (d < maxHops && frontier.nonEmpty) {
          d += 1
          frontier = for {
            n <- frontier; m <- adj.getOrElse(n, Nil)
            if !depth.contains(m) && { depth(m) = d; true }
          } yield m
        }
        depth.map { case (node, dd) => (root, node, dd) }
      }.toSet
      val edgeDf = edges.toDF("src", "dst")
      val seedDf = seedIds.map(Tuple1(_)).toDF("id")
      val fast = Traceability.reach(edgeDf, seedDf, maxHops)
        .as[(Long, Long, Long)].collect().toSet
      assert(fast == expected, s"nEdges=$nEdges (driver path)")
      val dist = Traceability.reach(edgeDf, seedDf, maxHops, smallGraphBound = 0L)
        .as[(Long, Long, Long)].collect().toSet
      assert(dist == expected, s"nEdges=$nEdges (distributed path)")
    }
  }

  test("connected components matches union-find on random graphs") {
    val s = spark; import s.implicits._
    // deterministic LCG so the three shapes (sparse, chains, dense-ish)
    // are reproducible
    var seed = 12345L
    def next(bound: Int): Int = {
      seed = (seed * 6364136223846793005L + 1442695040888963407L)
      (((seed >>> 33) % bound + bound) % bound).toInt
    }
    for (nEdges <- Seq(10, 40, 120)) {
      val edges = (0 until nEdges).map(_ => (next(30).toLong, next(30).toLong))
      // driver-side union-find oracle
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      // both paths against the same oracle: the default hits the
      // small-graph union-find fast path; bound=0 forces the iterative
      // label-propagation loop the 100 TB edge sets take
      val got = graft.operators.DupClusters
        .connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"nEdges=$nEdges (fast path)")
      val gotIter = graft.operators.DupClusters
        .connectedComponents(edges.toDF("a", "b"), smallGraphBound = 0L)
        .as[(Long, Long)].collect().toMap
      assert(gotIter == expected, s"nEdges=$nEdges (iterative path)")
    }
  }

  test("operators degrade cleanly on empty inputs") {
    val s = spark; import s.implicits._
    import graft.operators._
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DupClusters.connectedComponents(noEdges).count() == 0)
    assert(Traceability.reach(
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq(Tuple1(5L)).toDF("id"), 3).count() == 1) // seed still labeled
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.queries.DedupOps.jaccardPairs(noDocs, 0.5).count() == 0)
    val emptyCum = FifoValuation.cumInterval(
      Seq.empty[(Long, Long, Long)].toDF("k", "seq", "q"),
      col("k"), Seq(col("seq")), col("q"))
    assert(FifoValuation.allocate(emptyCum, emptyCum, "k", 64).count() == 0)
    assert(graft.cdc.ChangelogApply.applySums(
      Seq.empty[(Long, Long, Long)].toDF("k", "total", "n"),
      Seq.empty[(Long, String, Long, Long)].toDF("k", "op", "old_value", "new_value"),
      "k").count() == 0)
    val (a, c) = KMeansQuantizer.train(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), 4, 2)
    assert(a.count() == 0 && c.count() == 0)
  }

  test("suite memos round-trip the builders' outputs exactly") {
    // the q108/q33/q115 gates read ArtifactMemo parquet instead of
    // rebuilding the dedup indexes; this pins memo == fresh builder so a
    // keying or round-trip bug cannot silently serve another dir's (or a
    // stale) artifact
    val s = spark
    val sfDir = "/root/testdata/sf0.001"
    val docs = Tables.documents(s, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    try {
      assert(rows(graft.queries.PairMemo.pairs(s, sfDir)) ==
        rows(graft.queries.DedupOps.jaccardPairs(docs, 0.5)))
      assert(rows(graft.queries.PairMemo.minhashCandidates(s, sfDir)) ==
        rows(graft.queries.DedupOps.minhashCandidates(docs)))
    } finally s.catalog.clearCache() // the lazy builders' index caches
    // have no reachable release thunk — drop them rather than pin the
    // shingle/signature frames for the rest of the suite
  }

  test("streaming hourly twin agrees with the batch hourly query") {
    val s = spark; import s.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val ev = Tables.events(s, sfDir)
    val streamShaped = graft.streaming.EventsStream.hourlyCounts(ev)
      .select(date_format(col("hour_start"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("n"), col("total"))
    val batch = graft.queries.RelationalB.q30(s, sfDir)
    val a = streamShaped.as[(String, String, Long, Double)].collect().toSet
    val b = batch.as[(String, String, Long, Double)].collect().toSet
    assert(a == b)
  }

  test("quality audit: null predicate counts as violation; unique + FK math") {
    import graft.operators.QualityAudit._
    val s = spark; import s.implicits._
    val fact = Seq(
      (1L, Some(5.0), 10L),   // clean
      (2L, None, 10L),        // null value → range rule can't prove → violation
      (2L, Some(-1.0), 99L),  // dup id, out of range, orphan FK
      (3L, Some(7.0), 11L)
    ).toDF("id", "value", "fk")
    val dim = Seq(10L, 11L).toDF("k")
    val rows = audit(fact, Seq(
        RowRule("range", col("value").between(0.0, 100.0)),
        UniqueRule("uniq", Seq(col("id"))),
        FkRule("fk", Seq(col("fk")), dim, Seq(col("k")))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set(("range", 4L, 2L), ("uniq", 4L, 1L), ("fk", 4L, 1L)))
  }

  test("z-order: bijective on the 8-bit grid and round-trips via zdecode") {
    import graft.functions.ZOrder
    val s = spark; import s.implicits._
    val pts = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val out = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.zvalue(col("x"), col("y"), 8).as("z"))
      .as[(Long, Long, Long)].collect()
    assert(out.map(_._3).distinct.length == pts.length) // injective
    out.foreach { case (x, y, z) =>
      assert(ZOrder.zdecode(z, 8) == ((x, y)))
      assert(z >= 0 && z < (1L << 16))
    }
  }

  test("quality audit: FK-only suite and empty rule list") {
    import graft.operators.QualityAudit._
    val s = spark; import s.implicits._
    val fact = Seq((1L, 10L), (2L, 12L)).toDF("id", "fk")
    val dim = Seq(10L).toDF("k")
    val fkOnly = audit(fact, Seq(FkRule("fk", Seq(col("fk")), dim, Seq(col("k")))))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fkOnly == Set(("fk", 2L, 1L)))
    assert(audit(fact, Seq.empty).count() == 0)
  }

  test("traceability leaves no cached RDDs behind on either path") {
    // r10, VERDICT r9 next-list #6: a whole-suite single-session bench would
    // feel a leaked edge cache. The result's OWN localCheckpoint blocks are
    // legitimate retained state (the caller holds them; the ContextCleaner
    // reclaims them on GC) — what must never linger is a cache()d RDD the
    // operator created and forgot, on EITHER path, exit taken early or not.
    val s = spark; import s.implicits._
    import graft.operators.Traceability
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 2L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    def newPersistent(base: Set[Int]) =
      s.sparkContext.getPersistentRDDs.filter { case (id, _) => !base(id) }
    // driver fast path: no caching at all
    val b1 = s.sparkContext.getPersistentRDDs.keySet.toSet
    Traceability.reach(edges, seeds, maxHops = 10).count()
    assert(newPersistent(b1).isEmpty, "driver path left persistent RDDs")
    // distributed path, frontier-drained exit (isEmpty at hop 4)
    val b2 = s.sparkContext.getPersistentRDDs.keySet.toSet
    Traceability.reach(edges, seeds, maxHops = 10, smallGraphBound = 0L).count()
    val lingering2 = newPersistent(b2).values.filterNot(org.apache.spark.rdd.GraftRddInspect.isLocalCheckpoint)
    assert(lingering2.isEmpty, s"distributed drained-exit leaked: $lingering2")
    // distributed path, maxHops exit (the early-return branch that forces
    // the last lazy checkpoint before dropping the edge cache)
    val b3 = s.sparkContext.getPersistentRDDs.keySet.toSet
    Traceability.reach(edges, seeds, maxHops = 2, smallGraphBound = 0L).count()
    val lingering3 = newPersistent(b3).values.filterNot(org.apache.spark.rdd.GraftRddInspect.isLocalCheckpoint)
    assert(lingering3.isEmpty, s"distributed maxHops-exit leaked: $lingering3")
  }

  test("q169 pair counts equal q34's emitted pairs aggregated by distance") {
    // r10: q169 counts pairs in CLOSED FORM from the signature histogram
    // (ΣC(n,2) at dist 0, Σ n_v·n_{v⊕bit} over one-bit neighbors at
    // dist 1) — a completely different computation path from q34's
    // pigeonhole enumeration. The two must agree exactly on real data
    // (sf0.001), or the ×100 exponent q169 carries would be measuring a
    // different semantics, not a smarter count of the same one.
    val s = spark; import s.implicits._
    val d = "/root/testdata/sf0.001"
    val full = graft.queries.DedupOps.q34(s, d)
      .groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))
      .as[(Long, Long)].collect().toMap
    val counted = graft.queries.DedupOps.q169(s, d)
      .as[(Long, Long)].collect().toMap
    assert(counted == full, s"q169=$counted vs q34-agg=$full")
    assert(counted.values.sum > 0, "fixture produced no near-dup pairs")
  }
}
