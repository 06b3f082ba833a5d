package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventsStream
import graft.streaming.EventsStream.{Event, SessionOut}
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaMeta, MediaRow}

/** Streaming + multimodal plumbing specs: incremental window aggregation
  * via MemoryStream, keyed state via mapGroupsWithState, and the
  * batch-shaped media feature extraction with the stub codec. */
class StreamingMultimodalSpec extends AnyFunSuite with SparkSpec {

  /** Keyed-state queries below run on the RocksDB state store provider. */
  private def withRocksDb[A](f: => A): A = SessionConf.scoped(spark,
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f)

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("stageBatches skips empty micro-batches and keeps mtime order") {
    // partitionBy emits no dir for a zero-row batch; the stager must skip
    // it (absent file == empty micro-batch) rather than NPE, and the
    // surviving files must keep strictly increasing mtimes in batch order
    val s = spark; import s.implicits._
    val staged = Seq((1L, 1), (2L, 3), (3L, 4)).toDF("doc_id", "__b")
    val src = graft.queries.GateOps.stageBatches(staged, 4, "stagespec")
    val files = src.listFiles().map(_.getName).sorted.toSeq
    assert(files == Seq("batch_01.parquet", "batch_03.parquet", "batch_04.parquet"))
    val mts = files.map(f => new java.io.File(src, f).lastModified())
    assert(mts == mts.sorted && mts.distinct.size == mts.size,
      s"mtimes must strictly increase in batch order: $mts")
    val ids = files.map(f =>
      s.read.parquet(new java.io.File(src, f).getPath)
        .select("doc_id").as[Long].collect().toSeq)
    assert(ids == Seq(Seq(1L), Seq(2L), Seq(3L)))
  }

  test("streaming hourly counts: incremental over two micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.hourlyCounts(src.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("update").start()
    src.addData(Event(1, ts(0), 7, "click", 1.5), Event(2, ts(10), 7, "click", 2.5))
    q.processAllAvailable()
    src.addData(Event(3, ts(20), 8, "error", 4.0))
    q.processAllAvailable()
    val rows = s.sql("SELECT event_type, n, total FROM hourly")
      .as[(String, Long, Double)].collect().toSet
    q.stop()
    // update mode re-emits the click window after batch 1 (n=2) — latest
    // state must contain both types with full totals
    assert(rows.contains(("click", 2L, 4.0)))
    assert(rows.contains(("error", 1L, 4.0)))
  }

  test("mapGroupsWithState keeps running per-user totals across batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.userTotals(src.toDS())
      .writeStream.format("memory").queryName("totals").outputMode("update").start()
    src.addData(Event(1, ts(0), 7, "click", 1.25))
    q.processAllAvailable()
    src.addData(Event(2, ts(5), 7, "purchase", 2.50), Event(3, ts(6), 9, "click", 0.75))
    q.processAllAvailable()
    val byUser = s.sql("SELECT * FROM totals").as[SessionOut].collect()
      .groupBy(_.user_id).map { case (u, xs) => u -> xs.maxBy(_.n_events) }
    q.stop()
    assert(byUser(7L) == SessionOut(7L, 2L, 3.75, "purchase"))
    assert(byUser(9L) == SessionOut(9L, 1L, 0.75, "click"))
  }

  test("streaming dedup drops repeated event ids within the watermark") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.dedupeStream(src.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    src.addData(Event(1, ts(0), 7, "click", 1.0), Event(1, ts(0), 7, "click", 1.0))
    q.processAllAvailable()
    src.addData(Event(1, ts(5), 7, "click", 1.0), Event(2, ts(6), 8, "click", 2.0))
    q.processAllAvailable()
    val n = s.sql("SELECT DISTINCT event_id FROM dedup").count()
    val total = s.sql("SELECT * FROM dedup").count()
    q.stop()
    assert(n == 2 && total == 2) // event 1 emitted once despite 3 arrivals
  }

  test("stream-stream join matches purchases within the hour after a click") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.clickToPurchase(src.toDF())
      .writeStream.format("memory").queryName("cp").outputMode("append").start()
    src.addData(
      Event(1, ts(0), 7, "click", 1.0),
      Event(2, ts(30), 7, "purchase", 9.0),                              // in window
      Event(3, Timestamp.valueOf("2024-01-01 12:30:00"), 7, "purchase", 8.0), // outside
      Event(4, ts(10), 9, "click", 2.0))                                 // no purchase
    q.processAllAvailable()
    val rows = s.sql("SELECT user_id, click_id, p_value FROM cp")
      .as[(Long, Long, Double)].collect().toSet
    q.stop()
    assert(rows == Set((7L, 1L, 9.0)))
  }

  test("outer stream-stream join emits unmatched clicks after the watermark") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.clickToPurchaseOuter(src.toDF())
      .writeStream.format("memory").queryName("outer_attr").outputMode("append").start()
    // user 7 converts; user 8 clicks and never purchases
    src.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(1), 8, "click", 2.0),
      Event(3, ts(30), 7, "purchase", 9.0))
    q.processAllAvailable()
    // advance both watermarks far past click+1h+10min so user 8's state expires
    src.addData(Event(4, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "click", 0.0),
      Event(5, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "purchase", 0.0))
    q.processAllAvailable()
    src.addData(Event(6, Timestamp.valueOf("2024-01-01 14:00:00"), 9, "click", 0.0))
    q.processAllAvailable()
    val rows = s.sql("SELECT user_id, click_id, p_value FROM outer_attr")
      .as[(Long, Long, Option[Double])].collect()
    q.stop()
    assert(rows.contains((7L, 1L, Some(9.0))))
    assert(rows.contains((8L, 2L, None)), s"unmatched click must emit: ${rows.toSeq}")
  }

  test("sessionize closes a session after the event-time gap passes the watermark") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val src = MemoryStream[Event]
    val q = EventsStream.sessionize(src.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    // session: two events 10:00 / 10:10
    src.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(10), 7, "click", 2.0))
    q.processAllAvailable()
    // late-batch event far in the future advances the watermark past
    // 10:40 (session timeout), closing user 7's session
    src.addData(Event(3, Timestamp.valueOf("2024-01-01 13:00:00"), 9, "click", 5.0))
    q.processAllAvailable()
    src.addData(Event(4, Timestamp.valueOf("2024-01-01 13:30:00"), 9, "click", 5.0))
    q.processAllAvailable()
    val rows = s.sql("SELECT user_id, n_events, total_value FROM sessions")
      .as[(Long, Long, Double)].collect().toSet
    q.stop()
    assert(rows.contains((7L, 2L, 3.0)))
  }

  test("streaming sessionize agrees with the batch Sessionize twin") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = s.sqlContext
    // two users, three sessions, deterministic gaps (30-min threshold)
    val evs = Seq(
      Event(1, ts(0), 7, "click", 1.0), Event(2, ts(10), 7, "click", 2.0),
      Event(3, ts(55), 7, "click", 3.0), // >30min after 10:10 -> new session
      Event(4, ts(5), 9, "view", 4.0))
    val src = MemoryStream[Event]
    val q = EventsStream.sessionize(src.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_twin").outputMode("append").start()
    src.addData(evs: _*)
    q.processAllAvailable()
    // watermark pushers: close everything (far-future events for user 99)
    src.addData(Event(90, Timestamp.valueOf("2024-01-02 10:00:00"), 99, "x", 0.0))
    q.processAllAvailable()
    src.addData(Event(91, Timestamp.valueOf("2024-01-02 12:00:00"), 99, "x", 0.0))
    q.processAllAvailable()
    val streamed = s.sql(
        "SELECT user_id, CAST(start AS STRING) ss, n_events FROM sess_twin WHERE user_id IN (7, 9)")
      .as[(Long, String, Long)].collect().toSet
    q.stop()
    val batch = graft.operators.Sessionize.sessions(
        evs.toDF(), userCol = col("user_id"), tsCol = col("ts"),
        idCol = col("event_id"), gapSec = 1800L)
      .select(col("user_id"),
        concat(col("sess_start"), lit("")).as("ss"), col("n_events"))
      .as[(Long, String, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming changelog apply maintains the same aggregate as one batch apply") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_maintain").toFile
    val store = new java.io.File(dir, "store").getPath
    val ckpt = new java.io.File(dir, "ckpt").getPath
    val src = MemoryStream[(Long, String, Long, Long)]
    val toLog = (df: org.apache.spark.sql.DataFrame) => df
      .toDF("k", "op", "old_value", "new_value")
    val q = EventsStream.maintainAggregate(toLog(src.toDF()), "k", store, ckpt)
    val b1 = Seq((1L, "create", 0L, 10L), (2L, "create", 0L, 20L))
    val b2 = Seq((1L, "write", 10L, 25L), (2L, "unlink", 20L, 0L),
      (3L, "create", 0L, 5L))
    src.addData(b1: _*); q.processAllAvailable()
    src.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val maintained = s.read.parquet(EventsStream.latestVersion(store).get)
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = graft.cdc.ChangelogApply.applySums(
      Seq.empty[(Long, Long, Long)].toDF("k", "total", "n"),
      toLog((b1 ++ b2).toDF()), "k")
      .as[(Long, Long, Long)].collect().toSet
    assert(maintained == oneShot)
    assert(maintained == Set((1L, 25L, 1L), (3L, 5L, 1L)))
    // Replay safety: a re-delivered batch folds onto the base STRICTLY
    // BELOW its own id, so re-applying batch 1's deltas onto that base
    // reproduces v1 exactly (idempotent overwrite, no double-count).
    val baseBefore1 = s.read.parquet(
      EventsStream.latestVersionBefore(store, 1L).get)
    assert(EventsStream.latestVersionBefore(store, 1L).get.endsWith("v000000000"))
    val replayed = graft.cdc.ChangelogApply.applySums(
        baseBefore1, toLog(b2.toDF()), "k")
      .as[(Long, Long, Long)].collect().toSet
    assert(replayed == maintained)
  }

  test("ppm codec: encode/decode roundtrip, means, comments, nearest resize") {
    import graft.multimodal.PpmCodec
    import PpmCodec.PpmImage
    val rnd = new scala.util.Random(7)
    // roundtrip on random images incl. 1x1 and multi-digit dimensions
    for ((w, h) <- Seq((1, 1), (3, 2), (12, 10), (101, 7))) {
      val px = Array.fill(3 * w * h)(rnd.nextInt(256).toByte)
      val back = PpmCodec.decode(PpmCodec.encode(PpmImage(w, h, px)))
      assert(back.width == w && back.height == h)
      assert(back.pixels.toSeq == px.toSeq)
    }
    // channel means: hand check on a 2x1 image (r 10/20, g 30/40, b 50/60)
    val img = PpmImage(2, 1, Array[Byte](10, 30, 50, 20, 40, 60))
    assert(PpmCodec.channelMeans(img) == ((15.0, 35.0, 55.0)))
    // netpbm comment lines in the header are skipped
    val withComment = ("P6\n# a comment\n2 1\n255\n".getBytes("US-ASCII")
      ++ img.pixels)
    assert(PpmCodec.decode(withComment).pixels.toSeq == img.pixels.toSeq)
    // nearest-neighbor 2x upscale duplicates pixels; downscale to 1x1
    // picks the top-left source pixel
    val up = PpmCodec.resizeNearest(img, 4, 2)
    assert(up.width == 4 && up.height == 2)
    assert(up.pixels(0) == 10 && up.pixels(3) == 10 && up.pixels(6) == 20)
    val down = PpmCodec.resizeNearest(img, 1, 1)
    assert(down.pixels.toSeq == Seq[Byte](10, 30, 50))
  }

  test("wav codec: encode/decode roundtrip, chunk skipping, exact stats") {
    import graft.multimodal.WavCodec
    import WavCodec.WavAudio
    val rnd = new scala.util.Random(11)
    for (n <- Seq(0, 1, 7, 500)) {
      val xs = Array.fill(n)((rnd.nextInt(65536) - 32768).toShort)
      val back = WavCodec.decode(WavCodec.encode(WavAudio(8000, xs)))
      assert(back.sampleRate == 8000 && back.samples.toSeq == xs.toSeq)
    }
    // stats hand check: samples 3, -4 -> n=2, peak=4, meanSq=(9+16)/2
    val (n, dur, peak, meanSq) =
      WavCodec.stats(WavAudio(1000, Array[Short](3, -4)))
    assert((n, dur, peak, meanSq) == ((2L, 2L, 4L, 12.5)))
    // an unknown chunk between fmt and data is skipped
    val enc = WavCodec.encode(WavAudio(8000, Array[Short](5)))
    val bb = java.nio.ByteBuffer.allocate(enc.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(enc, 0, 36)                        // RIFF..fmt chunk
      .put("LIST".getBytes("US-ASCII")).putInt(4).putInt(0) // stray chunk
      .put(enc, 36, enc.length - 36)          // data chunk
    val withStray = bb.array()
    // fix RIFF size field (bytes 4..7) for the inserted 12 bytes
    java.nio.ByteBuffer.wrap(withStray).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, withStray.length - 8)
    assert(WavCodec.decode(withStray).samples.toSeq == Seq[Short](5))
  }

  test("keyed state runs on the RocksDB state store provider (cluster parity)") {
    // the scale claim "state lives in RocksDB on a real cluster" is only
    // credible if the same query actually runs against that provider
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    withRocksDb {
      val src = MemoryStream[Event]
      val q = EventsStream.userTotals(src.toDS())
        .writeStream.format("memory").queryName("rocks_totals")
        .outputMode("update").start()
      src.addData(Event(1, ts(0), 7, "click", 1.25))
      q.processAllAvailable()
      src.addData(Event(2, ts(5), 7, "purchase", 2.50))
      q.processAllAvailable()
      val out = s.sql("SELECT * FROM rocks_totals").as[SessionOut].collect()
        .filter(_.user_id == 7L).maxBy(_.n_events)
      q.stop()
      assert(out == SessionOut(7L, 2L, 3.75, "purchase"))
    }
  }

  test("transformWithState twin matches mapGroupsWithState across batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    withRocksDb {
      val src = MemoryStream[Event]
      val q = EventsStream.userTotalsModern(src.toDS())
        .writeStream.format("memory").queryName("tws_totals")
        .outputMode("update").start()
      src.addData(Event(1, ts(0), 7, "click", 1.25), Event(2, ts(1), 9, "view", 4.00))
      q.processAllAvailable()
      src.addData(Event(3, ts(5), 7, "purchase", 2.50))
      q.processAllAvailable()
      val out = s.sql("SELECT * FROM tws_totals").as[SessionOut].collect()
      q.stop()
      val last7 = out.filter(_.user_id == 7L).maxBy(_.n_events)
      val last9 = out.filter(_.user_id == 9L).maxBy(_.n_events)
      assert(last7 == SessionOut(7L, 2L, 3.75, "purchase"))
      assert(last9 == SessionOut(9L, 1L, 4.00, "view"))
    }
  }

  test("multimodal: stub feature extraction is deterministic and batch-shaped") {
    val s = spark; import s.implicits._
    val media = Seq(
      MediaRow(1L, "image", "fake-png-bytes".getBytes, MediaMeta("png", 64, 64, 0L)),
      MediaRow(2L, "video", "fake-mp4-bytes".getBytes, MediaMeta("mp4", 0, 0, 2500L)),
      MediaRow(3L, "image", "fake-png-bytes".getBytes, MediaMeta("png", 64, 64, 0L))
    ).toDS().repartition(2)
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.length == 3)
    assert(feats.forall(_.features.length == Multimodal.FeatureDim))
    // identical payloads → identical checksum + features (run-to-run stable)
    assert(feats(0).checksum == feats(2).checksum)
    assert(feats(0).features.toSeq == feats(2).features.toSeq)
    assert(feats(0).checksum != feats(1).checksum)
  }

  test("multimodal: resize rewrites dimensions, preserves payload") {
    val s = spark; import s.implicits._
    val media = Seq(
      MediaRow(1L, "image", Array[Byte](1, 2, 3), MediaMeta("png", 640, 480, 0L))).toDS()
    val out = Multimodal.resize(media, 64, 64).collect().head
    assert(out.meta == MediaMeta("png", 64, 64, 0L))
    assert(out.payload.toSeq == Seq[Byte](1, 2, 3))
  }

  test("multimodal: frame sampling explodes duration at the requested rate") {
    val s = spark; import s.implicits._
    val media = Seq(
      MediaRow(2L, "video", Array[Byte](1), MediaMeta("mp4", 0, 0, 2500L)),
      MediaRow(1L, "image", Array[Byte](2), MediaMeta("png", 1, 1, 0L))
    ).toDS()
    val frames = Multimodal.sampleFrames(media, everyMs = 1000L)
      .as[(Long, Long)].collect().toSet
    assert(frames == Set((2L, 0L), (2L, 1000L), (2L, 2000L)))
  }

  test("streaming incremental dedup: corpus initial state + in-stream dups") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.DedupStream
    import graft.streaming.DedupStream.{DocIn, DedupOut}
    withRocksDb {
      val corpus = Seq("hashA", "hashB").toDS()
      val src = MemoryStream[DocIn]
      val q = DedupStream.classify(src.toDS(), corpus)
        .writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").start()
      // batch 1: A is in the corpus; C is new, its repeat in the SAME
      // batch dedups against the first arrival
      src.addData(DocIn("hashA", 101), DocIn("hashC", 102), DocIn("hashC", 103))
      q.processAllAvailable()
      // batch 2: C was admitted in batch 1 -> dup now; D unique
      src.addData(DocIn("hashC", 104), DocIn("hashD", 105))
      q.processAllAvailable()
      val out = s.sql("SELECT * FROM dedup_stream").as[DedupOut]
        .collect().map(o => o.doc_id -> o.dedup_class).toMap
      q.stop()
      assert(out == Map(101L -> "exact_dup", 102L -> "unique",
        103L -> "exact_dup", 104L -> "exact_dup", 105L -> "unique"))
    }
  }

  test("streaming dedup restart: state survives the checkpoint, corpus " +
      "state persists") {
    // the production exactly-once property: stop the query mid-corpus,
    // restart from the SAME checkpoint and source — hashes admitted
    // before the stop must still dedup after it (the state store
    // survived), and the corpus initial state must still bite (it was
    // folded into the store at first start, not reapplied per start)
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.DedupStream
    import graft.streaming.DedupStream.{DocIn, DedupOut}
    withRocksDb {
      val ckpt = graft.Scratch.fresh("dedup_restart_ckpt")
      val store = graft.Scratch.fresh("dedup_restart_store")
      val corpus = Seq("hashA").toDS()
      val src = MemoryStream[DocIn]
      def start() = DedupStream.classify(src.toDS(), corpus)
        .writeStream.format("parquet")
        .option("path", store.getPath)
        .option("checkpointLocation", ckpt.getPath)
        .outputMode("append").start()
      val q1 = start()
      src.addData(DocIn("hashB", 1))
      q1.processAllAvailable()
      q1.stop()
      val q2 = start() // SAME checkpoint + source: a driver restart
      src.addData(DocIn("hashB", 2), DocIn("hashA", 3), DocIn("hashC", 4))
      q2.processAllAvailable()
      q2.stop()
      val rows = s.read.parquet(store.getPath).as[DedupOut].collect()
      // exactly-once: a checkpoint regression that REPLAYS batch 1 after
      // the restart would duplicate doc 1 — toMap alone would silently
      // collapse it
      assert(rows.length == 4, s"expected 4 sink rows, got ${rows.toSeq}")
      val out = rows.map(o => o.doc_id -> o.dedup_class).toMap
      assert(out == Map(
        1L -> "unique",    // admitted before the restart
        2L -> "exact_dup", // its hash must still be state after restart
        3L -> "exact_dup", // corpus initial state persists across restart
        4L -> "unique"), s"got $out")
    }
  }

  test("streaming bloom screen: pre-batch classification, idempotent OR-fold") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.BloomStream
    import graft.streaming.BloomStream.{Bitmap, DocIn, ScreenOut}
    val m = 4096L; val k = 3
    val bitmap = new Bitmap(m)
    // pre-seed the "frozen corpus" with hash 7777
    BloomStream.positions(7777L, m, k).foreach(bitmap.set)
    val out = scala.collection.mutable.ArrayBuffer[ScreenOut]()
    val src = MemoryStream[DocIn]
    val q = BloomStream.screen(src.toDS(), bitmap, k,
      ds => out.synchronized { out ++= ds.collect() })
    // batch 1: 7777 is corpus -> hit; 1234 unknown -> miss (and twice in
    // the SAME batch still miss: classification is against the PRE-batch
    // bitmap); a NEGATIVE hash must floor-mod, not crash
    src.addData(DocIn(7777L, 1), DocIn(1234L, 2), DocIn(1234L, 3),
      DocIn(-987654321L, 6))
    q.processAllAvailable()
    // batch 2: 1234 and the negative hash folded in batch 1 -> hits; 9999 miss
    src.addData(DocIn(1234L, 4), DocIn(9999L, 5), DocIn(-987654321L, 7))
    q.processAllAvailable()
    q.stop()
    val byDoc = out.map(o => o.doc_id -> o.bloom_hit).toMap
    assert(byDoc.size == 7, s"expected 7 classified docs: $byDoc")
    assert(byDoc(1L), "corpus-seeded hash must hit")
    assert(!byDoc(2L) && !byDoc(3L),
      "unknown hash must miss, including its same-batch repeat")
    assert(byDoc(4L), "batch-1-folded hash must hit in batch 2")
    assert(!byDoc(5L), "fresh hash must miss (fp odds ~0 at this fill)")
    assert(!byDoc(6L) && byDoc(7L),
      "negative hash: miss on first sight, hit after its fold")
    // replay idempotence: re-folding every seen hash changes nothing
    val before = bitmap.snapshot.toSeq
    Seq(7777L, 1234L, 9999L, -987654321L).foreach(h =>
      BloomStream.positions(h, m, k).foreach(bitmap.set))
    assert(bitmap.snapshot.toSeq == before,
      "OR-fold must be a no-op on replay")
    // the membership contract: every folded hash now tests positive, and
    // every position of any Long hash stays inside [0, m)
    Seq(7777L, 1234L, 9999L, -987654321L).foreach(h =>
      assert(BloomStream.positions(h, m, k).forall(bitmap.test)))
    Seq(Long.MinValue, -1L, 0L, Long.MaxValue).foreach(h =>
      BloomStream.positions(h, m, k).foreach(p => assert(p >= 0 && p < m)))
    // the replay pin travels with the BITMAP: within one batchId the
    // snapshot ignores later folds; the next batchId sees them
    val b2 = new Bitmap(128)
    val s0 = b2.snapshotFor(7L).toSeq
    b2.set(5)
    assert(b2.snapshotFor(7L).toSeq == s0,
      "replaying a batch must re-screen against its original bits")
    assert(b2.snapshotFor(8L).toSeq != s0,
      "the following batch must see the fold")
  }

  test("ppmv container: round-trip and seek-only-sampled-frames decode") {
    import graft.multimodal.{PpmCodec, PpmvCodec}
    val frames = (0 until 5).map { f =>
      PpmCodec.PpmImage(2 + f, 3, Array.tabulate(3 * (2 + f) * 3)(i => (f * 40 + i).toByte))
    }
    val payload = PpmvCodec.encode(frames)
    assert(PpmvCodec.frameCount(payload) == 5)
    val all = PpmvCodec.decodeFrames(payload, _ => true)
    assert(all.map(_._1) == Seq(0, 1, 2, 3, 4))
    all.foreach { case (i, img) =>
      assert(img.width == frames(i).width && img.height == frames(i).height)
      assert(img.pixels.toSeq == frames(i).pixels.toSeq)
    }
    // sampling: only requested indices decoded, order preserved
    val sampled = PpmvCodec.decodeFrames(payload, i => i % 2 == 0)
    assert(sampled.map(_._1) == Seq(0, 2, 4))
    // corrupt magic rejected
    val bad = payload.clone(); bad(0) = 'X'
    intercept[IllegalArgumentException] { PpmvCodec.frameCount(bad) }
  }
}
