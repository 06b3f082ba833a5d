package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Structured Streaming surface (SURVEY §2.10): the reference is batch-only
  * (its CDC is synchronous method interception), so this module is the
  * forward-looking streaming twin of the batch operators — the same event
  * schema as `events.parquet`, processed incrementally.
  *
  * Scale posture: watermarked tumbling windows and keyed state are the two
  * canonical streaming shapes; both shuffle once on the group key and keep
  * state in the state store (RocksDB on a real cluster), never the driver.
  */
object EventsStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionOut(user_id: Long, n_events: Long, total_value: Double,
                              last_type: String)

  /** Tumbling 1-hour aggregation with a 1-hour watermark — the streaming
    * twin of gate query q30 (same grouping, incremental execution). Works
    * on a batch OR streaming DataFrame. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total"))

  /** Keyed running state per user via mapGroupsWithState: event count,
    * value sum, last event type — the custom-state shape
    * (KeyValueGroupedDataset, SURVEY build brief). */
  def userTotals(events: Dataset[Event]): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionOut, SessionOut](GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Event], state: GroupState[SessionOut]) =>
          val prev = state.getOption.getOrElse(SessionOut(userId, 0L, 0.0, ""))
          // deterministic fold: order within a batch by (ts, event_id)
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val next = sorted.foldLeft(prev) { (acc, e) =>
            SessionOut(userId, acc.n_events + 1,
              math.rint((acc.total_value + e.value) * 100) / 100, e.event_type)
          }
          state.update(next)
          next
      }
  }

  /** [[userTotals]] on the transformWithState API (Spark 4's arbitrary
    * stateful processing surface, the successor of mapGroupsWithState):
    * same per-user fold, state in a typed ValueState handle. Requires the
    * RocksDB state store provider — the provider contract of the new API,
    * matching the cluster posture anyway. */
  final class UserTotalsProcessor
      extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var totals: ValueState[SessionOut] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[SessionOut](
        "totals", Encoders.product[SessionOut], TTLConfig.NONE)
    override def handleInputRows(userId: Long, rows: Iterator[Event],
                                 timerValues: TimerValues): Iterator[SessionOut] = {
      val prev =
        if (totals.exists()) totals.get() else SessionOut(userId, 0L, 0.0, "")
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val next = sorted.foldLeft(prev) { (acc, e) =>
        SessionOut(userId, acc.n_events + 1,
          math.rint((acc.total_value + e.value) * 100) / 100, e.event_type)
      }
      totals.update(next)
      Iterator.single(next)
    }
  }

  def userTotalsModern(events: Dataset[Event]): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class SessionAgg(startMs: Long, lastMs: Long, n: Long, total: Double)
  final case class ClosedSession(user_id: Long, start: Timestamp, end: Timestamp,
                                 n_events: Long, total_value: Double)

  /** Gap-based sessionization with event-time timeouts: a user's session
    * closes after `gapMinutes` of inactivity (measured in event time under
    * the watermark), emitting one row per closed session — the
    * flatMapGroupsWithState shape for custom streaming state. State is one
    * small struct per active user in the state store; nothing on the
    * driver. */
  def sessionize(events: Dataset[Event], gapMinutes: Int): Dataset[ClosedSession] = {
    import org.apache.spark.sql.streaming.OutputMode
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    def close(uid: Long, s: SessionAgg): ClosedSession =
      ClosedSession(uid, new Timestamp(s.startMs), new Timestamp(s.lastMs),
        s.n, math.rint(s.total * 100) / 100)
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAgg, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Event], state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(uid, s))
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val closed = Seq.newBuilder[ClosedSession]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.ts.getTime - s.lastMs <= gapMs =>
                  cur = Some(SessionAgg(s.startMs, e.ts.getTime, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += close(uid, s)
                  cur = Some(SessionAgg(e.ts.getTime, e.ts.getTime, 1, e.value))
                case None =>
                  cur = Some(SessionAgg(e.ts.getTime, e.ts.getTime, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup: drop duplicate event_ids arriving within the
    * watermark horizon — the streaming twin of the batch content-hash
    * dedup (q31); state holds only the watermark window's keys. */
  def dedupeStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream join: each click matched to same-user purchases within
    * the following hour. Both sides are watermarked and the join condition
    * carries the event-time range, so the state store only retains one
    * hour of either stream — the bounded-state formulation. Works on batch
    * frames too (the range condition is ordinary column logic). */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"), col("value").as("click_value"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("click_value"), col("p_value"))
  }

  /** Watermarked stream-stream LEFT OUTER join: like [[clickToPurchase]],
    * but a click with NO purchase inside its hour still emits (with null
    * purchase value) once the purchase-side watermark passes the end of
    * its join window — the state store can then prove no match can ever
    * arrive. The attribution shape that also reports unconverted clicks. */
  def clickToPurchaseOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"), col("value").as("click_value"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "10 minutes")
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("click_value"), col("p_value"))
  }

  /** Streaming twin of [[graft.cdc.ChangelogApply]]: maintain a
    * materialized grouped aggregate from a STREAM of changelog rows
    * (`op`, key, `old_value`, `new_value`). Each micro-batch folds its
    * deltas into the last persisted snapshot and writes a new immutable
    * version directory — the snapshot-versioned incremental
    * materialization shape (a real deployment swaps the version-dir dance
    * for Delta MERGE; the fold itself is identical). Deltas are abelian,
    * so maintaining per batch equals one batch apply of the whole log.
    *
    * Replay-safe under foreachBatch's at-least-once contract: the base is
    * the newest version with id STRICTLY BELOW the current batchId, so a
    * batch re-delivered after a crash (snapshot written, checkpoint commit
    * lost) folds onto the same pre-batch base and idempotently overwrites
    * its own v{batchId} output instead of double-counting it. */
  def maintainAggregate(changelog: DataFrame, keyCol: String,
                        storeDir: String, checkpoint: String) = {
    changelog.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val base = latestVersionBefore(storeDir, batchId) match {
          case Some(dir) => spark.read.parquet(dir)
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              batch.schema(keyCol),
              org.apache.spark.sql.types.StructField("total", org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType))))
        }
        graft.cdc.ChangelogApply.applySums(base, batch, keyCol)
          .write.mode("overwrite").parquet(f"$storeDir/v$batchId%09d")
        ()
      }
      .start()
  }

  /** Latest snapshot directory written by [[maintainAggregate]], if any. */
  def latestVersion(storeDir: String): Option[String] =
    latestVersionBefore(storeDir, Long.MaxValue)

  /** Newest snapshot directory whose batch id is strictly below `bound` —
    * the replay-safe base for folding batch `bound`'s deltas. */
  def latestVersionBefore(storeDir: String, bound: Long): Option[String] = {
    val d = new java.io.File(storeDir)
    Option(d.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v") &&
        f.getName.drop(1).forall(_.isDigit) && f.getName.drop(1).toLong < bound)
      .sortBy(_.getName).lastOption.map(_.getPath)
  }
}
