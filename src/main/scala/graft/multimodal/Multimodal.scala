package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (build brief): image/audio/video carried as
  * opaque `binary` columns with typed metadata, processed per-partition in
  * batches. The actual media decode is STUBBED (no image/audio libraries in
  * this environment) behind [[StubCodec]] — a deterministic fake whose
  * output shape matches what a real decoder (JavaCV / TwelveMonkeys /
  * javax.sound) would produce. The Spark-side plumbing — schema,
  * partitioning, batch iteration, feature schema — is real and tested.
  *
  * Scale posture: payloads stay columnar parquet binary; decode is
  * `mapPartitions` (one codec instance per partition, streamed batches, no
  * collect); feature vectors are fixed-width arrays, so downstream
  * similarity ops (graft.queries.SimilarityOps) apply unchanged.
  */
object Multimodal {

  final case class MediaMeta(format: String, width: Int, height: Int,
                             durationMs: Long)
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                            meta: MediaMeta)
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                                 checksum: Long, features: Array[Float])

  /** Deterministic stand-in for the real decoder: a real implementation
    * would decode `payload` and extract model features; the stub derives a
    * repeatable FEATURE_DIM-vector from payload bytes so pipelines and
    * tests are executable end-to-end. Swap via the `codec` parameter. */
  val FeatureDim = 8
  val StubCodec: MediaRow => MediaFeatures = { r =>
    var h = 1125899906842597L // FNV-ish rolling checksum
    r.payload.foreach(b => h = h * 31 + (b & 0xff))
    val feats = Array.tabulate(FeatureDim) { i =>
      (((h >>> (i * 8)) & 0xff).toFloat / 255f) - 0.5f
    }
    MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, h, feats)
  }

  /** Decode + feature-extract, batch-shaped: one codec per partition, rows
    * streamed. `codec` defaults to the stub; a real decoder is a drop-in. */
  def extractFeatures(media: Dataset[MediaRow],
                      codec: MediaRow => MediaFeatures = StubCodec): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows => rows.map(codec) }
  }

  /** Frame sampling for video payloads: emit one (media_id, frame_idx)
    * descriptor per sampled frame at `everyMs` intervals of the declared
    * duration — the decode of each frame is again codec territory. This is
    * a generator (explode), so one row in → duration/everyMs rows out. */
  def sampleFrames(media: Dataset[MediaRow], everyMs: Long): DataFrame = {
    require(everyMs > 0, "everyMs must be positive")
    media.toDF()
      .filter(col("kind") === "video" && col("meta.durationMs") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("meta.durationMs") - 1, lit(everyMs)))
          .as("frame_at_ms"))
  }

  /** Resize descriptor (STUB): a real implementation decodes `payload`,
    * resamples to (w, h) and re-encodes; the stub rewrites the metadata and
    * tags the payload so the pipeline shape (map, no shuffle, metadata
    * update) is executable and testable without image libraries. */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { r =>
      // real codec work happens here; stub keeps bytes, updates dimensions
      r.copy(meta = r.meta.copy(width = w, height = h))
    }
  }

  final case class PpmStats(media_id: Long, width: Long, height: Long,
                            n_bytes: Long, mean_r: Double, mean_g: Double,
                            mean_b: Double)

  /** REAL decode path (no stub): parse each row's P6 payload with
    * [[PpmCodec]] and emit dimension + exact channel-mean stats — the same
    * mapPartitions batch shape as [[extractFeatures]], but running actual
    * image parsing. Gate q88 replays the whole encode→decode→stats chain
    * arithmetically in DuckDB. */
  def ppmStats(media: Dataset[MediaRow]): Dataset[PpmStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      val img = PpmCodec.decode(r.payload)
      val (mr, mg, mb) = PpmCodec.channelMeans(img)
      PpmStats(r.media_id, img.width.toLong, img.height.toLong,
        r.payload.length.toLong, mr, mg, mb)
    })
  }

  final case class WavStats(media_id: Long, n_samples: Long, dur_ms: Long,
                            peak: Long, mean_sq: Double)

  /** REAL audio decode path: parse RIFF/WAV PCM payloads with
    * [[WavCodec]] and emit exact amplitude stats (gate q89). */
  def wavStats(media: Dataset[MediaRow]): Dataset[WavStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { r =>
      val a = WavCodec.decode(r.payload)
      val (n, dur, peak, meanSq) = WavCodec.stats(a)
      WavStats(r.media_id, n, dur, peak, meanSq)
    })
  }

  final case class FrameStats(media_id: Long, frame_idx: Long, width: Long,
                              height: Long, mean_r: Double, mean_g: Double,
                              mean_b: Double)

  /** REAL video decode path: parse each row's PPMV container
    * ([[PpmvCodec]]) and emit per-SAMPLED-frame dimensions + channel
    * means, keeping every `everyK`-th frame (0, k, 2k, …). The length
    * prefixes make this a frame-seek, not a full decode — unsampled
    * frames are skipped byte-ranges, the property a 100 TB frame-sampling
    * job needs from its container. Gate q132 replays the chain
    * arithmetically in DuckDB. */
  def videoFrameStats(media: Dataset[MediaRow],
                      everyK: Int): Dataset[FrameStats] = {
    require(everyK > 0, "everyK must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { r =>
      PpmvCodec.decodeFrames(r.payload, i => i % everyK == 0).map {
        case (idx, img) =>
          val (mr, mg, mb) = PpmCodec.channelMeans(img)
          FrameStats(r.media_id, idx.toLong, img.width.toLong,
            img.height.toLong, mr, mg, mb)
      }
    })
  }
}
