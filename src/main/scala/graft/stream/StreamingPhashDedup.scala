package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ops.{MediaRecord, Multimodal}

/** One incoming media asset on the intake firehose: event time plus
  * the [[graft.ops.MediaRecord]] payload fields. */
case class MediaEvent(ts: java.sql.Timestamp, media_id: Long,
                      kind: String, content: Array[Byte])

/** Streaming PIXEL-level near-deduplication — the firehose twin of
  * [[graft.ops.Multimodal.phashNearDup]], completing the stateful-shape
  * family: a multimodal training-data intake must
  * reject re-encodes/brightness-shifts of images already in the corpus
  * at ingest time, exactly like [[StreamingNearDedup]] does for text.
  *
  * Shape (the StreamingNearDedup pattern at the dHash width): the
  * CORPUS side is a pre-built (band, bits) index over dHash-64
  * fingerprints — 8 rows of 3 smalls per image, catalog-sized relative
  * to the payload bytes; the STREAM side decodes each micro-batch's
  * image payloads on the same batch-shaped mapPartitions seam as the
  * batch hasher (ONE shared kernel — [[Multimodal.hashImage]] — so the
  * two sides can never hash differently), explodes its 8 band keys,
  * and equi-joins the broadcast index. By pigeonhole any pair within
  * Hamming distance 7 agrees on at least one full 8-bit band, so
  * `maxHamming ≤ 7` has NO false negatives (PhashBandProperties pins
  * the bound); the exact `bit_count` check after the join removes
  * band-collision false positives. State: only the output-dedup keys,
  * bounded by the watermark horizon — the index lives outside
  * streaming state, and the index-refresh discipline (frozen snapshot
  * for the stream's lifetime; versioned snapshots for nightly
  * rebuilds) is [[StreamingNearDedup]]'s, unchanged.
  *
  * At 100 TB: the stream side never shuffles for the join (index
  * broadcast); candidate volume is per-bucket-population-proportional
  * like the batch operator, and the flat-image all-zero-band hot
  * bucket is an AQE skew consideration on the BATCH index build — the
  * per-micro-batch join streams through a hash lookup either way. */
object StreamingPhashDedup {

  /** Sketch a media corpus into the band index:
    * (band, bits, idx_media_id, idx_phash). Non-image/undecodable
    * assets are absent (no hash — the [[Multimodal.perceptualHashes]]
    * contract). */
  def phashIndex(media: Dataset[MediaRecord]): DataFrame =
    Multimodal.perceptualHashes(media)
      .select(col("media_id").as("idx_media_id"), col("phash").as("idx_phash"),
        Multimodal.phashBandsCol(col("phash")).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bits").as("bits"),
        col("idx_media_id"), col("idx_phash"))

  /** Match a media-event stream against the index: one row per
    * (incoming image, corpus image) within `maxHamming`, band
    * multiplicity collapsed by watermark-bounded dedup over a 1-hour
    * horizon (the batch operator's `.distinct()`, restated as bounded
    * streaming state). */
  def nearDupMatches(stream: Dataset[MediaEvent], index: DataFrame,
                     maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming < Multimodal.PhashBands,
      s"maxHamming must be ≤ ${Multimodal.PhashBands - 1}: the " +
        s"${Multimodal.PhashBands}-band index only guarantees recall for " +
        s"Hamming < ${Multimodal.PhashBands} (got $maxHamming)")
    val spark = stream.sparkSession
    import spark.implicits._
    stream.mapPartitions { it =>
      it.grouped(64).flatMap(_.flatMap(m =>
        Multimodal.hashImage(m.kind, m.content).map(h => (m.ts, m.media_id, h))))
    }.toDF("ts", "media_id", "phash")
      .select(col("ts"), col("media_id"), col("phash"),
        Multimodal.phashBandsCol(col("phash")).as("bk"))
      .select(col("ts"), col("media_id"), col("phash"),
        col("bk.band").as("band"), col("bk.bits").as("bits"))
      .join(broadcast(index), Seq("band", "bits"))
      .withColumn("hamming", bit_count(col("phash").bitwiseXOR(col("idx_phash"))))
      .filter(col("hamming") <= maxHamming && col("media_id") =!= col("idx_media_id"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("media_id", "idx_media_id")
      .select(col("ts"), col("media_id"), col("idx_media_id").as("match_id"),
        col("hamming"))
  }
}
