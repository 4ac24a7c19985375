package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode}

import graft.operators.Multimodal

/** Ingest-time perceptual image dedup — the streaming twin of
  * [[Multimodal.imageNearDupPairs]], for "is this incoming image a
  * near-copy of anything we've already ingested?" (logo/banner/tracking-
  * pixel floods) at arrival time. Completes the twin roster: text
  * near-dup ([[NearDupStream]]), CDC ([[CdcDedupStream]]), typo
  * ([[TypoStream]]), ANN — and now images.
  *
  * Shape mirrors [[TypoStream]]: the 64-bit average hash is computed
  * NARROWLY per record (the native BmpAHash kernel — no aggregation, so
  * it composes with Append mode; undecodable payloads drop out as null
  * hashes), records explode to one row per 16-bit band key (the batch
  * op's 4-band LSH), and a transformWithState processor keyed by
  * (band << 16 | key) holds the (id, hash) pairs seen in that bucket.
  * A new arrival XOR-popcount-verifies against its bucket-mates IN the
  * processor, so only true <= maxHamming pairs ever leave the state
  * store. The same unordered pair can surface from several shared bands
  * (the batch pipeline's pre-`distinct` candidate multiset) —
  * deduplicate downstream where needed.
  *
  * State hygiene at scale: per-bucket membership is capped
  * (`maxPerBucket` — a viral identical image fills its buckets once;
  * later arrivals still verify against the stored sample but are not
  * stored, the [[Multimodal.imageNearDupPairs]] cap contract).
  */
object ImageDedupStream {

  case class BandImage(bk: Long, id: Long, h: Long)
  case class ImagePair(idA: Long, idB: Long, hamming: Long)

  class BandBucketProcessor(maxHamming: Int, maxPerBucket: Int)
      extends StatefulProcessor[Long, BandImage, ImagePair] {
    @transient private var seen: ListState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[(Long, Long)]("seen",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(bk: Long, rows: Iterator[BandImage],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ImagePair] = {
      val stored = ArrayBuffer.empty[(Long, Long)]
      seen.get().foreach(stored += _)
      val out = ArrayBuffer.empty[ImagePair]
      rows.foreach { r =>
        stored.foreach { case (pid, ph) =>
          if (pid != r.id) {
            val d = java.lang.Long.bitCount(ph ^ r.h).toLong
            if (d <= maxHamming)
              out += (if (pid < r.id) ImagePair(pid, r.id, d)
                      else ImagePair(r.id, pid, d))
          }
        }
        if (!stored.exists(_._1 == r.id) && stored.length < maxPerBucket) {
          stored += ((r.id, r.h))
          seen.appendValue((r.id, r.h))
        }
      }
      out.iterator
    }
  }

  /** Wire the band-bucket processor onto a streaming (or batch) image
    * frame (idCol long, payloadCol binary). Emits verified pairs in
    * Append mode (id_a < id_b; possibly repeated across shared bands —
    * dedup downstream).
    */
  def pairs(images: DataFrame, idCol: String, payloadCol: String,
            maxHamming: Int = 10, maxPerBucket: Int = 64): Dataset[ImagePair] =
    pairsFromHashes(
      images.select(col(idCol).cast("long").as("id"),
        Multimodal.bmpAHash(col(payloadCol)).as("h")),
      maxHamming, maxPerBucket)

  /** [[pairs]] for AUDIO payloads: the 64-bit frame-energy fingerprint
    * ([[Multimodal.wavEnergyHash]], real PCM WAV decode) through the
    * same band-bucket processor — "is this incoming clip a near-copy of
    * a recent one?" at arrival time.
    */
  def audioPairs(clips: DataFrame, idCol: String, payloadCol: String,
                 maxHamming: Int = 10, maxPerBucket: Int = 64): Dataset[ImagePair] =
    pairsFromHashes(
      clips.select(col(idCol).cast("long").as("id"),
        Multimodal.wavEnergyHash(col(payloadCol)).as("h")),
      maxHamming, maxPerBucket)

  /** Hash-generic entry: wire the band-bucket processor onto any
    * (id long, h long) frame of 64-bit fingerprints — the stage every
    * perceptual modality shares once its narrow hash kernel has run.
    * Null hashes (undecodable payloads) drop out.
    */
  def pairsFromHashes(hashed: DataFrame, maxHamming: Int,
                      maxPerBucket: Int): Dataset[ImagePair] = {
    import hashed.sparkSession.implicits._
    hashed
      .filter(col("h").isNotNull)
      .select(col("id"), col("h"),
        explode(array((0 until 4).map(b =>
          lit(b.toLong * 65536L) +
            shiftrightunsigned(col("h"), b * 16).bitwiseAND(lit(0xffffL))): _*))
          .as("bk"))
      .select(col("bk"), col("id"), col("h"))
      .as[BandImage]
      .groupByKey(_.bk)
      .transformWithState(new BandBucketProcessor(maxHamming, maxPerBucket),
        TimeMode.None(), OutputMode.Append())
  }
}
