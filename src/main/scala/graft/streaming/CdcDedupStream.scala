package graft.streaming

import scala.collection.mutable.ArrayBuffer

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode}

/** Streaming CDC resemblance — the ingest-time form of
  * [[graft.operators.Dedup.cdcNearDupPairs]]: "does this incoming
  * document share content-defined chunks with anything already
  * ingested?", the edit-robust sibling of [[NearDupStream]]'s MinHash
  * candidates.
  *
  * Shape: chunk hashes are computed NARROWLY per record
  * ([[Dedup.cdcChunkHashesCol]] — a per-row fold, so it composes with
  * Append-mode streaming), records explode to one row per distinct
  * chunk hash, and a transformWithState processor keyed by the hash
  * holds the doc ids seen with that chunk (ListState). A new arrival
  * emits one candidate pair per chunk-mate; exact-Jaccard verification
  * of survivors is downstream/batch, as in the batch pipeline.
  *
  * The batch op's rare-chunk bound (df ≤ maxDf) becomes the per-bucket
  * membership cap here: a boilerplate chunk's bucket stops growing at
  * `maxPerChunk` (beyond it, arrivals still pair against the stored
  * sample but are not stored) — the same bound [[NearDupStream]]
  * applies to band buckets.
  */
object CdcDedupStream {

  case class ChunkDoc(chunkHash: Long, docId: Long)
  case class ChunkPair(idA: Long, idB: Long, chunkHash: Long)

  class ChunkBucketProcessor(maxPerChunk: Int)
      extends StatefulProcessor[Long, ChunkDoc, ChunkPair] {
    @transient private var seen: ListState[java.lang.Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[java.lang.Long]("seen", Encoders.LONG, TTLConfig.NONE)

    override def handleInputRows(chunkHash: Long, rows: Iterator[ChunkDoc],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ChunkPair] = {
      val stored = ArrayBuffer.empty[Long]
      seen.get().foreach(stored += _.longValue())
      val out = ArrayBuffer.empty[ChunkPair]
      rows.foreach { r =>
        stored.foreach { prev =>
          if (prev != r.docId)
            out += ChunkPair(math.min(prev, r.docId),
              math.max(prev, r.docId), chunkHash)
        }
        if (stored.length < maxPerChunk && !stored.contains(r.docId)) {
          stored += r.docId
          seen.appendValue(r.docId)
        }
      }
      out.iterator
    }
  }

  /** Wire the chunk-bucket processor onto a streaming (or batch)
    * document frame. Emits candidate pairs in Append mode; a pair
    * sharing several chunks appears once per shared chunk (same as the
    * batch posting-list join before its groupBy) — aggregate downstream
    * where shared-chunk counts or Jaccard are needed.
    */
  def candidates(docs: DataFrame, idCol: String, textCol: String,
                 w: Int = 3, divisor: Long = 8L, maxPerChunk: Int = 64): Dataset[ChunkPair] = {
    import docs.sparkSession.implicits._
    docs
      .select(col(idCol).cast("long").as("docId"),
        Dedup.cdcChunkHashesCol(col(textCol), w, divisor).as("hs"))
      .filter(col("hs").isNotNull)
      .select(col("docId"), explode(array_distinct(col("hs"))).as("chunkHash"))
      .select(col("chunkHash"), col("docId")).as[ChunkDoc]
      .groupByKey(_.chunkHash)
      .transformWithState(new ChunkBucketProcessor(maxPerChunk),
        TimeMode.None(), OutputMode.Append())
  }
}
