package graft.streaming

import scala.collection.mutable.ArrayBuffer

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode}

/** Streaming near-duplicate detection — the incremental form of the batch
  * MinHash-LSH pipeline (operators.Dedup), for "is this incoming document a
  * near-dup of anything we've already ingested?" at ingest time.
  *
  * Shape: each record's MinHash signature and band keys are computed
  * NARROWLY ([[Dedup.minhashSignatureCol]], the fused native kernel — no
  * aggregation, so it composes with append-mode streaming), records explode
  * to one row per band, and a transformWithState processor keyed by band
  * key holds (doc id, signature) for the docs seen in that bucket
  * (ListState). A new arrival emits one candidate pair per bucket-mate,
  * carrying the signature-agreement Jaccard estimate (fraction of equal
  * MinHash components — the standard estimator); `minEstJaccard` drops
  * weak pairs at the bucket, before they ever leave the state store.
  * Exact-Jaccard verification of survivors stays a downstream/batch
  * concern, as in the batch pipeline.
  *
  * State hygiene at scale:
  *  - per-bucket membership is capped (`maxPerBucket`) so a degenerate
  *    bucket (boilerplate text) cannot grow state without bound — beyond
  *    the cap new arrivals still emit pairs against the stored sample but
  *    are not stored (RocksDB-backed, per state API v2).
  */
object NearDupStream {

  case class BandDoc(band: String, docId: Long, sig: Seq[Long])
  case class StoredDoc(docId: Long, sig: Seq[Long])
  case class CandidatePair(idA: Long, idB: Long, band: String, estJaccard: Double)

  class BandBucketProcessor(maxPerBucket: Int, minEstJaccard: Double)
      extends StatefulProcessor[String, BandDoc, CandidatePair] {
    @transient private var seen: ListState[StoredDoc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[StoredDoc]("seen", Encoders.product[StoredDoc], TTLConfig.NONE)

    private def estimate(a: Seq[Long], b: Seq[Long]): Double = {
      val n = math.min(a.length, b.length)
      if (n == 0) return 0.0
      var eq = 0
      var i = 0
      while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / n
    }

    override def handleInputRows(band: String, rows: Iterator[BandDoc],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CandidatePair] = {
      val stored = ArrayBuffer.empty[StoredDoc]
      seen.get().foreach(stored += _)
      val out = ArrayBuffer.empty[CandidatePair]
      rows.foreach { r =>
        stored.foreach { prev =>
          if (prev.docId != r.docId) {
            val est = estimate(prev.sig, r.sig)
            if (est >= minEstJaccard)
              out += CandidatePair(math.min(prev.docId, r.docId),
                math.max(prev.docId, r.docId), band, est)
          }
        }
        if (stored.length < maxPerBucket) {
          val s = StoredDoc(r.docId, r.sig)
          stored += s
          seen.appendValue(s)
        }
      }
      out.iterator
    }
  }

  /** Wire the banded processor onto a streaming (or batch) document frame.
    * Emits candidate pairs in Append mode; duplicates across bands are
    * possible by construction (same as the batch LSH candidate set before
    * its `distinct`) — deduplicate downstream where needed.
    */
  def candidates(docs: DataFrame, idCol: String, textCol: String,
                 numHashes: Int = 8, rowsPerBand: Int = 2, k: Int = 3,
                 maxPerBucket: Int = 64,
                 minEstJaccard: Double = 0.0): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    docs
      .select(col(idCol).cast("long").as("docId"),
        Dedup.minhashSignatureCol(col(textCol), numHashes, k).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("docId"), col("sig"),
        explode(Dedup.bandKeysCol(col("sig"), numHashes, rowsPerBand)).as("band"))
      .as[BandDoc]
      .groupByKey(_.band)
      .transformWithState(new BandBucketProcessor(maxPerBucket, minEstJaccard),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming benchmark decontamination: per incoming document, one row
    * per k-token shingle it shares with a STATIC benchmark/eval set — the
    * incremental form of [[graft.operators.Dedup.contaminationStats]] for
    * ingest-time gating. Stateless (no watermark, Append-safe): the bench
    * side is a batch frame whose distinct shingle ids broadcast into a
    * stream-static join, so each micro-batch is one narrow shingle pass
    * plus a broadcast probe. A doc with zero output rows is clean;
    * dedupe/aggregate hits downstream where doc-level flags are needed.
    */
  def contaminationHits(docs: DataFrame, bench: DataFrame,
                        idCol: String, textCol: String,
                        benchTextCol: String, k: Int = 8): DataFrame = {
    val benchIds = Dedup.shingleIdsPoly(
        bench.select(lit(0L).as("__bid"), col(benchTextCol)), "__bid", benchTextCol, k)
      .select(col("tid")).distinct()
    Dedup.shingleIdsPoly(docs.select(col(idCol), col(textCol)),
        idCol, textCol, k, distinct = false)
      .join(broadcast(benchIds), "tid")
      .select(col(idCol), col("tid"))
  }
}
