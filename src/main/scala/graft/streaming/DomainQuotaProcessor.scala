package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming per-domain quota — the q148 C4-style cap as a stream: pass
  * through at most `k` documents per key over the life of the stream,
  * earliest micro-batches first. State is ONE long per domain (the used
  * count), RocksDB-backed — at 10^8 registered domains that is a few GB
  * across the cluster, and a domain whose quota is exhausted costs one
  * counter read per arriving row, so a viral domain cannot grow state.
  * Within a micro-batch rows are admitted in ascending id order so the
  * output is deterministic under shuffle (the batch parity in
  * StreamingSpec replays the same batches in order).
  */
object DomainQuotaProcessor {
  /** Wire the quota onto a (domain, doc_id) stream; emits
    * (domain, doc_id, rn) for admitted documents only.
    */
  def apply(ds: Dataset[(String, Long)], k: Int): Dataset[(String, Long, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "used", Encoders.scalaLong) { (key, used, rows) =>
      var c = used.getOrElse(0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      for (id <- rows.map(_._2).toArray.sorted if c < k) {
        c += 1
        out += ((key, id, c))
      }
      (c, out.iterator)
    }
  }
}
