package graft.streaming

import org.apache.spark.sql.Dataset

/** Ingest-time weighted sampling — `Sampling.weightedSample` as a
  * stream: rows arrive as (group, id, weight); each group keeps the k
  * smallest rational priorities ((id·1000003 + 17) mod 1e9+7 div
  * max(w, 1), ties by id) seen so far in state — exactly k (priority,
  * id, weight) entries per group regardless of stream length (the
  * reservoir contract: state never grows, a heavy item can only REPLACE
  * a weaker one). After every micro-batch the processor re-emits its
  * group's CURRENT sample, rn-tagged in priority order, so a monitor
  * always sees the live sample.
  *
  * Because priorities are deterministic per row, the final emitted
  * sample equals the BATCH `weightedSample` over the union of all
  * batches — arrival order and batch boundaries cannot change the k
  * smallest of a fixed multiset (StreamingSpec pins batch == stream).
  */
object SamplingStream {
  /** Wire the reservoir onto a (group, id, weight) stream; after each
    * batch a group re-emits its full current sample as (group, rn, id,
    * weight, priority), smallest priority first. State: the sample as
    * one typed Seq of (priority, id, weight).
    */
  def apply(ds: Dataset[(String, Long, Long)], k: Int)
      : Dataset[(String, Long, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "sample", newSequenceEncoder[Seq[(Long, Long, Long)]]) {
      (key, sample, rows) =>
        var buf = sample.fold(Vector.empty[(Long, Long, Long)])(_.toVector)
        rows.foreach { case (_, id, w) =>
          // floorMod (not %) so negative ids still hash onto [0, P) — the
          // batch operator's pmod, kept in lockstep
          val pri = math.floorMod(id * 1000003L + 17L, 1000000007L) / math.max(w, 1L)
          buf = (pri, id, w) +: buf
        }
        // dedup BY ID keeping the smallest priority: a re-offered id with
        // a changed weight must never occupy two reservoir slots (the
        // batch operator emits one row per unique id); then keep the k
        // smallest.
        buf = buf.groupBy(_._2).valuesIterator
          .map(_.minBy(e => (e._1, e._3))).toVector
          .sortBy(e => (e._1, e._2)).take(k)
        (buf, buf.iterator.zipWithIndex.map { case ((p, id, w), i) =>
          (key, i + 1L, id, w, p)
        })
    }
  }
}
