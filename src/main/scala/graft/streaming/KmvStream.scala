package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset

/** Ingest-time twin of the batch KMV distinct sketch
  * ([[graft.operators.Sketches.kminNdv]]): per-group k-smallest-hash
  * state, a running distinct-count estimate per micro-batch — the
  * "how many distinct users/docs has this shard seen" monitor without
  * a per-id state store (exact streaming dedup state grows with NDV;
  * this is k longs per group, forever).
  *
  * The sketch update is a pure set-union fold (the aggregate's offer
  * rule, replicated bit-for-bit: distinct, keep k smallest), so arrival
  * order, batch splits, and restarts cannot change the final state —
  * once the same ids have flowed through, the emitted estimate EQUALS
  * the batch [[graft.operators.Sketches.kminNdv]] readout on the same
  * data (StreamingSpec pins it, including across a checkpoint
  * restart). Emission per touched group per batch:
  * (group, sketchSize, ndvEst) — exact (= sketchSize) until the sketch
  * saturates at k.
  *
  * In rows: (group, id) — raw non-negative ids; hashing happens here
  * with the house affine map (same as the batch operator).
  */
object KmvStream {
  /** Wire the sketch onto a (group, id) stream. `k` as in the batch
    * operator (256–4096 → ~2–8% relative error once saturated).
    */
  def ndv(ds: Dataset[(String, Long)], k: Int):
      Dataset[(String, Long, Long)] = {
    require(k >= 2, s"k must be >= 2, got $k")
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "sk", newSequenceEncoder[Seq[Long]]) { (key, sk, rows) =>
      val set = new java.util.TreeSet[Long]()
      sk.foreach(_.foreach(set.add))
      rows.foreach { case (_, id) =>
        val h = Math.floorMod(id * 1000003L + 17L,
          graft.operators.Sketches.M)
        if (set.size < k) { set.add(h); () }
        else if (h < set.last()) {
          if (set.add(h)) { set.remove(set.last()); () }
        }
      }
      val arr = set.asScala.toVector
      val est =
        if (arr.length < k) arr.length.toLong
        else ((k - 1).toLong * graft.operators.Sketches.M) / arr(k - 1)
      (arr, Iterator.single((key, arr.length.toLong, est)))
    }
  }
}
