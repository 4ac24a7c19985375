package graft.streaming

import org.apache.spark.sql.Dataset

/** Ingest-time twin of the batch half-life decay
  * ([[graft.operators.Decay.halfLifeCounts]]): per-key trending
  * weight, re-emitted once per micro-batch that touches the key. State
  * is the key's live (bucket, count) histogram — at most 63 entries by
  * construction (older buckets shift to zero and are pruned), anchored
  * at the key's own newest bucket, which ADVANCES as data arrives (the
  * streaming-natural form of the batch operator's corpus-max anchor;
  * on a per-key slice the two agree exactly, StreamingSpec pins it).
  *
  * The decay is fully ORDER-INDEPENDENT — a late row adds to its
  * bucket and re-weighs exactly as if it had arrived first, because
  * the weight is a pure function of (bucket, anchor); this twin
  * therefore needs no monotonicity caveat at all. Integer right-shift
  * weights, the batch contract.
  *
  * In: (key, tsMicros). Out per touched key per batch:
  * (key, anchor_bucket, n_events, decayed_weight) — n_events counts
  * the LIVE buckets (ages ≥ 63 pruned, matching batch).
  */
object DecayStream {
  def trending(ds: Dataset[(String, Long)], halfLifeDays: Int):
      Dataset[(String, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    val bucketUs = halfLifeDays.toLong * 24L * 3600L * 1000000L
    KeyedFold(ds)(_._1, "hist", newSequenceEncoder[Seq[(Long, Long)]]) {
      (key, hist, rows) =>
        val counts = scala.collection.mutable.Map.empty[Long, Long]
        hist.foreach(_.foreach { case (b, c) => counts(b) = c })
        for ((_, ts) <- rows) {
          val b = Math.floorDiv(ts, bucketUs)
          counts(b) = counts.getOrElse(b, 0L) + 1L
        }
        val anchor = counts.keys.max
        val live = counts.toSeq.filter { case (b, _) => anchor - b < 63 }
          .sortBy(_._1)
        val n = live.map(_._2).sum
        val decayed = live.map { case (b, c) => c >> (anchor - b) }.sum
        (live, Iterator.single((key, anchor, n, decayed)))
    }
  }
}
