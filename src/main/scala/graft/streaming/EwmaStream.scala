package graft.streaming

import org.apache.spark.sql.Dataset

/** Ingest-time twin of the batch EWMA chart
  * ([[graft.operators.Ewma.controlChart]]) — the standard ONLINE form:
  * the baseline moments (n, tot, Σx²) are TRAINED parameters (the
  * batch op derives them from the full series; a stream cannot see its
  * own future), and the dyadic window is the per-key state — the last
  * ≤ `memory` tick values, oldest first. Every emitted row replays the
  * batch arithmetic EXACTLY (BigInt, the same cross-multiplied
  * comparison), so batch == stream on the same prefix reduces to the
  * window multiset matching (StreamingSpec pins it, incl. restart).
  *
  * State is one typed `Seq[Long]` of ≤ `memory` values per key; within a
  * micro-batch rows apply in tick order, across batches the
  * ordered-arrival contract of CusumStream applies.
  *
  * In rows: (key, tick, x). Out: (key, tick, x, ewmaMilli, alarm).
  */
object EwmaStream {
  /** @param nRef   trained series length
    * @param totRef trained Σx
    * @param sx2Ref trained Σx² (BigInt — x² can pass a long)
    */
  def monitor(ds: Dataset[(String, Long, Long)], memory: Int, l: Int,
              nRef: Long, totRef: Long, sx2Ref: BigInt):
      Dataset[(String, Long, Long, Long, Boolean)] = {
    import ds.sparkSession.implicits._
    val n = BigInt(nRef)
    val tot = BigInt(totRef)
    KeyedFold(ds)(_._1, "window", newSequenceEncoder[Seq[Long]]) { (key, window, rows) =>
      var win = window.fold(Vector.empty[Long])(_.toVector) // oldest -> newest
      val out = rows.toArray.sortBy(_._2).map { case (_, tick, x) =>
        win = (win :+ x).takeRight(memory)
        val m = win.size - 1
        // oldest index 0 carries weight 2^0, the newest 2^m — exactly
        // the batch lag weighting 2^(m-i)
        val num = win.indices.map(i => BigInt(win(i)) << i).sum
        val dd = (BigInt(1) << (m + 1)) - 1
        val delta = num * n - tot * dd
        val alarm =
          3 * delta * delta > l.toLong * l * dd * dd * (n * sx2Ref - tot * tot)
        (key, tick, x, (1000 * num / dd).toLong, alarm)
      }
      (win, out.iterator)
    }
  }
}
