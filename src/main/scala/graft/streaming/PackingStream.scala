package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming sequence packing — the stateful counterpart of
  * [[graft.operators.Packing]]: each shard keeps a running token offset
  * in typed ValueState, so documents arriving across micro-batches pack
  * into the same fixed-capacity bins the batch op would assign when the
  * per-shard arrival order equals the id order (StreamingSpec pins
  * batch == stream on exactly that fixture). State is one long per
  * shard — bounded by the shard count, not the corpus.
  *
  * Input: (shard, docId, nTokens). Output: (shard, docId, startOff,
  * firstBin, lastBin) — same formulas as Packing.packPositions. Rows
  * within a micro-batch are sorted by docId before applying the offset,
  * because iterator order inside a batch is not deterministic.
  */
object PackingStream {
  /** Wire the offsets onto a (shard, docId, nTokens) stream. */
  def apply(ds: Dataset[(Long, Long, Long)], capacity: Long)
      : Dataset[(Long, Long, Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "offset", Encoders.scalaLong, OutputMode.Update()) {
      (key, off, rows) =>
        var o = off.getOrElse(0L)
        val out = rows.toArray.sortBy(_._2).map { case (_, docId, n) =>
          val start = o
          o += n
          (key, docId, start, start / capacity,
            (start + math.max(n, 1L) - 1L) / capacity)
        }
        (o, out.iterator)
    }
  }
}
