package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.Dataset

import graft.functions.expressions.MisraGriesAgg

/** Ingest-time heavy hitters — the q108 Misra–Gries summary as a
  * stream. Tokens arrive as (shard, item) rows; each shard maintains a
  * k-counter MG summary in state (bounded: exactly k (item, count)
  * entries per shard regardless of stream length — a viral token grows
  * one counter, never state). After every micro-batch the processor
  * emits its shard's CURRENT summary tagged with the batch's row count,
  * so a monitor sees candidates continuously; the cross-shard merged
  * view and the exact recount stay batch-side (the q108 two-phase
  * contract: with per-shard error n_shard/(k+1), any item above the
  * global threshold survives in at least one shard).
  *
  * The offer sequence is the SAME kernel as the batch aggregate
  * ([[MisraGriesAgg.offer]]), applied in ascending (item-order is not
  * assumed) — within a micro-batch rows are offered in the iterator's
  * arrival order for throughput, and the StreamingSpec parity fixture
  * feeds one shard in a deterministic order so batch == stream exactly.
  */
object HeavyHittersStream {
  /** Wire the summary onto a (shard, item) stream; after each batch a
    * shard re-emits its full current summary (count desc, item asc).
    * State: the k counters as one typed Seq of (item, count).
    */
  def apply(ds: Dataset[(Long, String)], k: Int): Dataset[(Long, String, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "mg", newSequenceEncoder[Seq[(String, Long)]]) {
      (key, entries, rows) =>
        val buf = mutable.HashMap.empty[String, Long]
        entries.foreach(buf ++= _)
        rows.foreach { case (_, item) =>
          if (item != null) MisraGriesAgg.offer(buf, item, 1L, k)
        }
        val sorted = buf.toSeq.sortBy { case (item, c) => (-c, item) }
        (sorted, sorted.iterator.map { case (item, c) => (key, item, c) })
    }
  }
}
