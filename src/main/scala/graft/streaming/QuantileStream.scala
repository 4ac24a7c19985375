package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

import graft.functions.expressions.QuantileSketchAgg

/** Ingest-time quantiles — the [[QuantileSketchAgg]] summary as stream
  * state, for "what do p50/p95/p99 document length look like RIGHT NOW
  * on this shard?" distribution monitoring without any rescan. One
  * summary per shard in state (≤ k·levels doubles regardless of stream
  * length — levels grow as log2(n/k)); every micro-batch folds its rows
  * in with the IDENTICAL deterministic compaction the batch aggregate
  * applies ([[QuantileSketchAgg.Sketch]], shared class) and re-emits
  * the shard's current estimates.
  *
  * The cross-shard merged view stays batch-side (summaries are
  * mergeable — ship the state snapshots and [[QuantileSketchAgg]] them,
  * the q108 two-phase contract), and the rank-error guarantee
  * 2·(levels+1)·n/k holds for ANY merge/arrival order, which is what
  * the spec pins (estimates are order-dependent; the guarantee is not).
  */
object QuantileStream {

  /** Wire the sketch onto a (shard, value) stream; after each batch a
    * shard re-emits (shard, p, est, n) for every requested quantile.
    */
  def apply(ds: Dataset[(Long, Double)], k: Int, quantiles: Seq[Double])
      : Dataset[(Long, Double, Double, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "sketch", Encoders.BINARY) { (key, state, rows) =>
      val sk = state.map(QuantileSketchAgg.fromBytes(_, k))
        .getOrElse(new QuantileSketchAgg.Sketch(k))
      rows.foreach { case (_, v) => sk.add(v) }
      (QuantileSketchAgg.toBytes(sk),
        if (sk.n == 0L) Iterator.empty
        else quantiles.iterator.map(q => (key, q, sk.quantile(q), sk.n)))
    }
  }
}
