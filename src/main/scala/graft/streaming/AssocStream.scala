package graft.streaming

import org.apache.spark.sql.Dataset

/** Ingest-time twin of the batch association-rule pair generation
  * ([[graft.operators.Association.rules2]]'s pair stage): baskets
  * arrive as (basket, item) LINES — a cart event stream, an order-line
  * CDC feed — and every co-membership pair is emitted EXACTLY ONCE,
  * the moment its second item arrives. State per basket is its
  * distinct item set, bounded by the basket-size contract (the same
  * contract that bounds the batch pair space).
  *
  * Duplicate (basket, item) lines are absorbed by the state-set check
  * — membership semantics, the batch `distinct()`. Pairs are emitted
  * canonically ordered (a < b), so the downstream count table equals
  * the batch `pairs` stage at minSupport 1 under ANY arrival order
  * (StreamingSpec pins it); the support/confidence/lift cuts stay
  * read-side — they need global counts, which is one bounded
  * aggregate over the emitted pair stream, not per-key state.
  *
  * In rows: (basket, item). Out: (item_a, item_b), a < b, once per
  * realized co-membership.
  */
object AssocStream {
  def basketPairs(ds: Dataset[(String, String)]):
      Dataset[(String, String)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "items", newSequenceEncoder[Seq[String]]) { (key, items, rows) =>
      val held = scala.collection.mutable.LinkedHashSet.empty[String]
      items.foreach(held ++= _)
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      // intra-batch rows apply in sorted order so the emission set is
      // deterministic under any within-batch arrival order (the pairs
      // are the same either way; this pins WHICH call emits them).
      // Nulls drop BEFORE the sort — Ordering[String] NPEs on null, and
      // the batch twin (rules2) filters null items too.
      rows.filter(_._2 != null).toArray.sortBy(_._2).foreach { case (_, it) =>
        if (!held.contains(it)) {
          held.foreach { h =>
            out += (if (h < it) (h, it) else (it, h))
          }
          held += it
        }
      }
      (held.toSeq, out.iterator)
    }
  }
}
