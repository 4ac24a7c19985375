package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming equivalents ([[KeyedFold]], state API v2) of the two
  * batch session/sequence exports, with cross-batch state:
  *
  *  - [[SessionLabelProcessor]] ≡ `Sessionize.withSessionIds` (q81): label
  *    every event with its per-user session sequence under a gap rule —
  *    new session when `ts - prev_ts > gapMicros`, seq starts at 1.
  *  - [[BoundedSequenceProcessor]] ≡ the q110 bounded sequence export:
  *    per user, the first `maxLen` events by (ts, event_id) as a joined
  *    event-type string — state is capped at `maxLen` rows per key, so a
  *    hot user cannot grow the store.
  *
  * Both assume per-user event-time-ordered arrival ACROSS batches (replay /
  * log-compaction order, the contract of the batch exports); within a
  * micro-batch rows are sorted before folding, so intra-batch disorder is
  * fine. StreamingSpec pins batch≡stream on a two-batch split.
  */
object SessionLabelProcessor {
  /** (userId, usMicros, eventId) stream → appended (eventId, userId, sessionSeq). */
  def apply(ds: Dataset[(Long, Long, Long)], gapMicros: Long): Dataset[(Long, Long, Long)] = {
    import ds.sparkSession.implicits._
    // (last event-time micros, session seq so far) per user
    KeyedFold(ds)(_._1, "sess", Encoders.product[(Long, Long)]) { (key, sess, rows) =>
      var (lastUs, seq) = sess.getOrElse((0L, 0L))
      val out = rows.toArray.sortBy(r => (r._2, r._3)).map { case (_, us, eventId) =>
        if (seq == 0L || us - lastUs > gapMicros) seq += 1
        lastUs = us
        (eventId, key, seq)
      }
      ((lastUs, seq), out.iterator)
    }
  }
}

/** One kept event in a user's bounded sequence. */
case class SeqEvent(us: Long, eventId: Long, eventType: String)

/** Per-user running answer: first `maxLen` events so far, '>'-joined. */
case class SeqOutput(userId: Long, nEvents: Long, seq: String)

object BoundedSequenceProcessor {
  /** (userId, usMicros, eventId, eventType) stream → updated per-user
    * bounded sequences (Update mode; latest row per key is the answer).
    * The kept prefix itself IS the state — capped at maxLen rows, ordered.
    */
  def apply(ds: Dataset[(Long, Long, Long, String)], maxLen: Int): Dataset[SeqOutput] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(_._1, "kept", newSequenceEncoder[Seq[SeqEvent]],
        OutputMode.Update()) { (key, kept, rows) =>
      val merged = (kept.getOrElse(Nil) ++ rows.map(r => SeqEvent(r._2, r._3, r._4)))
        .sortBy(e => (e.us, e.eventId))
        .take(maxLen)
      (merged, Iterator.single(SeqOutput(key, merged.length.toLong,
        merged.map(_.eventType).mkString(">"))))
    }
  }
}
