package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Ingest-time twin of the batch tick-dispersion census
  * ([[graft.operators.Burstiness.tickDispersion]]): the per-(group,
  * tick) count cells are the stream state — calendar-bounded, never
  * event-volume — and each micro-batch re-emits the post-batch count
  * for every cell it touched (upsert semantics, the
  * [[HistDriftStream]]/[[AgreementStream]] pattern).
  *
  * The Fisher index is a GLOBAL function of the whole tick table (it
  * needs the span and every count), so it stays reader-side:
  * [[graft.operators.Burstiness.dispersionFromTicks]] over the
  * upserted table IS the readout — batch == stream reduces to
  * tick-table equality, which holds under any arrival order, batch
  * split, or restart because cell counts are pure commutative sums
  * (StreamingSpec pins all three).
  *
  * In rows: (group, tickIndex) — bin upstream with the batch floor
  * (`unix_micros(ts) div stepMicros`; Math.floorDiv on the JVM side).
  * Out rows: (group, tick, n).
  */
object TickDispersionStream {
  def cells(ds: Dataset[(String, Long)]):
      Dataset[(String, Long, Long)] = {
    import ds.sparkSession.implicits._
    KeyedFold(ds)(identity, "n", Encoders.scalaLong) { (key, n, rows) =>
      val total = n.getOrElse(0L) + rows.size
      (total, Iterator.single((key._1, key._2, total)))
    }
  }
}
