package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

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
class TickCellProcessor
    extends StatefulProcessor[(String, Long), (String, Long),
      (String, Long, Long)] {

  @transient private var n: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: (String, Long),
      rows: Iterator[(String, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, Long, Long)] = {
    val total = (if (n.exists()) n.get() else 0L) + rows.size
    n.update(total)
    Iterator.single((key._1, key._2, total))
  }
}

object TickDispersionStream {
  def cells(ds: Dataset[(String, Long)]):
      Dataset[(String, Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(identity).transformWithState(
      new TickCellProcessor, TimeMode.None(),
      OutputMode.Append())
  }
}
