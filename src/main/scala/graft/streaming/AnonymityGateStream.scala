package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TTLConfig, ValueState}

/** Ingest-time k-anonymity admission — the level-0 gate of
  * [[graft.operators.Privacy.kAnonymize]] as a stream: records arrive
  * as (qi_key, id) and are RELEASED only once their quasi-identifier
  * group has accumulated k members; the first k-1 arrivals of a group
  * wait in state and flush together the moment member k arrives, and
  * everything after streams through immediately. A group that never
  * reaches k never releases — exactly the
  * suppression semantics, applied at arrival time instead of in a
  * batch pass.
  *
  * State hygiene: per group, one counter plus AT MOST k-1 buffered ids
  * (the buffer clears on release and is never repopulated) — state is
  * bounded by (k-1)·|groups| regardless of stream length.
  *
  * Emission: (qi_key, id, rn) with rn the group admission index —
  * deterministic given arrival order; the released ID SET equals the
  * batch operator's level-0 release over the union of batches
  * (StreamingSpec pins it, including across a checkpoint restart).
  */
class AnonymityGateProcessor(k: Int)
    extends StatefulProcessor[String, (String, Long), (String, Long, Long)] {

  @transient private var cnt: ValueState[Long] = _
  @transient private var buf: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    cnt = getHandle.getValueState[Long]("cnt", Encoders.scalaLong, TTLConfig.NONE)
    buf = getHandle.getListState[Long]("buf", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(String, Long, Long)] = {
    var c = if (cnt.exists()) cnt.get() else 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    rows.foreach { case (_, id) =>
      c += 1
      if (c < k) {
        buf.appendValue(id)
      } else if (c == k) {
        // the barrier lifts: flush the waiting k-1 plus this member
        var rn = 0L
        buf.get().foreach { held =>
          rn += 1; out += ((key, held, rn))
        }
        out += ((key, id, k.toLong))
        buf.clear()
      } else {
        out += ((key, id, c))
      }
    }
    cnt.update(c)
    out.iterator
  }
}

object AnonymityGateStream {
  /** Wire the gate onto a (qi_key, id) stream; emits (qi_key, id, rn)
    * for admitted records only, in Append mode.
    */
  def apply(ds: Dataset[(String, Long)], k: Int): Dataset[(String, Long, Long)] = {
    import ds.sparkSession.implicits._
    require(k > 0, s"k must be positive, got $k")
    ds.groupByKey(_._1).transformWithState(new AnonymityGateProcessor(k),
      TimeMode.None(), OutputMode.Append())
  }
}
