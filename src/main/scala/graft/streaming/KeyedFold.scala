package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TimerValues, TTLConfig, ValueState}

/** The one read-modify-write lifecycle of the stateful ingest twins:
  * one typed `ValueState[S]` per key, loaded as `Option[S]` (None for a
  * key never seen), folded with the key's micro-batch rows by `step`,
  * and always written back — no twin clears a key. State never expires
  * (`TTLConfig.NONE`) and no twin uses timers (`TimeMode.None()`); both
  * decisions live here and nowhere else.
  *
  * `rows` is never empty (a key is called only for a micro-batch that
  * holds rows for it). `step` must consume `rows` before it returns the
  * new state; the output iterator it returns may stay lazy.
  *
  * The twins whose state grows by `ListState.appendValue`
  * (`AnnStream`, `CdcDedupStream`, `ImageDedupStream`, `NearDupStream`,
  * `TypoStream`, `AnonymityGateStream`) keep their own processors: a
  * whole-value rewrite would multiply their per-batch state writes by
  * up to their per-key cap.
  */
class KeyedFold[K, I, O, S](stateName: String, stateEncoder: Encoder[S],
    step: (K, Option[S], Iterator[I]) => (S, Iterator[O]))
    extends StatefulProcessor[K, I, O] {

  @transient private var state: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

  override def handleInputRows(key: K, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] = {
    val (next, out) =
      step(key, if (state.exists()) Some(state.get()) else None, rows)
    state.update(next)
    out
  }
}

object KeyedFold {
  /** `ds.groupByKey(key).transformWithState` over a [[KeyedFold]]. */
  def apply[I, K: Encoder, S, O: Encoder](ds: Dataset[I])(key: I => K,
      stateName: String, stateEncoder: Encoder[S],
      mode: OutputMode = OutputMode.Append())(
      step: (K, Option[S], Iterator[I]) => (S, Iterator[O])): Dataset[O] =
    ds.groupByKey(key).transformWithState(
      new KeyedFold(stateName, stateEncoder, step), TimeMode.None(), mode)
}
