package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TimeMode, TTLConfig}

/** Ingest-time twin of the batch level-2 sequential pattern miner
  * ([[graft.operators.SeqPatterns.level2]]): per-entity state is
  * k last-seen timestamps (headed by an alphabet fingerprint slot, so
  * a restart against a checkpoint written by a different alphabet of
  * the same size fails loudly instead of misattributing slots) + k²
  * running min gaps (k = |alphabet| ≤ 16 — BOUNDED per entity, never
  * the event history), and each
  * micro-batch re-emits the post-batch value for every cell it
  * improved (upsert semantics, the HistDriftStream pattern) plus a
  * one-time seen-marker per (entity, type) — the antecedent-support
  * row the rule metrics need. The rule readout is a GLOBAL function
  * of all entities, so it stays reader-side:
  * [[graft.operators.SeqPatterns.rulesFromCells]] over the upserted
  * cell table IS the readout — batch == stream reduces to cell-table
  * equality (StreamingSpec pins parity incl. shuffled within-batch
  * arrival, batch splits, and a checkpoint restart).
  *
  * Why the min-gap recurrence is exact: when b arrives at t, the only
  * NEW candidate pairs end at t, and among a-occurrences before t the
  * LATEST one minimizes t − t_a; pairs ending at earlier b's were
  * already folded in when those b's arrived. So min over
  * (last-seen a, arriving b) candidates equals the batch min over all
  * (a-occurrence, first-b-after) pairs. Same-timestamp events never
  * chain: last-seen updates only after a whole timestamp group is
  * processed, and the strict `t_a < t` guard also covers a timestamp
  * group split across micro-batches.
  *
  * Arrival contract: rows sort by timestamp WITHIN a micro-batch
  * (shuffled intra-batch arrival is free); ACROSS batches the
  * ordered-arrival contract of CusumStream/EwmaStream applies — a
  * late event older than the entity's high-water mark contributes no
  * backdated pairs (measure feed disorder with the q296 watermark
  * advisor first).
  *
  * In rows: (entity, tsUs, type) — pre-filter nulls and off-alphabet
  * types. Out rows: (entity, ante, cons, minGapUs), with
  * cons = "*" marking "ante first seen" (gap 0, unused).
  */
class SeqPatternsCellProcessor(alphabet: Seq[String])
    extends StatefulProcessor[String, (String, Long, String),
      (String, String, String, Long)] {

  private val k = alphabet.size
  private val idx = alphabet.zipWithIndex.toMap
  // 64-bit fingerprint of the ORDERED alphabet, persisted as the head
  // slot of the lastSeen state: restored state is only valid for the
  // exact alphabet that wrote it — a restart against a checkpoint from
  // a reordered or substituted alphabet of the same size would
  // otherwise silently misattribute lastSeen/minGap slots to the wrong
  // types (length alone can't tell them apart).
  private val alphFp: Long = SeqPatternsStream.alphabetFingerprint(alphabet)

  @transient private var lastSeen: ListState[Long] = _
  @transient private var minGap: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    lastSeen = getHandle.getListState[Long]("lastSeen", Encoders.scalaLong, TTLConfig.NONE)
    minGap = getHandle.getListState[Long]("minGap", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, String, String, Long)] = {
    // State layout: lastSeen = [alphFp, t_0 .. t_{k-1}] (fingerprint
    // head slot), minGap = k² running mins. Empty = fresh entity; any
    // populated state must carry THIS alphabet's fingerprint and the
    // matching lengths — anything else is a checkpoint written by a
    // different alphabet (or corrupt) and must fail, not be silently
    // reinterpreted slot-by-slot.
    val rawLast = lastSeen.get().toArray
    val rawMg = minGap.get().toArray
    val fresh = rawLast.isEmpty && rawMg.isEmpty
    // k-slot lastSeen with no fingerprint header is the pre-r11 state
    // layout — a real format change, not an alphabet mismatch; name
    // the actual cause instead of blaming the alphabet.
    if (!fresh && rawLast.length == k && rawMg.length == k * k)
      throw new IllegalStateException(
        s"SeqPatternsStream state for entity '$key' uses the " +
          "pre-fingerprint state format (k-slot lastSeen, no header " +
          "slot); this layout predates the state-validity fingerprint " +
          "and has no migration path — restart from a fresh checkpoint")
    if (!fresh && (rawLast.length != k + 1 || rawLast(0) != alphFp ||
        rawMg.length != k * k))
      throw SeqPatternsStream.stateContractError("SeqPatternsStream",
        key, "alphabet", alphFp, s"${k + 1}+${k * k}",
        s"${rawLast.length}+${rawMg.length}", rawLast.headOption)
    val last = if (fresh) Array.fill(k)(Long.MinValue) else rawLast.tail
    val mg = if (fresh) Array.fill(k * k)(Long.MaxValue) else rawMg
    val touched = scala.collection.mutable.LinkedHashSet.empty[Int]
    val seenNow = scala.collection.mutable.LinkedHashSet.empty[Int]
    val byTs = rows.toArray.collect {
      case (_, ts, t) if idx.contains(t) => (ts, idx(t))
    }.groupBy(_._1).toSeq.sortBy(_._1)
    for ((ts, group) <- byTs) {
      val types = group.map(_._2).distinct
      // close gaps from strictly-earlier occurrences only (last is
      // not yet updated with this timestamp group)
      for (bi <- types; ai <- 0 until k)
        if (last(ai) != Long.MinValue && last(ai) < ts) {
          val g = ts - last(ai)
          if (g < mg(ai * k + bi)) { mg(ai * k + bi) = g; touched += ai * k + bi }
        }
      for (ti <- types) {
        if (last(ti) == Long.MinValue) seenNow += ti
        if (ts > last(ti)) last(ti) = ts
      }
    }
    lastSeen.clear(); lastSeen.appendValue(alphFp)
    last.foreach(lastSeen.appendValue)
    minGap.clear(); mg.foreach(minGap.appendValue)
    seenNow.iterator.map(ti => (key, alphabet(ti), "*", 0L)) ++
      touched.iterator.map(p =>
        (key, alphabet(p / k), alphabet(p % k), mg(p)))
  }
}

/** Ingest-time twin of the batch level-3 gap-constrained pattern miner
  * ([[graft.operators.SeqPatterns.level3]]) — B129's streaming side.
  * Per-entity state is BOUNDED (never the event history): k last-seen
  * timestamps (fingerprint-headed, the level-2 convention), k²
  * valid-prefix-b timestamps, and k³ running step-2 min gaps.
  *
  * Why the recurrence is exact for triple PRESENCE — the trap is real
  * and one-sided: the obvious dual state ("latest b later flagged by
  * an in-gap c", the suffix flag) is NOT exact, because a newer b
  * inside the gap window overwrites an older b that a future c could
  * still flag (a@0, b@9m, b@15m, c@16m, G=10m: only the 9m b
  * completes a chain — its step-1 gap is 9 ≤ G while the 15m b's is
  * 15 > G — yet "latest b" state forgot it; StreamingSpec pins this
  * exact fixture). Flipping the flag to the PREFIX side removes the
  * race: validB[a][b] = the LATEST b-occurrence whose strictly-prior
  * last-seen a closed a step-1 gap ≤ G. A chain exists at c-arrival
  * t_c iff SOME valid-prefix b sits in [t_c − G, t_c); all
  * b-occurrences seen so far are < t_c, so the latest valid-prefix b
  * is in that window iff any is — one timestamp per (a, b) suffices,
  * and the step-1 test was evaluated at b's own arrival where "latest
  * a strictly before this b" is exactly the level-2 last-seen state.
  * The emitted cell value is the running min over c-arrivals of
  * (t_c − validB[a][b]); it is ≤ G iff the entity supports the triple
  * (≤ G ⟹ that c closed a genuine chain; a genuine chain ⟹ its c saw
  * a valid-prefix b within the window ⟹ min ≤ G), so the reader's gap
  * gate reproduces the batch count exactly.
  *
  * Same-timestamp handling (incl. a group split across micro-batches):
  * per timestamp group, c-completions read validB from strictly
  * earlier groups, THEN b-arrivals update validB from strictly earlier
  * last-seen, THEN last-seen absorbs the group — simultaneous events
  * never chain in any role, matching the batch grid semantics.
  *
  * In rows: (entity, tsUs, type). Out rows:
  * (entity, step1, step2, step3, minGapUs) upsert cells (min is
  * monotone decreasing) plus one-time (entity, type, "*", "*", 0)
  * seen-markers — [[graft.operators.SeqPatterns.triplesFromCells]]
  * over the upserted table IS the readout.
  */
class SeqPatternsL3Processor(alphabet: Seq[String], maxGapMinutes: Long)
    extends StatefulProcessor[String, (String, Long, String),
      (String, String, String, String, Long)] {

  private val k = alphabet.size
  private val gapUs = maxGapMinutes * 60000000L
  private val idx = alphabet.zipWithIndex.toMap
  // the gap is part of the semantics validB was written under
  private val alphFp: Long =
    SeqPatternsStream.alphabetFingerprint(alphabet, gapUs)

  @transient private var lastSeen: ListState[Long] = _
  @transient private var validB: ListState[Long] = _
  @transient private var minG: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    lastSeen = getHandle.getListState[Long]("lastSeen3", Encoders.scalaLong, TTLConfig.NONE)
    validB = getHandle.getListState[Long]("validB", Encoders.scalaLong, TTLConfig.NONE)
    minG = getHandle.getListState[Long]("minG", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(String, String, String, String, Long)] = {
    val rawLast = lastSeen.get().toArray
    val rawVb = validB.get().toArray
    val rawM = minG.get().toArray
    val fresh = rawLast.isEmpty && rawVb.isEmpty && rawM.isEmpty
    if (!fresh && (rawLast.length != k + 1 || rawLast(0) != alphFp ||
        rawVb.length != k * k || rawM.length != k * k * k))
      throw SeqPatternsStream.stateContractError("SeqPatternsL3",
        key, "alphabet/gap", alphFp, s"${k + 1}+${k * k}+${k * k * k}",
        s"${rawLast.length}+${rawVb.length}+${rawM.length}",
        rawLast.headOption)
    val last = if (fresh) Array.fill(k)(Long.MinValue) else rawLast.tail
    val vb = if (fresh) Array.fill(k * k)(Long.MinValue) else rawVb
    val m = if (fresh) Array.fill(k * k * k)(Long.MaxValue) else rawM
    val touched = scala.collection.mutable.LinkedHashSet.empty[Int]
    val seenNow = scala.collection.mutable.LinkedHashSet.empty[Int]
    val byTs = rows.toArray.collect {
      case (_, ts, t) if idx.contains(t) => (ts, idx(t))
    }.groupBy(_._1).toSeq.sortBy(_._1)
    for ((ts, group) <- byTs) {
      val types = group.map(_._2).distinct
      // 1. c-completions against valid-prefix b's from STRICTLY
      //    earlier groups only
      for (ci <- types; ai <- 0 until k; bi <- 0 until k) {
        val v = vb(ai * k + bi)
        if (v != Long.MinValue && v < ts) {
          val g = ts - v
          val slot = (ai * k + bi) * k + ci
          if (g < m(slot)) { m(slot) = g; touched += slot }
        }
      }
      // 2. b-arrivals close step-1 gaps against strictly earlier a's
      for (bi <- types; ai <- 0 until k)
        if (last(ai) != Long.MinValue && last(ai) < ts &&
            ts - last(ai) <= gapUs && ts > vb(ai * k + bi))
          vb(ai * k + bi) = ts
      // 3. the group joins last-seen
      for (ti <- types) {
        if (last(ti) == Long.MinValue) seenNow += ti
        if (ts > last(ti)) last(ti) = ts
      }
    }
    lastSeen.clear(); lastSeen.appendValue(alphFp)
    last.foreach(lastSeen.appendValue)
    validB.clear(); vb.foreach(validB.appendValue)
    minG.clear(); m.foreach(minG.appendValue)
    seenNow.iterator.map(ti => (key, alphabet(ti), "*", "*", 0L)) ++
      touched.iterator.map { s =>
        val ci = s % k; val ab = s / k
        (key, alphabet(ab / k), alphabet(ab % k), alphabet(ci), m(s))
      }
  }
}

object SeqPatternsStream {
  /** 64-bit fingerprint of the ORDERED alphabet (FNV-ish seeded
    * polynomial over chars with a 0 separator per type), optionally
    * salted with semantics parameters (the L3 gap, the funnel gap
    * pair). Each salt is folded through the multiplier chain
    * SEPARATELY — a pre-combined linear mix (a*31+b) would let
    * distinct parameter vectors collide (e.g. gaps (1,32) and (2,1)),
    * and a restart with such changed gaps would silently reuse state
    * written under different semantics. Shared by all the
    * sequence-family processors so the state-validity contract can't
    * drift between them.
    */
  private[streaming] def alphabetFingerprint(alphabet: Seq[String],
                                             salts: Long*): Long = {
    var h = 1125899906842597L
    for (s <- alphabet) { h = 31 * h + 0; for (c <- s) h = 31 * h + c }
    for (s <- salts) { h = 31 * h + 1; h = h * 6364136223846793005L + s }
    h
  }

  /** The shared loud-failure for restored state that was written under
    * different parameters (or is corrupt) — reinterpreting slots
    * written by another alphabet/gap would silently misattribute them.
    */
  private[streaming] def stateContractError(processor: String,
      key: String, params: String, expectedFp: Long, expectedSlots: String,
      foundSlots: String, foundFp: Option[Long]): Nothing =
    throw new IllegalStateException(
      s"$processor state for entity '$key' was written by a different " +
        s"$params, by an older state format, or is corrupt (expected " +
        s"fingerprint $expectedFp with " +
        s"$expectedSlots slots, found $foundSlots slots" +
        foundFp.map(f => s", fingerprint $f").getOrElse("") +
        s") — restart with the checkpoint's original $params or a " +
        "fresh checkpoint")

  def cells(ds: Dataset[(String, Long, String)], alphabet: Seq[String]):
      Dataset[(String, String, String, Long)] = {
    require(alphabet.nonEmpty && alphabet.size <= 16,
      s"alphabet must be 1..16 types, got ${alphabet.size}")
    require(!alphabet.contains("*"),
      "\"*\" is reserved as the seen-marker sentinel consequent — an " +
        "alphabet containing it would corrupt the rulesFromCells readout")
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(
      new SeqPatternsCellProcessor(alphabet), TimeMode.None(),
      OutputMode.Append())
  }

  /** Level-3 ingest twin (see [[SeqPatternsL3Processor]]). Unlike the
    * level-2 cells, the max gap is a PROCESSOR parameter: the
    * valid-prefix-b state is only meaningful for the gap it was
    * written under (it is folded into the state fingerprint).
    */
  def cells3(ds: Dataset[(String, Long, String)], alphabet: Seq[String],
             maxGapMinutes: Long):
      Dataset[(String, String, String, String, Long)] = {
    require(alphabet.nonEmpty && alphabet.size <= 8,
      s"alphabet must be 1..8 types (k^3 state), got ${alphabet.size}")
    require(!alphabet.contains("*"),
      "\"*\" is reserved as the seen-marker sentinel — an alphabet " +
        "containing it would corrupt the triplesFromCells readout")
    require(maxGapMinutes > 0,
      s"maxGapMinutes must be positive, got $maxGapMinutes")
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1).transformWithState(
      new SeqPatternsL3Processor(alphabet, maxGapMinutes),
      TimeMode.None(), OutputMode.Append())
  }
}
