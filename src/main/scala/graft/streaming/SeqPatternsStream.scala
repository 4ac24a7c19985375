package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

object SeqPatternsStream {
  /** 64-bit fingerprint of the ORDERED alphabet (FNV-ish seeded
    * polynomial over chars with a 0 separator per type), optionally
    * salted with semantics parameters (the L3 gap, the funnel gap
    * pair). Each salt is folded through the multiplier chain
    * SEPARATELY — a pre-combined linear mix (a*31+b) would let
    * distinct parameter vectors collide (e.g. gaps (1,32) and (2,1)),
    * and a restart with such changed gaps would silently reuse state
    * written under different semantics. Shared by all the
    * sequence-family twins so the state-validity contract can't
    * drift between them.
    */
  private[streaming] def alphabetFingerprint(alphabet: Seq[String],
                                             salts: Long*): Long = {
    var h = 1125899906842597L
    for (s <- alphabet) { h = 31 * h + 0; for (c <- s) h = 31 * h + c }
    for (s <- salts) { h = 31 * h + 1; h = h * 6364136223846793005L + s }
    h
  }

  /** The shared loud failure for restored state that was written under
    * different parameters (or is corrupt): its fingerprint, or the
    * length of a parameter-sized slot array, differs from this run's —
    * reinterpreting slots written by another alphabet/gap would
    * silently misattribute them.
    */
  private[streaming] def checkState(twin: String, key: String,
      params: String, expectedFp: Long, foundFp: Long,
      expectedSizes: Seq[Int] = Nil, foundSizes: Seq[Int] = Nil): Unit =
    if (foundFp != expectedFp || foundSizes != expectedSizes)
      throw new IllegalStateException(
        s"$twin state for entity '$key' was written by a different " +
          s"$params or is corrupt (expected fingerprint $expectedFp" +
          sizes(expectedSizes) + s", found fingerprint $foundFp" +
          sizes(foundSizes) + s") — restart with the checkpoint's " +
          s"original $params or a fresh checkpoint")

  private def sizes(s: Seq[Int]): String =
    if (s.isEmpty) "" else s" with ${s.mkString("+")} slots"

  /** Ingest-time twin of the batch level-2 sequential pattern miner
    * ([[graft.operators.SeqPatterns.level2]]): per-entity state is one
    * typed (fingerprint, lastSeen, minGap) value — the alphabet
    * fingerprint (so a restart against a checkpoint written by a
    * different alphabet of the same size fails loudly instead of
    * misattributing slots), k last-seen timestamps and k² running min
    * gaps (k = |alphabet| ≤ 16 — BOUNDED per entity, never the event
    * history) — and each micro-batch re-emits the post-batch value for every cell it
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
  def cells(ds: Dataset[(String, Long, String)], alphabet: Seq[String]):
      Dataset[(String, String, String, Long)] = {
    require(alphabet.nonEmpty && alphabet.size <= 16,
      s"alphabet must be 1..16 types, got ${alphabet.size}")
    require(!alphabet.contains("*"),
      "\"*\" is reserved as the seen-marker sentinel consequent — an " +
        "alphabet containing it would corrupt the rulesFromCells readout")
    import ds.sparkSession.implicits._
    val k = alphabet.size
    val idx = alphabet.zipWithIndex.toMap
    // 64-bit fingerprint of the ORDERED alphabet, persisted with the
    // state: restored state is only valid for the exact alphabet that
    // wrote it — a restart against a checkpoint from a reordered or
    // substituted alphabet of the same size would otherwise silently
    // misattribute lastSeen/minGap slots to the wrong types (length
    // alone can't tell them apart).
    val alphFp = alphabetFingerprint(alphabet)
    // (alphFp, lastSeen t_0 .. t_{k-1}, minGap k² running mins)
    KeyedFold(ds)(_._1, "cells",
        Encoders.product[(Long, Seq[Long], Seq[Long])]) { (key, st, rows) =>
      st.foreach { case (fp, l, m) =>
        checkState("SeqPatternsStream", key, "alphabet", alphFp, fp,
          Seq(k, k * k), Seq(l.length, m.length))
      }
      val last = st.fold(Array.fill(k)(Long.MinValue))(_._2.toArray)
      val mg = st.fold(Array.fill(k * k)(Long.MaxValue))(_._3.toArray)
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
      ((alphFp, last.toSeq, mg.toSeq),
        seenNow.iterator.map(ti => (key, alphabet(ti), "*", 0L)) ++
          touched.iterator.map(p =>
            (key, alphabet(p / k), alphabet(p % k), mg(p))))
    }
  }

  /** Ingest-time twin of the batch level-3 gap-constrained pattern miner
    * ([[graft.operators.SeqPatterns.level3]]) — B129's streaming side.
    * Per-entity state is one typed BOUNDED value (never the event
    * history): the alphabet+gap fingerprint, k last-seen timestamps,
    * k² valid-prefix-b timestamps, and k³ running step-2 min gaps.
    * Unlike the level-2 cells, the max gap is part of the state's
    * meaning: the valid-prefix-b timestamps only hold for the gap they
    * were written under, so it is folded into the fingerprint.
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
    val k = alphabet.size
    val gapUs = maxGapMinutes * 60000000L
    val idx = alphabet.zipWithIndex.toMap
    // the gap is part of the semantics validB was written under
    val alphFp = alphabetFingerprint(alphabet, gapUs)
    // (alphFp, lastSeen k, validB k², minG k³)
    KeyedFold(ds)(_._1, "cells3",
        Encoders.product[(Long, Seq[Long], Seq[Long], Seq[Long])]) {
      (key, st, rows) =>
        st.foreach { case (fp, l, v, m) =>
          checkState("SeqPatternsL3", key, "alphabet/gap", alphFp, fp,
            Seq(k, k * k, k * k * k), Seq(l.length, v.length, m.length))
        }
        val last = st.fold(Array.fill(k)(Long.MinValue))(_._2.toArray)
        val vb = st.fold(Array.fill(k * k)(Long.MinValue))(_._3.toArray)
        val m = st.fold(Array.fill(k * k * k)(Long.MaxValue))(_._4.toArray)
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
        ((alphFp, last.toSeq, vb.toSeq, m.toSeq),
          seenNow.iterator.map(ti => (key, alphabet(ti), "*", "*", 0L)) ++
            touched.iterator.map { s =>
              val ci = s % k; val ab = s / k
              (key, alphabet(ab / k), alphabet(ab % k), alphabet(ci), m(s))
            })
    }
  }
}
