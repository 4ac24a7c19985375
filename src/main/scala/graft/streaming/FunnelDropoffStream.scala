package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Ingest-time twin of the declared-funnel drop-off readout
  * ([[graft.operators.SeqPatterns.funnelDropoff3]]) — B130's streaming
  * side: the live funnel dashboard. Per-entity state is one typed
  * (fingerprint, latest s1 timestamp, latest valid-prefix s2
  * timestamp, monotone flag bitmask) tuple — never the event history.
  *
  * Why the recurrence is exact (the [[SeqPatternsStream.cells3]]
  * valid-prefix argument, extended to per-step gaps and the relaxed
  * "saw" predicates):
  *  - reach2: at an s2-arrival t, the LATEST prior s1 minimizes
  *    t − t_a (the level-2 argument), so "lastS1 < t ∧ t − lastS1 ≤
  *    G₂" fires iff SOME valid (s1, s2) pair exists;
  *  - validB = latest s2 whose step-1 gap closed ≤ G₂ (set at the
  *    s2's own arrival, where "latest s1 strictly before it" is
  *    exactly lastS1);
  *  - reach3: at an s3-arrival t, a valid chain completes iff some
  *    valid-prefix s2 sits in [t − G₃, t); all s2's seen so far are
  *    < t, so the LATEST valid-prefix s2 is in that window iff any is
  *    — "validB < t ∧ t − validB ≤ G₃";
  *  - saw2/saw3 (the gap-expired classifiers of the batch readout)
  *    are the same tests with the completion gap dropped: saw2 ⟺ an
  *    s2 arrived strictly after some s1; saw3 ⟺ an s3 arrived
  *    strictly after some valid-prefix s2.
  * All six predicates are MONOTONE (once true, true forever), so the
  * emissions are one-time flag markers and batch == stream reduces to
  * flag-set equality — [[graft.operators.SeqPatterns.dropoffFromFlags]]
  * over the upserted flag table IS the readout (StreamingSpec pins
  * parity against funnelDropoff3 on the per-bucket fixture, incl.
  * shuffled arrival, batch splits, same-ts group splits, and a
  * checkpoint restart; a changed-gap restart fails loudly via the
  * fingerprint — validB is only meaningful under the gaps that wrote
  * it).
  *
  * Same-timestamp handling: per timestamp group, the s3 role reads
  * validB from strictly earlier groups, THEN the s2 role reads lastS1
  * from strictly earlier groups (and updates validB), THEN lastS1
  * absorbs the group — simultaneous events never chain in any role,
  * matching the batch grid semantics. Steps need not be distinct; a
  * repeated type plays each of its roles against strictly earlier
  * state in the same pass.
  *
  * Arrival contract: ordered across batches per entity (the
  * CusumStream/SeqPatternsStream family contract).
  *
  * In rows: (entity, tsUs, type). Out rows: (entity, flag) with
  * flag ∈ {seen, s1, r2, saw2, r3, saw3}, each emitted once.
  */
object FunnelDropoffStream {
  def flags(ds: Dataset[(String, Long, String)], steps: Seq[String],
            gapsMinutes: Seq[Long]): Dataset[(String, String)] = {
    require(steps.size == 3, s"declared funnel must have 3 steps, got $steps")
    require(gapsMinutes.size == 2 && gapsMinutes.forall(_ > 0),
      s"need one positive max-gap per step transition, got $gapsMinutes")
    import ds.sparkSession.implicits._
    val Seq(s1, s2, s3) = steps
    val g2 = gapsMinutes(0) * 60000000L
    val g3 = gapsMinutes(1) * 60000000L
    val stepSet = steps.toSet
    // gaps are part of the semantics validB was written under; folded
    // through the hash chain separately so distinct (g2, g3) pairs
    // never share a fingerprint (a linear g2*31+g3 pre-mix would)
    val fp = SeqPatternsStream.alphabetFingerprint(steps, g2, g3)
    val flagNames = Array("seen", "s1", "r2", "saw2", "r3", "saw3")
    val SEEN = 1L; val HA1 = 2L; val R2 = 4L
    val SAW2 = 8L; val R3 = 16L; val SAW3 = 32L
    // (fingerprint, lastS1, validB, flagBits)
    KeyedFold(ds)(_._1, "funnel", Encoders.product[(Long, Long, Long, Long)]) {
      (key, st, rows) =>
        st.foreach(s => SeqPatternsStream.checkState("FunnelDropoffStream",
          key, "steps/gaps", fp, s._1))
        var (_, lastS1, validB, bits) =
          st.getOrElse((fp, Long.MinValue, Long.MinValue, 0L))
        val bits0 = bits
        val byTs = rows.toArray.collect {
          case (_, ts, t) if stepSet.contains(t) => (ts, t)
        }.groupBy(_._1).toSeq.sortBy(_._1)
        for ((ts, group) <- byTs) {
          val types = group.map(_._2).toSet
          // 1. s3 role against valid-prefix s2's from strictly earlier
          //    groups
          if (types.contains(s3) && validB != Long.MinValue && validB < ts) {
            bits |= SAW3
            if (ts - validB <= g3) bits |= R3
          }
          // 2. s2 role against s1's from strictly earlier groups
          if (types.contains(s2) && lastS1 != Long.MinValue && lastS1 < ts) {
            bits |= SAW2
            if (ts - lastS1 <= g2) { bits |= R2; if (ts > validB) validB = ts }
          }
          // 3. the group joins the state
          if (types.contains(s1)) { bits |= HA1; if (ts > lastS1) lastS1 = ts }
          bits |= SEEN
        }
        ((fp, lastS1, validB, bits), flagNames.indices.iterator
          .filter(i => (bits & (1L << i)) != 0 && (bits0 & (1L << i)) == 0)
          .map(i => (key, flagNames(i))))
    }
  }
}
