package perfbench

/** Outcome of a run's correctness checks. */
final case class Check(attempted: Long, failed: Long, problems: Seq[String])

/** Exact accounting of a streaming run against what the generator wrote.
  *
  * Every record is either emitted (once per sink topic), sent to the DLQ
  * (exactly the injected malformed ones) or dropped by the handler by
  * design. The drained backlog must also hash exactly like `processBatch`
  * over the same files as one static batch.
  */
object Accounting {
  def check(fanOut: Int, layout: Layout, reference: Tally, drained: Tally,
            open: Tally, redrains: Seq[Tally]): Check = {
    val problems = Seq.newBuilder[String]
    var failed = 0L
    /** Records of one phase that were lost or misrouted. */
    def phase(name: String, stats: FileStats, t: Tally): Long = {
      val wantOut = stats.kept * fanOut
      if (t.outRows != wantOut) problems += s"$name outputs: ${t.outRows}, expected $wantOut"
      if (t.dlqRows != stats.malformed)
        problems += s"$name DLQ rows: ${t.dlqRows}, injected ${stats.malformed}"
      (math.abs(wantOut - t.outRows) + fanOut - 1) / fanOut +
        math.abs(stats.malformed - t.dlqRows)
    }
    // The reference only vouches for the check itself: its misses would
    // also show in the drained hash, so they are not counted twice.
    phase("static reference", layout.backlogStats, reference)
    failed += phase("drain", layout.backlogStats, drained)
    failed += phase("open loop", layout.chunkStats, open)
    val hashes = (drained +: redrains).filter(_ != reference)
    hashes.foreach(t => problems += s"drained tally $t != static reference $reference")
    val found = problems.result()
    Check(layout.stats.records, if (found.nonEmpty && failed == 0) hashes.size.toLong
                                else failed, found)
  }
}
