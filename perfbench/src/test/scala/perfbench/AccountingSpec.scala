package perfbench

import org.scalatest.funsuite.AnyFunSuite

class AccountingSpec extends AnyFunSuite {
  private val fanOut = 2
  private val backlog = FileStats(records = 1000, malformed = 10, kept = 990, payloadBytes = 0)
  private val chunks = FileStats(records = 500, malformed = 5, kept = 495, payloadBytes = 0)
  private val layout = Layout(Nil, backlog, Nil, chunks, 50)
  private val drained = Tally(outRows = 1980, outSum = 123456, outXor = 42,
    dlqRows = 10, dlqSum = 777, dlqXor = 9)
  private val open = Tally(990, 1, 2, 5, 3, 4)

  private def check(drain: Tally = drained, opened: Tally = open,
                    redrains: Seq[Tally] = Nil): Check =
    Accounting.check(fanOut, layout, drained, drain, opened, redrains)

  test("a run that routes every record as designed passes") {
    val c = check()
    assert(c.failed == 0 && c.problems.isEmpty)
    assert(c.attempted == 1500)
  }

  test("a dropped record fails the run") {
    val c = check(drain = drained.copy(outRows = drained.outRows - fanOut))
    assert(c.failed == 1)
    assert(c.problems.exists(_.contains("drain outputs")))
  }

  test("an extra DLQ row fails the run") {
    val c = check(opened = open.copy(dlqRows = open.dlqRows + 1))
    assert(c.failed == 1)
    assert(c.problems.exists(_.contains("open loop DLQ rows")))
  }

  test("equal counts with different contents fail the run") {
    val c = check(drain = drained.copy(outSum = drained.outSum + 1))
    assert(c.failed >= 1)
    assert(c.problems.exists(_.contains("static reference")))
  }

  test("a traced re-drain must match the reference too") {
    assert(check(redrains = Seq(drained.copy(dlqXor = 0))).failed >= 1)
  }
}
