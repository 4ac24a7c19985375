package graft.functions

import graft.SparkSpec
import graft.functions.expressions.PiiScrub
import org.apache.spark.unsafe.types.UTF8String

/** The kernel's contract is byte-parity with three sequential Java-regex
  * global replaces (and the DuckDB oracle replays the same passes in RE2
  * — the q138 hash check covers that edge). Fuzzes the kernel against
  * java.util.regex on PII-dense random soup plus hand-picked edges.
  */
class PiiScrubSpec extends SparkSpec {

  private val EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IP = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
  private val PHONE = "\\d{3}-\\d{3}-\\d{4}"

  private def reference(t: String): String =
    t.replaceAll(EMAIL, "<EMAIL>")
      .replaceAll(IP, "<IP>")
      .replaceAll(PHONE, "<PHONE>")

  private def kernel(t: String): String =
    PiiScrub.scrub(UTF8String.fromString(t)).toString

  test("edge cases match the regex reference") {
    val cases = Seq(
      "", "plain text only",
      "a@b.com", "a@b.com.x", "a@b.comx-y.zz", "a@b.cd-e", "a@b", "@b.com",
      "x a@b.com y c@d.org z", "a@b.com@c.org", "pre..a@@b..co.uk..post",
      "mail: first.last+tag%x@sub.domain-x.example.COM.",
      "1.2.3.4", "12345.1.1.1", "1.2.3.45678", "1.23456.7.8.9",
      "1.2.3.4.5.6.7.8", "255.255.255.255 and 1.1.1.1",
      "555-123-4567", "1234-567-8901", "555-123-45678", "55-123-4567",
      "call 555-123-4567 or mail a@b.de at 10.0.0.1",
      "v1.2.3-rc4", "semver 10.20.30 not an ip", "a.b.c.d",
      "unicode é@b.com über 1.2.3.4 ®555-123-4567")
    cases.foreach { t =>
      assert(kernel(t) == reference(t), s"input: ${t}")
    }
  }

  test("fuzz: 20k random PII-dense strings match the regex reference") {
    val rnd = new scala.util.Random(1138)
    val atoms = Array("a", "b", "1", "2", "3", "4", ".", "@", "-", "_", "%",
      "+", " ", "@mail.com", "10.1.2.3", "555-123-4567", "x@y", "1.2.3",
      "..", "@@", "999", "com", "-1-", ".de")
    (1 to 20000).foreach { _ =>
      val t = (0 until rnd.nextInt(40)).map(_ => atoms(rnd.nextInt(atoms.length))).mkString
      assert(kernel(t) == reference(t), s"input: ${t}")
    }
  }

  test("no-PII input is returned without reallocation") {
    val s = UTF8String.fromString("clean document with no pii at all")
    assert(PiiScrub.scrub(s) eq s)
  }

  test("sql registration: pii_scrub works end-to-end") {
    import spark.implicits._
    val out = Seq("reach me at jane.doe@corp.example.org or 555-867-5309 from 192.168.0.1")
      .toDF("t").selectExpr("pii_scrub(t) as s").as[String].collect()(0)
    assert(out == "reach me at <EMAIL> or <PHONE> from <IP>")
  }
}
