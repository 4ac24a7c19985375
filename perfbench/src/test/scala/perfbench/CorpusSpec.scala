package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  private def corpus(spec: IngestSpec, seed: Long): (String, Layout) = {
    val tmp = Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir")))
    val dir = Files.createTempDirectory(tmp, "perfbench-corpus")
    try {
      val layout = Ingest.generate(spec, dir, seed, seconds = 2)
      (Corpus.sha256(layout.all), layout)
    } finally delete(dir)
  }

  private def delete(dir: Path): Unit =
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  test("the same seed writes a byte-identical corpus") {
    for (spec <- Seq(Ingest.wire, Ingest.text)) {
      val (a, la) = corpus(spec, 7)
      val (b, lb) = corpus(spec, 7)
      assert(a == b, spec.name)
      assert(la.stats == lb.stats, spec.name)
    }
  }

  test("another seed writes another corpus") {
    assert(corpus(Ingest.wire, 7)._1 != corpus(Ingest.wire, 8)._1)
  }

  test("exactly 1% of every file is malformed") {
    val (_, layout) = corpus(Ingest.wire, 3)
    assert(layout.backlogStats.malformed * 100 == layout.backlogStats.records)
    assert(layout.chunkStats.malformed * 100 == layout.chunkStats.records)
    assert(layout.stats.kept == layout.stats.records - layout.stats.malformed)
  }

  test("short text documents are kept out by design") {
    val (_, layout) = corpus(Ingest.text, 3)
    val s = layout.stats
    assert(s.kept < s.records - s.malformed)
    assert(s.kept > (s.records - s.malformed) * 8 / 10)
  }
}
