package graft

import org.scalatest.funsuite.AnyFunSuite

/** The naked-collect gate: every `.collect()` / `collectAsList` in
  * main source must appear in the allowlist below, annotated with the
  * bound that makes it driver-safe. A new collect site anywhere in
  * `src/main/scala` fails this spec until it is (a) given a counted
  * guard or a by-contract bound and (b) allowlisted here with that
  * bound written down. This is the spec form of the house rule "no
  * corpus-sized `.collect()`" — the bounded-model-table collect class
  * (cells, centroids, model rows; see the round-11 audit in
  * VERDICT.md §"What's wrong") is the ONLY sanctioned class.
  *
  * Keyed by file + expected site count, not line numbers, so routine
  * edits don't break it while any added/removed site does.
  */
class CollectAuditSpec extends AnyFunSuite {

  /** file (relative to src/main/scala) -> (site count, documented bound) */
  private val allowlist: Map[String, (Int, String)] = Map(
    "graft/streaming/AnnStream.scala" -> (1,
      "probe/query vector set bounded by contract (broadcast side of the ANN stream)"),
    "graft/operators/Joins.scala" -> (1,
      "intervalLookup: require(n <= maxIntervals) counted BEFORE the collect"),
    "graft/operators/Percentiles.scala" -> (1,
      "O(partitions x groups) subtotal rows, by design of the exact-percentile pass"),
    "graft/operators/Similarity.scala" -> (2,
      "mmrSelect 1-row argmax per round (k rounds by contract); bounded query-vector set"),
    "graft/operators/Clustering.scala" -> (2,
      "kCenterSelect: 1-row seed + 1-row argmax per round"),
    "graft/operators/Dedup.scala" -> (1,
      "connected-components convergence probe: 1-row xor-checksum aggregate"),
    "graft/operators/Graphs.scala" -> (1,
      "triangleAuto plan pick: 1-row exact wedge-census scalar BEFORE any triangle work"),
    "graft/operators/Markov.scala" -> (1,
      "transition model table: k x k states, k bounded by the declared alphabet"),
    "graft/operators/Bpe.scala" -> (1,
      "BPE merge candidates: 1-row argmax per merge, vocab-size iterations"),
    "graft/operators/IvfPq.scala" -> (6,
      "centroid/codebook tables (kCells by contract) + recall-spec query sets"),
    "graft/operators/Isotropy.scala" -> (2,
      "1-row power-iteration aggregates (quadratic-form scalars)"),
    "graft/operators/Density.scala" -> (1,
      "grid-bounded core-cell table: require(nCore <= 100000) counted BEFORE the collect"),
    "graft/operators/Pq.scala" -> (1,
      "codebook training sample: bounded sample by contract"),
    "graft/operators/Coverage.scala" -> (2,
      "greedy coverage: 1 bounded winner row per round + its token set (maxTokensPerDoc)"),
    "graft/testkit/TestHarness.scala" -> (2,
      "testkit only: in-memory TestClient batches, never production data"),
    "graft/queries/ExtraQueries.scala" -> (2,
      "exact-percentile scalar grids: <= groups x probes rows, localCheckpoint'ed"),
    "graft/queries/RelationalQueries.scala" -> (1,
      "percentile probe grid: bounded probe list"),
    "graft/queries/StatsQueries.scala" -> (1,
      "1-row max-timestamp scalar (as-of anchor)"),
    "graft/queries/SimilarityQueries.scala" -> (2,
      "fixed query-vector sets: bounded by the declared query-id list"),
    "graft/queries/TextQueries.scala" -> (2,
      "bounded label/sample rows for driver-side fixture assembly")
  )

  test("every main-source collect site is allowlisted with its bound") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"expected to run from the project root; cwd=${new java.io.File(".").getAbsolutePath}")
    val pat = java.util.regex.Pattern.compile("\\.collect\\(\\)|collectAsList")

    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil

    val found: Map[String, Seq[Int]] = walk(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val sites = src.split("\n", -1).zipWithIndex.flatMap { case (line, i) =>
        val m = pat.matcher(line)
        Iterator.continually(m.find()).takeWhile(identity).map(_ => i + 1).toSeq
      }.toSeq
      if (sites.isEmpty) Nil else Seq(rel -> sites)
    }.toMap

    val unlisted = found.filterNot { case (f, _) => allowlist.contains(f) }
    assert(unlisted.isEmpty,
      s"collect() in non-allowlisted files (add a bound + allowlist entry): " +
        unlisted.map { case (f, ls) => s"$f:${ls.mkString(",")}" }.mkString("; "))

    val wrongCount = found.collect {
      case (f, ls) if allowlist(f)._1 != ls.size =>
        s"$f has ${ls.size} sites at lines ${ls.mkString(",")} (allowlist says ${allowlist(f)._1})"
    }
    assert(wrongCount.isEmpty,
      s"collect-site count drift (new or removed site — re-audit the bound): ${wrongCount.mkString("; ")}")

    val stale = allowlist.keySet -- found.keySet
    assert(stale.isEmpty, s"allowlist entries with no remaining collect site (prune them): ${stale.mkString(", ")}")
  }
}
