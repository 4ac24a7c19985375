package graft

import graft.runtime.Sessions
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query executes via a noop-format write — unlike count(), that
  * forces computation of every output column (count() lets Catalyst prune
  * the projections away and would under-measure expression-heavy queries).
  * One warm-up query runs first so JVM/codegen warm-up isn't billed to the
  * first measured query.
  */
object Bench {
  /** The compact-final-line query subset (sized for the driver's ~2 KB
    * tail capture). Validated against SparkEntry.queries before the run
    * so a rename/drop/typo fails loudly instead of silently shrinking
    * the driver-visible subset.
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_revenue_by_nation", "q04_left_join_counts",
    "q10_cube", "q20_string_funcs", "q27_session_window",
    "q36_exact_dedup", "q38_lsh_pairs", "q41_ann_bruteforce",
    "q48_approx_percentile", "q66_ann_ivf", "q73_lsh_capped",
    "q77_bpe_tokens", "q94_containment", "q104_transitions", "q123_kmeans",
    "q142_image_neardup", "q159_cdc_neardup", "q172_span_decontamination",
    "q195_quantile_sketch", "q205_hard_negatives_scaled", "q233_triangle_census",
    "q240_local_clustering", "q244_exact_jaccard_join", "q260_also_bought",
    "q275_personalized_pagerank", "q288_degree_mixing",
    "q294_rec_exposure", "q297_sort_key_advisor",
    "q303_dbscan_clusters", "q304_funnel_dropoff")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt // spec: local[32]
    val spark = Sessions.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    // Timing window covers ONLY the query execution: cache cleanup and the
    // inter-query GC barrier happen after the closing nanoTime() read, so
    // persist-heavy queries aren't billed for unpersisting their own caches
    // and no query is billed for its predecessor's garbage.
    val gcBarrier = sys.env.getOrElse("SPARK_GRAFT_GC", "1") == "1"
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0
        }
      spark.catalog.clearCache() // operators may persist intermediates
      // localCheckpoint blocks are NOT covered by clearCache and only
      // free when the ContextCleaner gets to them — across 300+ queries
      // they pile up in the block manager and inflate late-run cells
      // (r12: untouched queries late in the alphabet drifted 2-3x while
      // their isolated cells were flat). Dropping them here is BETWEEN
      // queries, outside the timed window; every query still computes
      // from the parquet inputs. Blocking, so the drop has finished
      // before the next query's clock starts.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      if (gcBarrier) System.gc() // damp cross-query heap pressure in long runs
      elapsed
    }

    // Dev loop: SPARK_GRAFT_ONLY=q90,q40 benches a subset (SparkEntry.selected).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    // Headline drift is loud, and BEFORE the multi-minute run: a
    // renamed/dropped query (or a typo in the list) must not silently
    // shrink the driver-visible compact line. Full runs fail hard;
    // SPARK_GRAFT_ONLY subset runs only warn (they legitimately omit
    // headline queries).
    val missing = Bench.headline.toSet -- SparkEntry.queries.keySet
    if (missing.nonEmpty) {
      val msg = s"[bench] headline names not in SparkEntry.queries: " +
        missing.toSeq.sorted.mkString(",")
      if (only.isEmpty) { System.err.println(msg); sys.exit(2) }
      else System.err.println(msg)
    }

    // Warm-up: JVM + codegen + parquet footer caches.
    run("warmup", SparkEntry.queries("q01_pricing_summary"))

    // N runs per query (SPARK_GRAFT_RUNS, default 2), best kept: the first
    // run of a query pays one-time JIT/codegen compilation that is not a
    // property of the plan; extra runs damp machine noise on the
    // shingle-heavy queries when the time budget allows.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt.max(1)
    val results = SparkEntry.selected(only).map { case (name, fn) =>
      val times = Seq.fill(nRuns)(run(name, fn)).filter(_ >= 0)
      name -> (if (times.isEmpty) -1.0 else times.min)
    }
    // Millisecond precision keeps the line ~3x shorter than raw double
    // repr: a tail-capture that only keeps the last N bytes of the log has
    // truncated the full-precision line mid-stream four rounds running
    // (BENCH_r5–r8 all recorded "parsed": null).
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // Also write the line to a FILE: sbt log noise surrounds stdout, and a
    // driver that only tails the log can lose the full per-query table.
    // SPARK_GRAFT_BENCH_OUT overrides the default ./BENCH.json; a
    // SPARK_GRAFT_ONLY subset run defaults to /tmp instead so isolated
    // adjudication runs never clobber the committed full table.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "/tmp/BENCH_subset.json" else "BENCH.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    // The driver's tail capture keeps only ~2 KB (BENCH_r01–r09 are all
    // ~2.2 KB files), so the 12 KB full line can NEVER land whole in it
    // — r9's "re-print last" fix still parsed null. The FINAL stdout
    // line must itself fit the window: a compact complete JSON doc with
    // the contract keys, a stable headline-query subset, and a pointer
    // to the committed BENCH.json carrying the full 300+-query table.
    // (build.sbt suppresses sbt's "[success]" banner — Global /
    // showSuccess — so this compact line really is the last one.)
    val hset = Bench.headline.toSet
    val hqs = results.filter { case (n, _) => hset.contains(n) }
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${fmt(total)},""" +
      s""""unit":"sec","n_queries":${results.size},"queries":$hqs,""" +
      s""""queries_full":"BENCH.json","sf":"$sfDir"}"""
    println(compact)
  }
}
