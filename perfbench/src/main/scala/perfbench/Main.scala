package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.runtime.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Metrics of one run, by name, with unit, sample count and a note. */
final class Report {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String, Int, String)]
  val env = mutable.LinkedHashMap.empty[String, String]
  /** Query name -> DuckDB oracle SQL, for the comparison run.py makes. */
  val oracleSql = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String, samples: Int, note: String = ""): Unit =
    m(name) = (value, unit, samples, note)

  def metricsJson: String = Json.obj(m.toSeq.map { case (k, (v, u, n, note)) =>
    k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u),
      "samples" -> Json.num(n.toLong), "note" -> Json.str(note))
  }: _*)
}

/** One benchmark run in this JVM:
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --data DIR --out FILE --spans FILE
  * Writes the run's metrics, checks and environment to `--out` as JSON.
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val tracer = new Tracer(traced)
    val report = new Report
    report.env ++= Seq("workload" -> Json.str(workload), "seed" -> Json.num(seed),
      "run_seconds" -> Json.num(seconds.toLong), "trace" -> Json.bool(traced),
      "cores" -> Json.num(Cores.toLong),
      "jvm_cpus" -> Json.num(Runtime.getRuntime.availableProcessors.toLong),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1L << 20)),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION))
    val check =
      try workload match {
        case "ingest-wire" => ingest(Ingest.wire, seed, seconds, work, tracer, report)
        case "ingest-text" => ingest(Ingest.text, seed, seconds, work, tracer, report)
        case "batch-analytic" =>
          batch(Paths.get(opt("data")), seconds, work, tracer, report)
        case other => sys.error(s"unknown workload $other")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Check(1, 1, Seq(s"run failed: $e"))
      }
    if (traced) report.put("jvm.peak_rss_mb", peakRssMb, "MB", 1)
    if (traced) report.put("bench.failed_ops_ratio",
      check.failed.toDouble / math.max(1L, check.attempted), "ratio", 1)
    tracer.write(Paths.get(opt("spans")))
    val json = Json.obj(
      "oracle_sql" -> Json.obj(report.oracleSql.toSeq: _*),
      "correct" -> Json.bool(check.failed == 0),
      "attempted" -> Json.num(check.attempted),
      "failed" -> Json.num(check.failed),
      "problems" -> Json.arr(check.problems.map(Json.str)),
      "metrics" -> report.metricsJson,
      "env" -> Json.obj(report.env.toSeq: _*))
    Files.write(Paths.get(opt("out")), json.getBytes(UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }

  private def session(cores: Int): SparkSession = {
    val s = Sessions.local(cores, "perfbench")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()
  /** Progress line in the run's log, with seconds since start. */
  private def note(what: String): Unit =
    println(f"[perfbench] ${seconds(started)}%7.2f s  $what")

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Median of three timings of `f`. */
  private def timed3(f: => Unit): Double =
    Stats.median(Seq.fill(3) { val t0 = System.nanoTime(); f; seconds(t0) })

  /** Set-up, as timed for `setup_s`: start the session and warm up on
    * the inputs. Repeated `reps` times; the last one is kept.
    */
  private def repeatSetup[T](reps: Int)(once: Int => T): (T, Seq[Double]) = {
    val runs = (1 to reps).map { r =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = System.nanoTime()
      val made = once(r)
      (made, seconds(t0))
    }
    (runs.last._1, runs.map(_._2))
  }

  private def attach(spark: SparkSession, counters: SparkCounters, plans: PlanCollector,
                     progress: ProgressCollector): Unit = {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(plans)
    spark.streams.addListener(progress)
  }

  private def detach(spark: SparkSession, counters: SparkCounters, plans: PlanCollector,
                     progress: ProgressCollector): Unit = {
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(progress)
  }

  // ---------------------------------------------------------------- ingest

  def ingest(spec: IngestSpec, seed: Long, runSeconds: Int, work: Path,
             tracer: Tracer, report: Report): Check = {
    val traced = tracer.enabled
    // The corpus is written while the first (cold) session starts.
    val generating = Future {
      val t0 = System.nanoTime()
      val layout = Ingest.generate(spec, work.resolve("corpus"), seed, runSeconds)
      (layout, seconds(t0))
    }(ExecutionContext.global)
    val ((spark, ing, layout), setups) = repeatSetup(if (traced) 1 else 3) { r =>
      val spark = session(Cores)
      val (layout, _) = Await.result(generating, Duration.Inf)
      val ing = new Ingest(spark, spec, work.resolve(s"rep-$r"), tracer)
      ing.drain(layout.backlog.take(1), spec.perFile)
      (spark, ing, layout)
    }
    val generateS = Await.result(generating, Duration.Inf)._2
    val stats = layout.stats
    report.env ++= Seq(
      "generate_s" -> Json.num(generateS),
      "corpus_sha256" -> Json.str(Corpus.sha256(layout.all)),
      "corpus_records" -> Json.num(stats.records),
      "corpus_payload_bytes" -> Json.num(stats.payloadBytes),
      "corpus_malformed" -> Json.num(stats.malformed),
      "corpus_kept_by_design" -> Json.num(stats.kept),
      "backlog_records" -> Json.num(layout.backlogStats.records),
      "records_per_trigger" -> Json.num(spec.perTrigger.toLong),
      "offered_per_s" -> Json.num(spec.offeredPerS),
      "chunk_ms" -> Json.num(spec.chunkMs.toLong),
      "chunk_records" -> Json.num(layout.chunkRecords.toLong),
      "chunks" -> Json.num(layout.chunks.size.toLong))

    // Untimed: processBatch over the backlog as one static batch, the
    // reference the drained outputs must match.
    tracer.enabled = false
    note(s"set up: $setups")
    val ref = ing.reference(layout.backlog)
    note("static reference done")
    val drain = ing.drain(layout.backlog, layout.backlogStats.records)
    note(s"drain done: ${drain.perS} records/s")

    val counters = new SparkCounters
    val plans = new PlanCollector
    val progress = new ProgressCollector
    val tracedDrain = if (traced) {
      attach(spark, counters, plans, progress)
      tracer.enabled = true
      org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
      val before = counters.snapshot
      val plansFrom = plans.count
      val spansFrom = tracer.mark
      val d = tracer.span("phase.drain")(ing.drain(layout.backlog, layout.backlogStats.records))
      org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
      val per = d.batches.toDouble
      val s = counters.snapshot - before
      val ps = plans.since(plansFrom)
      report.put("spark.jobs", s.jobs / per, "count", d.batches, "per micro-batch")
      report.put("spark.stages", s.stages / per, "count", d.batches, "per micro-batch")
      report.put("spark.tasks", s.tasks / per, "count", d.batches, "per micro-batch")
      sparkTimes(report, s, d.batches, "summed over the backlog drain")
      report.put("dsl.scan_passes", s.recordsRead.toDouble / d.records, "ratio", d.batches,
        "source rows read / input rows")
      report.put("dsl.plan_ms", Stats.median(tracer.durationsMs("dsl.processBatch", spansFrom)),
        "ms", d.batches, "time inside the processBatch call, median per micro-batch")
      planMetrics(report, ps, per, d.batches, "per micro-batch")
      // Each drain runs a little warmer than the one before it, so the
      // traced drain is compared with untraced drains on both sides.
      detach(spark, counters, plans, progress)
      tracer.enabled = false
      val after = ing.drain(layout.backlog, layout.backlogStats.records)
      val untraced = (Stats.median(drain.cycleMs) + Stats.median(after.cycleMs)) / 2
      report.put("bench.trace_overhead", Stats.median(d.cycleMs) / untraced - 1, "ratio", 3,
        "traced / untraced median drain micro-batch cycle - 1, untraced before and after")
      attach(spark, counters, plans, progress)
      tracer.enabled = true
      Some((d, after))
    } else None

    val open = tracer.span("phase.open")(ing.openLoop(layout))
    note("open loop done")
    report.env ++= Seq(
      "drain_cycle_ms" -> Json.arr(drain.cycleMs.map(Json.num)),
      "open_batches" -> Json.num(open.batches.toLong))

    if (traced) {
      org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)
      val batches = progress.of(open.id).filter(_._3 > 0).map(_._2)
      def dur(m: Map[String, Long], k: String): Double = m.getOrElse(k, 0L).toDouble
      val trig = batches.map(dur(_, "triggerExecution"))
      report.put("runtime.trigger_ms", Stats.median(trig), "ms", trig.size, "open loop, median")
      report.put("runtime.add_batch_ms", Stats.median(batches.map(dur(_, "addBatch"))), "ms",
        trig.size, "open loop, median")
      report.put("runtime.offset_log_ms", Stats.median(batches.map(m =>
        dur(m, "latestOffset") + dur(m, "walCommit") + dur(m, "commitOffsets"))), "ms",
        trig.size, "latestOffset + walCommit + commitOffsets, open loop, median")
      report.put("runtime.fixed_share", Stats.median(batches.map(m =>
        (dur(m, "triggerExecution") - dur(m, "addBatch")) / math.max(1.0, dur(m, "triggerExecution")))),
        "ratio", trig.size, "(trigger - addBatch) / trigger, open loop, median")
      report.put("runtime.backlog_max", open.backlogMax.toDouble, "count", trig.size,
        "records offered but not yet routed, at micro-batch ends")
      report.put("bench.generator_lag_p95_ms", Stats.quantile(open.lagMs, 0.95), "ms",
        open.lagMs.size)
      microbench(spark, spec, ing, layout, report)
      zeroes(report, Seq("queries.build_s" -> "s", "queries.execute_s" -> "s",
        "operators.checkpoints" -> "count", "operators.checkpoint_bytes" -> "bytes"))
      if (spec == Ingest.wire) {
        val sub = layout.backlog.take(spec.filesPerTrigger * 2)
        val n = spec.perTrigger * 2L
        val four = ing.drain(sub, n)
        spark.stop()
        val single = session(1)
        require(single.sparkContext.master == "local[1]", single.sparkContext.master)
        val one = new Ingest(single, spec, work.resolve("single-core"), tracer).drain(sub, n)
        report.put("spark.parallel_speedup", four.perS / one.perS, "ratio", 2,
          s"local[$Cores] / local[1] drain rate over $n records")
      } else report.put("spark.parallel_speedup", 0.0, "ratio", 0, "not measured on this workload")
    } else {
      // Cycles start at the first micro-batch's end, so the query's
      // start-up, paid by its first micro-batch, is left out.
      report.put("records_per_s", spec.perTrigger / Stats.median(drain.cycleMs) * 1000, "1/s",
        drain.cycleMs.size, s"closed-loop drain: ${spec.perTrigger} records per micro-batch / " +
          "median time from one micro-batch's end to the next")
      // At 20 s the run times 160 chunks, enough for p90 (16 beyond it).
      val (q, tail) = Stats.tail(open.latencyMs)
      report.put("latency_p50_ms", Stats.median(open.latencyMs), "ms", open.latencyMs.size,
        s"open loop at ${spec.offeredPerS} records/s")
      report.put("latency_p90_ms", tail, "ms", open.latencyMs.size,
        f"open loop, p${q * 100}%.0f: the highest percentile with 10 samples beyond it")
      report.put("query_geomean_s", Stats.geomean(drain.triggerMs) / 1000, "s", drain.batches,
        "geometric mean micro-batch trigger time in the drain")
      report.put("query_total_s", drain.seconds, "s", 1, "backlog drain wall time")
      report.put("setup_s", Stats.median(setups), "s", setups.size,
        "session start and one streamed micro-batch; median")
    }

    Accounting.check(spec.fanOut, layout, ref, drain.tally, open.tally,
      tracedDrain.toSeq.flatMap { case (d, after) => Seq(d.tally, after.tally) })
  }

  private def sparkTimes(report: Report, s: SparkTotals, samples: Int, note: String): Unit = {
    report.put("spark.executor_run_s", s.runMs / 1e3, "s", samples, note)
    report.put("spark.executor_cpu_s", s.cpuNs / 1e9, "s", samples, note)
    report.put("spark.gc_s", s.gcMs / 1e3, "s", samples, note)
    report.put("spark.shuffle_write_bytes", s.shuffleWriteBytes.toDouble, "bytes", samples, note)
    report.put("spark.spill_bytes", s.spillBytes.toDouble, "bytes", samples, note)
  }

  private def planMetrics(report: Report, ps: Seq[PlanStats], per: Double, samples: Int,
                          note: String): Unit = {
    report.put("spark.planning_ms", ps.map(_.planningMs).sum / per, "ms", samples,
      s"analysis + optimization + planning, $note")
    report.put("plans.exchanges", ps.map(_.exchanges).sum / per, "count", samples, note)
    report.put("plans.scans", ps.map(_.scans).sum / per, "count", samples, note)
    report.put("plans.custom_nodes", ps.map(_.customNodes).sum / per, "count", samples, note)
  }

  private def zeroes(report: Report, names: Seq[(String, String)]): Unit =
    names.foreach { case (n, u) => report.put(n, 0.0, u, 0, "not measured on this workload") }

  /** Each layer alone over the backlog as one static batch: decode, the
    * two sink writes, and the handler over already-decoded rows.
    */
  private def microbench(spark: SparkSession, spec: IngestSpec, ing: Ingest, layout: Layout,
                         report: Report): Unit = {
    val app = spec.app()
    val recs = ing.static(layout.backlog)
    val n = layout.backlogStats.records
    val decode = app.topics.map { t =>
      val (v, f) = app.spec(t).valueSerde.decodeWithFailure(col("value"))
      timed3(Router.noop(recs.filter(col("topic") === t).select(v.as("v"), f.as("f"))))
    }.sum
    report.put("serde.decode_s", decode, "s", 3, s"value decode alone over $n records, median of 3")
    report.put("serde.records_per_s", n / decode, "1/s", 3)
    val routed = app.processBatch(recs)
    report.put("dsl.outputs_s", timed3(Router.noop(routed.outputs)), "s", 3,
      "outputs write alone, median of 3")
    report.put("dsl.dlq_s", timed3(Router.noop(routed.dlq)), "s", 3,
      "DLQ write alone, median of 3")
    var bytes = 0L
    val handler = app.topics.map { t =>
      val ok = app.decoded(app.spec(t), recs).filter(!col("__deser_failed"))
        .drop("__deser_failed").persist(StorageLevel.MEMORY_ONLY)
      bytes += ok.agg(coalesce(sum(length(col("value_raw"))), lit(0L))).head().getLong(0)
      val s = timed3(Router.noop(app.spec(t).handler(ok)))
      ok.unpersist(true)
      s
    }.sum
    report.put("functions.handler_s", handler, "s", 3,
      "handler alone over decoded, cached rows, median of 3")
    report.put("functions.mb_per_s", bytes / 1e6 / handler, "MB/s", 3,
      "payload MB through the handler per second")
  }

  // ----------------------------------------------------------------- batch

  def batch(dataDir: Path, runSeconds: Int, work: Path, tracer: Tracer,
            report: Report): Check = {
    val traced = tracer.enabled
    val queries = Batch.Queries
    report.env ++= Seq("queries" -> Json.arr(queries.map(Json.str)),
      "data" -> Json.str("graft.tools.GenData scale 1 (sf0.1), fixed hash-derived data; " +
        "the run seed does not change it"))
    val ((spark, b), setups) = repeatSetup(if (traced) 1 else 3) { _ =>
      val spark = session(Cores)
      val b = new Batch(spark, dataDir, tracer)
      Router.noop(graft.SparkEntry.queries(Batch.WarmUp)(spark, dataDir.toString))
      (spark, b)
    }
    tracer.enabled = false
    // Untimed: results for the oracle comparison; also the warm-up pass.
    note(s"set up: $setups")
    b.writeResults(work.resolve("results"))
    note("results written")
    report.env += "results_dir" -> Json.str(work.resolve("results").toString)
    report.oracleSql ++= queries.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))
    // Timed passes: at least two, and as many as fit in the run. The
    // listeners are attached only for the traced pass.
    val counters = new SparkCounters
    val plans = new PlanCollector
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer(b.pass(counters, plans))
    while (!traced && (passes.size < 2 ||
        seconds(t0) * (passes.size + 1) / passes.size <= runSeconds))
      passes += b.pass(counters, plans)
    note(s"${passes.size} passes done")
    val perQuery = queries.indices.map(i =>
      Stats.median(passes.map(p => p(i).buildS + p(i).executeS).toSeq))
    val total = perQuery.sum
    if (traced) {
      attach(spark, counters, plans, new ProgressCollector)
      tracer.enabled = true
      val qs = tracer.span("phase.pass")(b.pass(counters, plans))
      val n = qs.size
      val s = qs.map(_.spark).reduce(_ + _)
      report.put("spark.jobs", s.jobs.toDouble, "count", n, "per pass of the query set")
      report.put("spark.stages", s.stages.toDouble, "count", n, "per pass of the query set")
      report.put("spark.tasks", s.tasks.toDouble, "count", n, "per pass of the query set")
      sparkTimes(report, s, n, "per pass of the query set")
      planMetrics(report, qs.flatMap(_.plans), 1.0, n, "per pass, every query execution")
      report.put("queries.build_s", qs.map(_.buildS).sum, "s", n,
        "inside SparkEntry.queries(name), per pass")
      report.put("queries.execute_s", qs.map(_.executeS).sum, "s", n, "noop write, per pass")
      report.put("operators.checkpoints", qs.map(_.checkpoints).sum.toDouble, "count", n,
        "RDDs newly persisted, per pass")
      report.put("operators.checkpoint_bytes", qs.map(_.checkpointBytes).sum.toDouble, "bytes",
        n, "storage bytes of those RDDs, per pass")
      val tracedTotal = qs.map(q => q.buildS + q.executeS).sum
      report.put("bench.trace_overhead", tracedTotal / total - 1, "ratio", 2,
        "traced / untraced pass time - 1")
      zeroes(report, Seq("serde.decode_s" -> "s", "serde.records_per_s" -> "1/s",
        "dsl.plan_ms" -> "ms", "dsl.outputs_s" -> "s", "dsl.dlq_s" -> "s",
        "dsl.scan_passes" -> "ratio", "functions.handler_s" -> "s",
        "functions.mb_per_s" -> "MB/s", "runtime.trigger_ms" -> "ms",
        "runtime.add_batch_ms" -> "ms", "runtime.offset_log_ms" -> "ms",
        "runtime.fixed_share" -> "ratio", "runtime.backlog_max" -> "count",
        "bench.generator_lag_p95_ms" -> "ms", "spark.parallel_speedup" -> "ratio"))
    } else {
      val note = s"median over ${passes.size} passes"
      report.put("records_per_s", queries.size / total, "1/s", passes.size,
        s"queries per second of query time; $note")
      report.put("latency_p50_ms", Stats.median(perQuery) * 1000, "ms", queries.size,
        s"median per-query time; $note")
      report.put("latency_p90_ms", perQuery.max * 1000, "ms", queries.size,
        s"slowest query (${queries.size} samples support no higher percentile); $note")
      report.put("query_geomean_s", Stats.geomean(perQuery), "s", queries.size, note)
      report.put("query_total_s", total, "s", queries.size, note)
      report.put("setup_s", Stats.median(setups), "s", setups.size,
        "session start and a first query; median")
    }
    report.env += "per_query_s" -> Json.obj(queries.zip(perQuery).map { case (q, t) =>
      q -> Json.num(t) }: _*)
    Check(queries.size.toLong * (passes.size + 1), 0, Nil)
  }
}
