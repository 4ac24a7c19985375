package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import graft.dsl.GraftApp
import graft.model.KafkaRecordIn
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A streaming workload: the app it routes through, its generator, and
  * the fixed sizes and rates of its runs.
  */
final case class IngestSpec(
    name: String,
    app: () => GraftApp,
    shape: () => RecordShape,
    fanOut: Int,
    perFile: Int,          // records per backlog file
    filesPerTrigger: Int,  // backlog files per micro-batch
    nominalPerS: Double,   // backlog = nominalPerS * seconds * DrainShare records
    offeredPerS: Double,   // fixed open-loop rate
    chunkMs: Int) {        // open-loop arrival interval
  def perTrigger: Int = perFile * filesPerTrigger
}

/** Order-independent summary of routed rows: per sink (outputs, DLQ) the
  * row count, a sum of 31-bit row hashes and an XOR of 64-bit row hashes
  * over (topic, key, value).
  */
final case class Tally(outRows: Long, outSum: Long, outXor: Long,
                       dlqRows: Long, dlqSum: Long, dlqXor: Long) {
  def +(o: Tally): Tally = Tally(outRows + o.outRows, outSum + o.outSum,
    outXor ^ o.outXor, dlqRows + o.dlqRows, dlqSum + o.dlqSum, dlqXor ^ o.dlqXor)
}

object Tally {
  val zero: Tally = Tally(0, 0, 0, 0, 0, 0)
  def sum(ts: Iterable[Tally]): Tally = ts.foldLeft(zero)(_ + _)
}

/** The routing body of `graft.runtime.KafkaIO.run`, with a noop sink in
  * place of the Kafka sink: `processBatch`, then the outputs write and
  * the DLQ write as two separate sink writes. Each write carries a
  * `Dataset.observe` tally, computed by the write's own job.
  */
final class Router(app: GraftApp, tracer: Tracer) {
  val DlqTopic = "dlq"

  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val h = xxhash64(col("topic"), col("key"), col("value"))
    val obs = new Observation()
    (df.observe(obs, count(lit(1)).as("n"), sum(pmod(h, lit(1L << 31))).as("s"),
      bit_xor(h).as("x")), obs)
  }

  private def read(obs: Observation): (Long, Long, Long) = {
    val m = obs.get
    def long(k: String): Long = m.get(k) match {
      case Some(v: java.lang.Number) => v.longValue
      case _ => 0L // sum/bit_xor of no rows
    }
    (long("n"), long("s"), long("x"))
  }

  def route(batch: DataFrame): Tally = {
    val routed = tracer.span("dsl.processBatch")(app.processBatch(batch))
    val (out, outObs) = observed(routed.outputs)
    tracer.span("dsl.outputs_write")(Router.noop(out))
    val (dlq, dlqObs) = observed(routed.dlq.select(lit(DlqTopic).as("topic"),
      col("key_raw").as("key"), col("value_raw").as("value")))
    tracer.span("dsl.dlq_write")(Router.noop(dlq))
    val (on, os, ox) = read(outObs)
    val (dn, ds, dx) = read(dlqObs)
    Tally(on, os, ox, dn, ds, dx)
  }
}

object Router {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Where one run's corpus lives and what the generator put in it. */
final case class Layout(backlog: Seq[Path], backlogStats: FileStats,
                        chunks: Seq[Path], chunkStats: FileStats, chunkRecords: Int) {
  def all: Seq[Path] = backlog ++ chunks
  def stats: FileStats = backlogStats + chunkStats
}

/** A backlog drain: wall time, each micro-batch's trigger time, and the
  * time from each micro-batch's end to the next one's (after the first).
  */
final case class DrainResult(records: Long, seconds: Double, batches: Int,
                             triggerMs: Seq[Double], cycleMs: Seq[Double], tally: Tally,
                             id: java.util.UUID) {
  def perS: Double = records / seconds
}

final case class OpenResult(latencyMs: Seq[Double], lagMs: Seq[Double], batches: Int,
                            backlogMax: Long, tally: Tally, id: java.util.UUID)

final class Ingest(spark: SparkSession, spec: IngestSpec, work: Path, tracer: Tracer) {
  private val app = spec.app()
  val router = new Router(app, tracer)
  private var queries = 0

  def static(files: Seq[Path]): DataFrame =
    spark.read.schema(KafkaRecordIn.schemaDdl).parquet(files.map(_.toString): _*)

  /** `processBatch` over `files` as one static batch. */
  def reference(files: Seq[Path]): Tally = router.route(static(files))

  private def stream(dir: Path, maxFiles: Option[Int])(
      onBatch: (DataFrame, Long) => Unit): (StreamingQuery, Path) = {
    queries += 1
    val ckpt = work.resolve(s"checkpoint-$queries")
    val reader = spark.readStream.schema(KafkaRecordIn.schemaDdl)
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n.toLong))
    val parent = tracer.open
    val q = reader.parquet(dir.toString).writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        tracer.under(parent)(tracer.span("runtime.batch")(onBatch(batch, id)))
      }
      .start()
    (q, ckpt)
  }

  /** Closed loop: drain a pre-written backlog at `filesPerTrigger` files
    * per micro-batch, from query start until everything is committed.
    */
  def drain(files: Seq[Path], records: Long): DrainResult = {
    val dir = work.resolve(s"drain-${queries + 1}")
    Files.createDirectories(dir)
    files.foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
    val tallies = new ConcurrentLinkedQueue[Tally]()
    val ends = new ConcurrentLinkedQueue[java.lang.Long]()
    val t0 = System.nanoTime()
    val (q, _) = stream(dir, Some(spec.filesPerTrigger)) { (b, _) =>
      tallies.add(router.route(b))
      ends.add(System.nanoTime())
    }
    try q.processAllAvailable() finally q.stop()
    val seconds = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val cycles = ends.asScala.toSeq.map(_.longValue).sliding(2).collect {
      case Seq(a, b) => (b - a) / 1e6
    }.toSeq
    DrainResult(records, seconds, progress.length,
      progress.map(_.durationMs.get("triggerExecution").doubleValue).toSeq, cycles,
      Tally.sum(tallies.asScala), q.id)
  }

  /** Open loop: one thread moves pre-written chunk files into the watched
    * directory every `chunkMs`, on a schedule that does not wait for the
    * query. Each chunk's latency runs from its due time to the end of the
    * micro-batch whose sink writes contain it; chunks due in the first
    * `WarmUpNs` are not timed.
    */
  def openLoop(layout: Layout): OpenResult = {
    val dir = work.resolve(s"open-${queries + 1}")
    Files.createDirectories(dir)
    val staged = layout.chunks.map { f =>
      val copy = work.resolve(s"staged-${queries + 1}").resolve(f.getFileName)
      Files.createDirectories(copy.getParent)
      Files.createLink(copy, f)
      copy
    }
    val ends = new ConcurrentHashMap[Long, java.lang.Long]()
    val tallies = new ConcurrentLinkedQueue[Tally]()
    val (q, ckpt) = stream(dir, None) { (b, id) =>
      tallies.add(router.route(b))
      ends.put(id, System.nanoTime())
    }
    val n = staged.size
    val period = spec.chunkMs * 1000000L
    val start = System.nanoTime() + 500000000L
    val due = Array.tabulate(n)(i => start + i * period)
    val moved = new Array[Long](n)
    val generator = new Thread(() => {
      var i = 0
      while (i < n) {
        var wait = due(i) - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = due(i) - System.nanoTime() }
        Files.move(staged(i), dir.resolve(staged(i).getFileName), StandardCopyOption.ATOMIC_MOVE)
        moved(i) = System.nanoTime()
        i += 1
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    try q.processAllAvailable() finally q.stop()

    val batchOf = Ingest.fileBatches(ckpt)
    val batch = staged.map(p => batchOf(p.getFileName.toString))
    // Chunks due while the new query warms up are routed and checked but
    // not timed.
    val timed = staged.indices.filter(i => due(i) - start >= Ingest.WarmUpNs)
    val latency = timed.map(i => (ends.get(batch(i)).longValue - due(i)) / 1e6)
    val lag = staged.indices.map(i => (moved(i) - due(i)) / 1e6)
    val backlog = ends.asScala.map { case (b, end) =>
      val offered = moved.count(_ <= end)
      val done = batch.count(_ <= b)
      (offered - done).toLong * layout.chunkRecords
    }
    OpenResult(latency, lag, ends.size, if (backlog.isEmpty) 0L else backlog.max,
      Tally.sum(tallies.asScala), q.id)
  }
}

object Ingest {
  /** Share of the run spent draining the backlog; the open loop gets the
    * rest.
    */
  val DrainShare = 0.5

  /** The open loop's first two seconds: a new query's first micro-batches
    * run about twice as long as later ones.
    */
  val WarmUpNs = 2000000000L

  /** Backlog sized for `DrainShare` of the run at the nominal rate, in
    * whole micro-batches; open-loop chunks for the rest of the run.
    */
  def generate(spec: IngestSpec, dir: Path, seed: Long, seconds: Int): Layout = {
    val shape = spec.shape()
    val batches = math.max(2,
      math.round(spec.nominalPerS * seconds * DrainShare / spec.perTrigger).toInt)
    val (backlog, bs) = Corpus.write(dir.resolve("backlog"), "backlog",
      batches * spec.filesPerTrigger, spec.perFile, 0L, shape, seed, 1)
    val chunkRecords = math.round(spec.offeredPerS * spec.chunkMs / 1000).toInt
    val nChunks = math.round(seconds * 1000 * (1 - DrainShare) / spec.chunkMs).toInt
    val (chunks, cs) = Corpus.write(dir.resolve("staging"), "chunk", nChunks,
      chunkRecords, bs.records, shape, seed, 2)
    Layout(backlog, bs, chunks, cs, chunkRecords)
  }

  private val entry = "\"path\":\"([^\"]*)\".*\"batchId\":(\\d+)".r.unanchored

  /** File name -> micro-batch id, from the file source's own log in the
    * query checkpoint (plain and compacted log files alike).
    */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val files = Files.list(dir).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith(".")).toSeq
    files.flatMap { f =>
      new String(Files.readAllBytes(f), UTF_8).split("\n").collect {
        case entry(path, id) => path.substring(path.lastIndexOf('/') + 1) -> id.toLong
      }
    }.toMap
  }

  val wire: IngestSpec = IngestSpec("ingest-wire", () => WireApp.app(), () => WireApp.Shape,
    fanOut = WireApp.Sinks.size, perFile = 30000, filesPerTrigger = 4,
    nominalPerS = 100000, offeredPerS = 50000, chunkMs = 50)

  val text: IngestSpec = IngestSpec("ingest-text", () => TextApp.app(), () => new TextApp.Shape,
    fanOut = TextApp.Sinks.size, perFile = 3000, filesPerTrigger = 4,
    nominalPerS = 11000, offeredPerS = 5500, chunkMs = 50)
}
