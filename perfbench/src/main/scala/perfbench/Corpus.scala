package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

/** One generated input record, in the shape the Kafka source delivers
  * (`graft.model.KafkaRecordIn`, without headers).
  */
final case class WireRec(topic: String, partition: Int, offset: Long,
                         timestamp: Long, key: Array[Byte], value: Array[Byte])

/** What the generator knows about the records of one file: how many it
  * wrote, how many it corrupted on purpose (they belong in the DLQ) and
  * how many the workload's handler keeps by design.
  */
final case class FileStats(records: Long, malformed: Long, kept: Long,
                           payloadBytes: Long) {
  def +(o: FileStats): FileStats = FileStats(records + o.records,
    malformed + o.malformed, kept + o.kept, payloadBytes + o.payloadBytes)
}

object FileStats { val zero: FileStats = FileStats(0, 0, 0, 0) }

/** A workload's record generator. Every random choice (payload contents,
  * key skew, positions of malformed records) comes from `rng`, so a seed
  * fixes the corpus.
  */
trait RecordShape {
  /** Record number `offset`; `malformed` asks for a payload the
    * workload's serde must reject. Returns the record and whether the
    * handler keeps it.
    */
  def record(rng: SplittableRandom, offset: Long, malformed: Boolean): (WireRec, Boolean)
}

/** Seeded, deterministic writer of parquet files of Kafka-shaped records.
  * The files are written with the plain parquet library, not with Spark,
  * so the program under test only ever sees finished files.
  */
object Corpus {

  val parquetSchema = MessageTypeParser.parseMessageType(
    """message kafka_record_in {
      |  required binary topic (STRING);
      |  required int32 partition;
      |  required int64 offset;
      |  required int64 timestamp;
      |  required int32 timestampType;
      |  optional binary key;
      |  optional binary value;
      |}""".stripMargin)

  /** Share of every file's records that are corrupted: exactly 1%. */
  val MalformedPerMille = 10

  /** Write `files` files of `perFile` records each into `dir` as
    * `<prefix>-00000.parquet`, ... Record offsets start at `firstOffset`.
    * The stream of random numbers depends only on `seed` and `stream`.
    */
  def write(dir: Path, prefix: String, files: Int, perFile: Int,
            firstOffset: Long, shape: RecordShape, seed: Long,
            stream: Long): (Seq[Path], FileStats) = {
    Files.createDirectories(dir)
    val rng = new SplittableRandom(seed * 1000003L + stream)
    val factory = new SimpleGroupFactory(parquetSchema)
    var offset = firstOffset
    var total = FileStats.zero
    val paths = (0 until files).map { f =>
      val path = dir.resolve(f"$prefix-$f%05d.parquet")
      val bad = malformedPositions(rng, perFile)
      val writer = ExampleParquetWriter.builder(new LocalOutputFile(path))
        .withType(parquetSchema).withDictionaryEncoding(false).build()
      var stats = FileStats.zero
      try {
        var i = 0
        while (i < perFile) {
          val isBad = bad(i)
          val (r, kept) = shape.record(rng, offset, isBad)
          val g = factory.newGroup()
            .append("topic", r.topic)
            .append("partition", r.partition)
            .append("offset", r.offset)
            .append("timestamp", r.timestamp)
            .append("timestampType", 0)
          if (r.key != null) g.append("key", Binary.fromConstantByteArray(r.key))
          if (r.value != null) g.append("value", Binary.fromConstantByteArray(r.value))
          writer.write(g)
          stats = stats + FileStats(1, if (isBad) 1 else 0, if (kept) 1 else 0,
            if (r.value == null) 0 else r.value.length)
          offset += 1
          i += 1
        }
      } finally writer.close()
      total = total + stats
      path
    }
    (paths, total)
  }

  /** Exactly `n * MalformedPerMille / 1000` positions, drawn by a partial
    * Fisher-Yates shuffle.
    */
  private def malformedPositions(rng: SplittableRandom, n: Int): Array[Boolean] = {
    val k = n * MalformedPerMille / 1000
    val idx = Array.tabulate(n)(identity)
    val out = new Array[Boolean](n)
    var i = 0
    while (i < k) {
      val j = i + rng.nextInt(n - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      out(idx(i)) = true
      i += 1
    }
    out
  }

  /** SHA-256 over the names and bytes of `files`, in order. */
  def sha256(files: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach { p =>
      md.update(p.getFileName.toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Index into `cdf` (cumulative weights ending at 1.0) for a uniform draw. */
  def pick(rng: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    if (i >= 0) i else math.min(-i - 1, cdf.length - 1)
  }

  /** Zipf(s) cumulative weights over `n` keys: a few hot keys, a long tail. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }
}
