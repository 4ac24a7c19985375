package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.dsl.{ConsumerSpec, GraftApp}
import graft.functions.TextFunctions
import graft.serde.{AvroSerde, JsonSerde, PbField, PbType, ProtobufSerde, StringSerde}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `ingest-wire`: small order events on two topics, one Protobuf and one
  * Avro, each fanned out by a projecting handler to two sink topics.
  */
object WireApp {
  val PbTopic = "orders-pb"
  val AvroTopic = "orders-avro"
  val Sinks: Seq[String] = Seq("audit", "analytics")

  val pbFields: Seq[PbField] = Seq(
    PbField(1, "id", PbType.PbInt64), PbField(2, "user", PbType.PbString),
    PbField(3, "amount", PbType.PbDouble), PbField(4, "event", PbType.PbString),
    PbField(5, "ts", PbType.PbInt64))

  val avroSchema: String =
    """{"type":"record","name":"Order","fields":[
      |{"name":"id","type":"long"},{"name":"user","type":"string"},
      |{"name":"amount","type":"double"},{"name":"event","type":"string"},
      |{"name":"ts","type":"long"}]}""".stripMargin

  /** The handler does almost nothing: it projects one field. */
  val project: DataFrame => DataFrame = _.withColumn("value", col("value.event"))

  def app(): GraftApp = new GraftApp()
    .consume(ConsumerSpec(PbTopic, Sinks, ProtobufSerde(pbFields), Some(StringSerde),
      outValueSerde = Some(StringSerde), handler = project))
    .consume(ConsumerSpec(AvroTopic, Sinks, AvroSerde(avroSchema), Some(StringSerde),
      outValueSerde = Some(StringSerde), handler = project))

  private val users = Corpus.zipfCdf(10000, 1.1)
  private val userKeys = Array.tabulate(10000)(i => ("user-" + (100000 + i).toString.substring(1)).getBytes(UTF_8))
  private val pages = Array("catalog/item", "cart/add", "search/q", "checkout/pay")

  /** ~60-byte payloads; a malformed Protobuf record carries an invalid
    * wire type, a malformed Avro record is cut short.
    */
  object Shape extends RecordShape {
    def record(rng: SplittableRandom, offset: Long, malformed: Boolean): (WireRec, Boolean) = {
      val u = Corpus.pick(rng, users)
      val user = userKeys(u)
      val amount = rng.nextInt(1000000) / 100.0
      val event = s"view:/${pages(rng.nextInt(pages.length))}/${rng.nextInt(100000)}"
      val ts = 1700000000000L + offset * 3
      val pb = rng.nextBoolean()
      val good = if (pb) protobuf(offset, user, amount, event, ts)
                 else avro(offset, user, amount, event, ts)
      val value =
        if (!malformed) good
        else if (pb) { val b = good.clone(); b(0) = 0x0f.toByte; b } // field 1, wire type 7
        else java.util.Arrays.copyOf(good, good.length / 2)
      (WireRec(if (pb) PbTopic else AvroTopic, u % 8, offset, ts, user, value), !malformed)
    }
  }

  /** Growable byte buffer for the two wire encoders. */
  private final class Buf {
    private var b = new Array[Byte](96)
    private var n = 0
    def byte(v: Int): Unit = {
      if (n == b.length) b = java.util.Arrays.copyOf(b, n * 2)
      b(n) = v.toByte; n += 1
    }
    def bytes(x: Array[Byte]): Unit = x.foreach(v => byte(v))
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { byte(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      byte(v.toInt)
    }
    def zigzag(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def fixed64(v: Long): Unit = (0 until 8).foreach(i => byte(((v >>> (8 * i)) & 0xff).toInt))
    def result: Array[Byte] = java.util.Arrays.copyOf(b, n)
  }

  def protobuf(id: Long, user: Array[Byte], amount: Double, event: String, ts: Long): Array[Byte] = {
    val out = new Buf
    def str(field: Int, b: Array[Byte]): Unit = {
      out.varint((field << 3) | 2); out.varint(b.length); out.bytes(b)
    }
    out.varint((1 << 3) | 0); out.varint(id)
    str(2, user)
    out.varint((3 << 3) | 1); out.fixed64(java.lang.Double.doubleToLongBits(amount))
    str(4, event.getBytes(UTF_8))
    out.varint((5 << 3) | 0); out.varint(ts)
    out.result
  }

  def avro(id: Long, user: Array[Byte], amount: Double, event: String, ts: Long): Array[Byte] = {
    val out = new Buf
    def str(b: Array[Byte]): Unit = { out.zigzag(b.length); out.bytes(b) }
    out.zigzag(id); str(user)
    out.fixed64(java.lang.Double.doubleToLongBits(amount))
    str(event.getBytes(UTF_8)); out.zigzag(ts)
    out.result
  }
}

/** `ingest-text`: ~1 KB JSON documents, PII-scrubbed and quality-filtered
  * by the graft text kernels, published as JSON to one sink topic.
  */
object TextApp {
  val Topic = "docs"
  val Sinks: Seq[String] = Seq("clean-docs")
  val StopWords: Seq[String] = Seq("the", "and", "for", "with", "that", "this", "from", "are")
  /** Documents below this many words fail the quality filter. */
  val MinWords = 50

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("url", StringType),
    StructField("lang", StringType), StructField("text", StringType)))

  val outSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType), StructField("n_words", LongType),
    StructField("stop_ratio", DoubleType)))

  /** PII scrub, then a Gopher-style quality filter on the scrubbed text. */
  val scrubAndFilter: DataFrame => DataFrame = { df =>
    val g = TextFunctions.gopherStats(col("clean"), StopWords)
    df.withColumn("clean", TextFunctions.piiScrub(col("value.text")))
      .withColumn("g", g)
      .filter(col("g.n_words") >= MinWords &&
        (col("g.char_sum") / col("g.n_words")).between(3.0, 10.0))
      .withColumn("value", struct(col("value.doc_id"), col("value.lang"),
        col("clean").as("text"), col("g.n_words").as("n_words"),
        (col("g.n_stop") / col("g.n_words")).as("stop_ratio")))
  }

  def app(): GraftApp = new GraftApp()
    .consume(ConsumerSpec(Topic, Sinks, JsonSerde(docSchema), Some(StringSerde),
      outValueSerde = Some(JsonSerde(outSchema)), handler = scrubAndFilter))

  private val sites = Corpus.zipfCdf(2000, 1.05)
  private val siteKeys = Array.tabulate(2000)(i => ("site-" + (10000 + i).toString.substring(1)).getBytes(UTF_8))
  private val langs = Array("en", "de", "fr", "es")

  /** Pseudo-words of 3 to 9 letters, fixed by the seed. */
  private def vocabulary(rng: SplittableRandom): Array[String] =
    Array.fill(4096) {
      val n = 3 + rng.nextInt(7)
      new String(Array.fill(n)(('a' + rng.nextInt(26)).toChar))
    }

  /** One shape per seed: the vocabulary is drawn from the record stream's
    * own generator the first time it is used.
    */
  final class Shape extends RecordShape {
    private var vocab: Array[String] = _

    def record(rng: SplittableRandom, offset: Long, malformed: Boolean): (WireRec, Boolean) = {
      if (vocab == null) vocab = vocabulary(rng)
      val site = Corpus.pick(rng, sites)
      // One document in ten is too short for the quality filter.
      val short = rng.nextInt(10) == 0
      val words = if (short) 10 + rng.nextInt(20) else 130 + rng.nextInt(40)
      val sb = new java.lang.StringBuilder(1200)
      sb.append("{\"doc_id\":").append(offset)
        .append(",\"url\":\"https://site").append(site).append(".example/p/")
        .append(rng.nextInt(100000)).append("\",\"lang\":\"")
        .append(langs(rng.nextInt(langs.length))).append("\",\"text\":\"")
      var i = 0
      while (i < words) {
        if (i > 0) sb.append(' ')
        val r = rng.nextInt(400)
        if (r == 0) sb.append("user").append(rng.nextInt(1000)).append("@mail.example.com")
        else if (r == 1) sb.append("10.").append(rng.nextInt(256)).append('.')
          .append(rng.nextInt(256)).append('.').append(rng.nextInt(256))
        else if (r == 2) sb.append("555-").append(100 + rng.nextInt(900)).append('-')
          .append(1000 + rng.nextInt(9000))
        else if (r < 80) sb.append(StopWords(r % StopWords.length))
        else sb.append(vocab(rng.nextInt(vocab.length)))
        i += 1
      }
      sb.append("\"}")
      val json = sb.toString.getBytes(UTF_8)
      val value = if (malformed) java.util.Arrays.copyOf(json, json.length / 2) else json
      (WireRec(Topic, site % 8, offset, 1700000000000L + offset * 3,
        siteKeys(site), value), !malformed && !short)
    }
  }
}
