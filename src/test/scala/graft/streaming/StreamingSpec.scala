package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured-Streaming semantics over MemoryStream (the testkit's
  * streaming spine; SURVEY.md §5.2-5).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("dedupWithinWatermark drops duplicates within the horizon") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val deduped = StreamOps.dedupWithinWatermark(
      input.toDF().toDF("id", "ts"), "ts", "1 hour", Seq("id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:05:00")),
        (2L, ts("2024-01-01 10:06:00")))
      q.processAllAvailable()
      val out = spark.table("dedup_test").select("id").as[Long].collect().sorted
      assert(out.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("watermarked windowed aggregation emits closed windows") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val agg = StreamOps.windowedAgg(
      input.toDF().toDF("user_id", "ts", "value"), "ts", "10 minutes",
      "1 hour", Seq("user_id"), Seq(count(lit(1)).as("n")))
    val q = agg.writeStream.format("memory").queryName("window_test")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:10:00"), 1.0),
        (1L, ts("2024-01-01 10:20:00"), 2.0))
      q.processAllAvailable()
      // advance watermark past 11:10 to close the 10:00 window
      input.addData((1L, ts("2024-01-01 12:00:00"), 3.0))
      q.processAllAvailable()
      val rows = spark.table("window_test")
        .select(col("window.start").cast("string"), col("n")).collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("2024-01-01 10:00:00", 2L)))
    } finally q.stop()
  }

  test("full GraftApp pipeline runs under Structured Streaming via foreachBatch") {
    // Drives the shipped loop, KafkaIO.runWith, broker-free: a capturing
    // writer stands in for the Kafka sink.
    import graft.dsl.{ConsumerSpec, GraftApp}
    import graft.model.KafkaRecordIn
    import graft.runtime.KafkaIO
    import graft.serde.{JsonSerde, StringSerde}
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    implicit val sc = spark.sqlContext
    val app = new GraftApp().consume(ConsumerSpec(
      topic = "clicks",
      sinkTopics = Seq("out", "audit"),
      valueSerde = JsonSerde(StructType(Seq(StructField("user_id", LongType)))),
      outValueSerde = Some(StringSerde),
      handler = df => df.select(
        concat(lit("u"), col("value.user_id")).as("value"))))
    val input = MemoryStream[KafkaRecordIn]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kaflow_ckpt").toString
    // (headers type, rows) per write call
    val writes = scala.collection.mutable.ArrayBuffer.empty[(DataType, Seq[Row])]
    def start() = KafkaIO.runWith(input.toDF(), app, ckpt, Some("dlq"),
      Trigger.ProcessingTime(0L)) { (rows: DataFrame) =>
      val captured = (rows.schema("headers").dataType, rows.collect().toSeq)
      writes.synchronized { writes += captured }
    }
    def published(): Seq[String] = writes.synchronized(writes.toSeq)
      .flatMap(_._2).map { r =>
        def str(f: String) = Option(r.getAs[Array[Byte]](f))
          .map(new String(_, "UTF-8")).orNull
        s"${r.getAs[String]("topic")}:${str("key")}:${str("value")}"
      }.sorted

    val q1 = start()
    try {
      input.addData(
        KafkaRecordIn(topic = "clicks", value = """{"user_id": 7}""".getBytes),
        KafkaRecordIn(topic = "clicks", key = "k9".getBytes, value = "not json".getBytes),
        KafkaRecordIn(topic = "other", value = """{"user_id": 8}""".getBytes))
      q1.processAllAvailable()
    } finally q1.stop()
    // One write per micro-batch: fan-out outputs and the DLQ row (raw
    // key/value of the malformed record) together; "other" is unregistered.
    assert(writes.size == 1)
    assert(published() == Seq("audit:null:u7", "dlq:k9:not json", "out:null:u7"))
    assert(writes.head._1 == DataType.fromDDL("array<struct<key:string,value:binary>>"))

    // Restart from the same checkpoint: only the records added after it publish.
    writes.synchronized(writes.clear())
    val q2 = start()
    try {
      input.addData(KafkaRecordIn(topic = "clicks", value = """{"user_id": 3}""".getBytes))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(writes.size == 1)
    assert(published() == Seq("audit:null:u3", "out:null:u3"))
  }

  test("KafkaIO.runWith applies the handler once across micro-batches") {
    import graft.dsl.{ConsumerSpec, GraftApp}
    import graft.model.KafkaRecordIn
    import graft.runtime.KafkaIO
    import graft.serde.{JsonSerde, StringSerde}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    implicit val sc = spark.sqlContext
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val app = new GraftApp().consume(ConsumerSpec(
      topic = "clicks",
      sinkTopics = Seq("out", "audit"),
      valueSerde = JsonSerde(StructType(Seq(StructField("user_id", LongType)))),
      outValueSerde = Some(StringSerde),
      handler = { df =>
        calls.incrementAndGet()
        df.select(concat(lit("u"), col("value.user_id"), lit("@"), col("offset")).as("value"))
      }))
    val input = MemoryStream[KafkaRecordIn]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_kaflow_once").toString
    // the published (topic:key:value) rows of each write call
    val writes = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val q = KafkaIO.runWith(input.toDF(), app, ckpt, Some("dlq"),
      Trigger.ProcessingTime(0L)) { (rows: DataFrame) =>
      val published = rows.collect().toSeq.map { r =>
        def str(f: String) = Option(r.getAs[Array[Byte]](f))
          .map(new String(_, "UTF-8")).orNull
        s"${r.getAs[String]("topic")}:${str("key")}:${str("value")}"
      }.sorted
      writes.synchronized { writes += published }
    }
    try {
      input.addData(KafkaRecordIn(topic = "clicks", offset = 1, value = """{"user_id": 7}""".getBytes),
        KafkaRecordIn(topic = "clicks", offset = 2, key = "k2".getBytes, value = "not json".getBytes))
      q.processAllAvailable()
      input.addData(KafkaRecordIn(topic = "clicks", offset = 3, value = """{"user_id": 8}""".getBytes),
        KafkaRecordIn(topic = "other", offset = 4, value = """{"user_id": 9}""".getBytes))
      q.processAllAvailable()
      input.addData(KafkaRecordIn(topic = "clicks", offset = 5, key = "k5".getBytes,
        value = "{".getBytes))
      q.processAllAvailable()
    } finally q.stop()
    assert(writes.synchronized(writes.toSeq) == Seq(
      Seq("audit:null:u7@1", "dlq:k2:not json", "out:null:u7@1"),
      Seq("audit:null:u8@3", "out:null:u8@3"),
      Seq("dlq:k5:{")))
    assert(calls.get == 1, s"${calls.get} handler calls over 3 micro-batches")
  }

  test("streaming heavy hitters: Misra-Gries aggregate in complete mode") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[String]
    val mg = graft.operators.TopK.frequentItems(input.toDF()
      .withColumnRenamed("value", "item"), col("item"), 3)
    val q = mg.writeStream.format("memory").queryName("mg_out")
      .outputMode("complete").start()
    try {
      input.addData(Seq.fill(50)("hot") ++ Seq.fill(30)("warm") ++
        (1 to 10).map(i => s"cold_$i"): _*)
      q.processAllAvailable()
      val out = spark.sql("SELECT item, mg_count FROM mg_out")
        .as[(String, Long)].collect().toMap
      assert(out.contains("hot") && out.contains("warm"),
        s"heavies must survive the stream summary: $out")
      assert(out("hot") <= 50 && out("warm") <= 30, "lower bounds only")
      // More data arrives; the summary keeps tracking without rescans.
      input.addData(Seq.fill(40)("surge"): _*)
      q.processAllAvailable()
      val out2 = spark.sql("SELECT item FROM mg_out").as[String].collect().toSet
      assert(out2.contains("surge"), s"new heavy must enter: $out2")
    } finally q.stop()
  }

  test("custom aggregates register as SQL functions") {
    Seq((1L, 10.0, 100L), (1L, 30.0, 101L), (1L, 20.0, 102L), (2L, 5.0, 103L))
      .toDF("g", "v", "id").createOrReplaceTempView("tk")
    val top = spark.sql(
      "SELECT g, topk_agg(v, id, 2) AS t FROM tk GROUP BY g ORDER BY g")
      .collect()
    val g1 = top(0).getSeq[org.apache.spark.sql.Row](1)
    assert(g1.map(r => (r.getDouble(0), r.getLong(1))) ==
      Seq((30.0, 101L), (20.0, 102L)))
    assert(top(1).getSeq[org.apache.spark.sql.Row](1).size == 1)
    val fx = spark.sql(
      """SELECT fixed_point_vector_sum(v, 1073741824L) AS s
        FROM (SELECT array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)) AS v
              UNION ALL
              SELECT array(CAST(0.25 AS FLOAT), CAST(0.25 AS FLOAT)))""")
      .collect()(0).getStruct(0)
    assert(fx.getSeq[Long](0) == Seq((0.75 * (1L << 30)).toLong, 0L))
    assert(fx.getLong(1) == 2L)
  }

  test("wav and quantile kernels register as SQL functions") {
    // encode -> decode-hash round trip entirely in SQL
    val h = spark.sql(
      """SELECT wav_energy_hash(encode_wav_pcm8(
           transform(sequence(0, 255),
             i -> CAST(128 + CASE WHEN (i div 4) % 2 = 0 THEN 90
                                  ELSE -3 END AS INT)))) AS h""")
      .collect()(0)
    assert(!h.isNullAt(0))
    val expected = graft.functions.MediaCodecs.energyHash64(
      graft.functions.MediaCodecs.encodeWavPcm8(
        Array.tabulate(256)(i => 128 + (if ((i / 4) % 2 == 0) 90 else -3)), 8000))
    assert(h.getLong(0) == expected.longValue())
    // quantile_sketch: exact regime (n < k) equals PERCENTILE_DISC
    (1 to 40).map(i => (i * 7 % 41).toDouble).toDF("v")
      .createOrReplaceTempView("qsk")
    val r = spark.sql(
      "SELECT quantile_sketch(v, 64, 0.5, 0.9) AS s FROM qsk")
      .select($"s.ests").collect()(0).getSeq[Double](0)
    val sorted = (1 to 40).map(i => (i * 7 % 41).toDouble).sorted
    def disc(q: Double) = sorted(math.max(1, math.ceil(q * 40).toInt) - 1)
    assert(r == Seq(disc(0.5), disc(0.9)))
  }

  test("scale_vector and cdc_chunks register as SQL functions") {
    val sv = spark.sql(
      "SELECT scale_vector(array(CAST(1.5 AS FLOAT), CAST(-0.0005 AS FLOAT)), 1000) AS v")
      .collect()(0).getSeq[Long](0)
    // float -0.0005f is -0.00050000002...: *1000 + 0.5 lands a hair
    // below zero, so floor = -1 (identical to the HOF reference)
    assert(sv == Seq(1500L, -1L))
    val ch = spark.sql(
      "SELECT cdc_chunks('a b c d e f g h', 3, 2) AS c")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    // parity with the operator column on the same input
    import spark.implicits._
    val expected = Seq("a b c d e f g h").toDF("t")
      .select(graft.operators.Dedup.cdcChunkHashesCol($"t", 3, 2L).as("hs"))
      .collect()(0).getSeq[Long](0)
    assert(ch.map(_.getLong(0)) == expected)
    // Long literals for w are valid too (`3L`), not just plain ints
    val chL = spark.sql(
      "SELECT cdc_chunks('a b c d e f g h', 3L, 2) AS c")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(chL.map(_.getLong(0)) == expected)
  }

  test("nearest_cell_fixed registers as a SQL function") {
    val cell = spark.sql(
      """SELECT nearest_cell_fixed(array(1L, 1L),
           array(named_struct('cell', 7L, 'cv', array(0L, 0L)),
                 named_struct('cell', 3L, 'cv', array(1L, 2L)))) AS c""")
      .collect()(0).getLong(0)
    assert(cell == 3L) // d=2 for cell 7, d=1 for cell 3
  }

  test("cosine_similarity registers as a SQL function") {
    val c = spark.sql(
      "SELECT cosine_similarity(array(3.0D, 4.0D), array(4.0D, 3.0D)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(c - 0.96) < 1e-15)
  }

  test("poly_hash registers as a SQL function and matches the Column API") {
    val viaSql = spark.sql("SELECT poly_hash('the quick brown') AS h")
      .collect()(0).getLong(0)
    val viaCol = Seq("the quick brown").toDF("s")
      .select(graft.operators.Dedup.polyHash(col("s"))).collect()(0).getLong(0)
    assert(viaSql == viaCol)
    val custom = spark.sql("SELECT poly_hash('abc', 97L) AS h").collect()(0).getLong(0)
    assert(custom == ((((('a'.toLong % 97) * 31 + 'b') % 97) * 31 + 'c') % 97))
  }

  test("levenshtein_within and deletion_variants register as SQL functions") {
    val r = spark.sql(
      """SELECT levenshtein_within('gear', 'fear', 1) AS a,
        levenshtein_within('gear', 'spark', 1) AS b,
        size(deletion_variants('ab', 2)) AS nv""").collect()(0)
    assert(r.getInt(0) == 1)
    assert(r.getInt(1) == -1) // above tau -> -1, the threshold contract
    assert(r.getInt(2) == 4)  // {"ab", "a", "b", ""}
  }

  test("clean_tokens and clean_tokens_count register as SQL functions") {
    val r = spark.sql(
      """SELECT clean_tokens('x the x x and y', array('the', 'and')) AS c,
        clean_tokens_count('x the x x and y', array('the', 'and')) AS n""")
      .collect()(0)
    assert(r.getString(0) == "x y") // stopword drop exposes the x-run
    assert(r.getInt(1) == 2)
    val viaCol = Seq("x the x x and y").toDF("t")
      .select(graft.functions.TextFunctions
        .cleanTokens(col("t"), Seq("the", "and"))).collect()(0).getString(0)
    assert(viaCol == "x y")
  }

  test("minhash_signature and simhash register as SQL functions") {
    val txt = "the quick brown fox jumps over the lazy dog"
    val viaSql = spark.sql(s"SELECT minhash_signature('$txt') AS s, simhash('$txt') AS h")
      .collect()(0)
    val viaCol = Seq(txt).toDF("t")
      .select(graft.operators.Dedup.minhashSignatureCol(col("t")).as("s"),
        graft.operators.Dedup.simhashCol(col("t")).as("h"))
      .collect()(0)
    assert(viaSql.getSeq[Long](0) == viaCol.getSeq[Long](0))
    assert(viaSql.getLong(1) == viaCol.getLong(1))
    // short doc -> null through SQL too
    assert(spark.sql("SELECT minhash_signature('one two') AS s").collect()(0).isNullAt(0))
  }

  test("file-based streaming source processes a directory with AvailableNow") {
    val dir = java.nio.file.Files.createTempDirectory("graft_filestream").toString
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").parquet(dir)
    val stream = spark.readStream.schema("id LONG, v STRING").parquet(dir)
    val q = stream.groupBy().count().writeStream
      .format("memory").queryName("filestream_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      assert(spark.table("filestream_test").collect()(0).getLong(0) == 2L)
    } finally q.stop()
  }

  test("stream-stream interval join emits matches within the window") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val views = MemoryStream[(Long, Timestamp)]
    val joined = StreamOps.intervalJoin(
      clicks.toDF().toDF("user_id", "cts"),
      views.toDF().toDF("user_id", "vts"),
      "cts", "vts", "user_id", watermark = "1 hour", within = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    try {
      clicks.addData((1L, ts("2024-01-01 10:00:00")))
      views.addData((1L, ts("2024-01-01 10:05:00")), // within 10 min: match
        (1L, ts("2024-01-01 10:20:00")),             // outside: no match
        (2L, ts("2024-01-01 10:01:00")))             // other key: no match
      q.processAllAvailable()
      val rows = spark.table("ssjoin_test").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Timestamp]("vts") == ts("2024-01-01 10:05:00"))
    } finally q.stop()
  }

  test("streaming session_window aggregation closes sessions at the watermark") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val sessions = input.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.format("memory").queryName("sswin_test")
      .outputMode("append").start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 10:05:00"), 1.0))
      q.processAllAvailable()
      input.addData((1L, ts("2024-01-01 12:00:00"), 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sswin_test")
        .select(col("session_window.start").cast("string"), col("n")).collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("2024-01-01 10:00:00", 2L)))
    } finally q.stop()
  }

  test("transformWithState running counts persist across micro-batches") {
    implicit val sc = spark.sqlContext
    // state API v2 requires the RocksDB provider (multiple column
    // families), which every Sessions session sets
    transformWithStateBody()
  }

  private def transformWithStateBody(): Unit = {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val counted = RunningCountProcessor(input.toDS())
    val q = counted.writeStream.format("memory").queryName("tws_test")
      .outputMode("update").start()
    try {
      input.addData((1L, 2.0), (1L, 3.0), (2L, 10.0))
      q.processAllAvailable()
      input.addData((1L, 5.0))
      q.processAllAvailable()
      val latest = spark.table("tws_test").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      assert(latest(1L) == ((3L, 10.0)))
      assert(latest(2L) == ((1L, 10.0)))
    } finally q.stop()
  }

  test("streaming near-dup: candidate pairs emitted across micro-batches") {
    streamingNearDupBody()
  }

  test("streaming ANN: incremental neighbors via IVF cell state") {
    streamingAnnBody()
  }

  private def streamingAnnBody(): Unit = {
    implicit val sc = spark.sqlContext
    // Two well-separated cells on the x/y axes.
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)))
      .toDF("cell", "cv")
    val input = MemoryStream[(Long, Seq[Double])]
    val hits = AnnStream.neighbors(
      input.toDF().toDF("vec_id", "embedding"), cents,
      "vec_id", "embedding", k = 2, nprobe = 1, minCosine = 0.5)
    val q = hits.writeStream.format("memory").queryName("ann_stream")
      .outputMode("append").start()
    try {
      // Batch 1: one vector per cell — nothing to pair with yet.
      input.addData((1L, Seq(0.9, 0.1, 0.0)), (2L, Seq(0.1, 0.9, 0.0)))
      q.processAllAvailable()
      assert(spark.table("ann_stream").count() == 0)

      // Batch 2: a vector near cell 0 pairs with the HISTORICAL vec 1 (same
      // cell), never with vec 2 (other cell, and cosine below threshold).
      input.addData((3L, Seq(0.95, 0.05, 0.0)))
      q.processAllAvailable()
      val got = spark.table("ann_stream")
        .select("queryId", "neighborId").as[(Long, Long)].collect().toSet
      assert(got == Set((3L, 1L)), s"got $got")

      // Batch 3: another cell-0 vector sees both stored members, ranked by
      // cosine (vec 3 is closer to vec 4 than vec 1 is).
      input.addData((4L, Seq(0.97, 0.03, 0.0)))
      q.processAllAvailable()
      val r4 = spark.table("ann_stream").filter(col("queryId") === 4L)
        .orderBy(col("cosine").desc).select("neighborId").as[Long].collect().toSeq
      assert(r4 == Seq(3L, 1L), s"got $r4")
    } finally q.stop()
  }

  test("streaming ANN: cross-cell global top-k composes in foreachBatch") {
    implicit val sc = spark.sqlContext
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)))
      .toDF("cell", "cv")
    val input = MemoryStream[(Long, Seq[Double])]
    val hits = AnnStream.neighbors(
      input.toDF().toDF("vec_id", "embedding"), cents,
      "vec_id", "embedding", k = 5, nprobe = 2, minCosine = 0.0)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Double)]
    val q = AnnStream.globalTopK(hits, k = 2) { (ranked, _) =>
      collected ++= ranked.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    }.start()
    try {
      input.addData((1L, Seq(0.9, 0.1, 0.0)), (2L, Seq(0.1, 0.9, 0.0)))
      q.processAllAvailable()
      // a diagonal arrival probes BOTH cells: its per-cell hits (vec 1 in
      // cell 0, vec 2 in cell 1) merge into one cross-cell ranking
      input.addData((3L, Seq(0.7, 0.7, 0.0)))
      q.processAllAvailable()
      val r3 = collected.filter(_._1 == 3L).sortBy(_._2)
      assert(r3.map(_._3) == Seq(1L, 2L) || r3.map(_._3) == Seq(2L, 1L))
      assert(r3.size == 2 && r3.map(_._2) == Seq(1, 2))
      // symmetric cosines: both neighbors score identically
      assert(math.abs(r3(0)._4 - r3(1)._4) < 1e-12)
    } finally q.stop()
  }

  test("streaming ANN: nprobe > 1 probes neighbor cells without storing there") {
    implicit val sc = spark.sqlContext
    val cents = Seq((0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0)))
      .toDF("cell", "cv")
    val input = MemoryStream[(Long, Seq[Double])]
    val hits = AnnStream.neighbors(
      input.toDF().toDF("vec_id", "embedding"), cents,
      "vec_id", "embedding", k = 3, nprobe = 2, minCosine = 0.0)
    val q = hits.writeStream.format("memory").queryName("ann_probe")
      .outputMode("append").start()
    try {
      input.addData((1L, Seq(0.9, 0.1, 0.0)))
      q.processAllAvailable()
      // On-diagonal arrival: home cell is 1 (closer to y), probes cell 0
      // too — finds vec 1 there even though they live in different cells.
      input.addData((2L, Seq(0.6, 0.8, 0.0)))
      q.processAllAvailable()
      val got = spark.table("ann_probe")
        .select("queryId", "neighborId", "cell").as[(Long, Long, Long)].collect().toSet
      assert(got == Set((2L, 1L, 0L)), s"got $got")
      // vec 2 was stored only in its home cell 1: a later cell-0 arrival
      // with nprobe=1 must NOT see it, but sees vec 1.
      val input3 = Seq((3L, Seq(0.99, 0.01, 0.0)))
      input.addData(input3: _*)
      q.processAllAvailable()
      val r3 = spark.table("ann_probe").filter(col("queryId") === 3L)
        .select("neighborId", "cell").as[(Long, Long)].collect().toSet
      assert(r3.contains((1L, 0L)), s"got $r3")
      assert(!r3.contains((2L, 0L)), s"vec 2 must not be stored in cell 0: $r3")
    } finally q.stop()
  }

  test("streaming decontamination: stream-static bench join flags shared shingles") {
    implicit val sc = spark.sqlContext
    val bench = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val input = MemoryStream[(Long, String)]
    val hits = NearDupStream.contaminationHits(
      input.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", "text", k = 3)
    val q = hits.writeStream.format("memory").queryName("contam_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "completely different words appear here with nothing shared at all"))
      q.processAllAvailable()
      assert(spark.table("contam_stream").count() == 0, "clean doc must emit no hits")
      // A later batch containing bench text must flag against the STATIC set.
      input.addData(
        (2L, "prefix words then the quick brown fox jumps over the lazy dog"),
        (3L, "another clean document with its own vocabulary entirely"))
      q.processAllAvailable()
      val flagged = spark.table("contam_stream").select("doc_id")
        .distinct().as[Long].collect().toSet
      assert(flagged == Set(2L), s"only doc 2 shares bench shingles: $flagged")
    } finally q.stop()
  }

  private def streamingNearDupBody(): Unit = {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val cands = NearDupStream.candidates(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = cands.writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      // Batch 1: two distinct docs — no candidates yet.
      input.addData(
        (1L, "the quick brown fox jumps over the lazy dog tonight"),
        (2L, "completely different words about spark execution engines here"))
      q.processAllAvailable()
      assert(spark.table("neardup_stream").count() == 0)

      // Batch 2: a near-copy of doc 1 arrives LATER — must pair with the
      // historical doc via the band-bucket state, plus an unrelated doc.
      input.addData(
        (3L, "the quick brown fox jumps over the lazy dog today"),
        (4L, "unrelated text with zero shared shingles in it at all"))
      q.processAllAvailable()
      val pairs = spark.table("neardup_stream")
        .select("idA", "idB").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs.contains((1L, 3L)), s"expected (1,3) in $pairs")
      assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))

      // Batch 3: exact duplicate of doc 1 pairs with BOTH 1 and 3, and the
      // signature-agreement estimate for the exact dup is 1.0.
      input.addData((5L, "the quick brown fox jumps over the lazy dog tonight"))
      q.processAllAvailable()
      val pairs2 = spark.table("neardup_stream")
        .select("idA", "idB").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs2.contains((1L, 5L)) && pairs2.contains((3L, 5L)))
      val est15 = spark.table("neardup_stream")
        .filter(col("idA") === 1L && col("idB") === 5L)
        .select(max(col("estJaccard"))).collect()(0).getDouble(0)
      assert(est15 == 1.0, s"exact dup must have estimate 1.0, got $est15")

      // A strict pre-filter keeps everything below threshold inside the
      // bucket: re-run the same feed with minEstJaccard = 1.0 — only the
      // exact-dup pair survives.
      val input2 = MemoryStream[(Long, String)]
      val strict = NearDupStream.candidates(
        input2.toDF().toDF("doc_id", "text"), "doc_id", "text",
        minEstJaccard = 1.0)
      val q2 = strict.writeStream.format("memory").queryName("neardup_strict")
        .outputMode("append").start()
      try {
        input2.addData(
          (1L, "the quick brown fox jumps over the lazy dog tonight"),
          (3L, "the quick brown fox jumps over the lazy dog today"))
        q2.processAllAvailable()
        input2.addData((5L, "the quick brown fox jumps over the lazy dog tonight"))
        q2.processAllAvailable()
        val strictPairs = spark.table("neardup_strict")
          .select("idA", "idB").distinct().as[(Long, Long)].collect().toSet
        assert(strictPairs == Set((1L, 5L)), s"got $strictPairs")
      } finally q2.stop()
    } finally q.stop()
  }

  test("streaming session labels equal batch withSessionIds on a two-batch split") {
    sessionLabelParityBody()
  }

  private def sessionLabelParityBody(): Unit = {
    implicit val sc = spark.sqlContext
    val gap = 30L * 60 * 1000000 // 30 min, the q81 rule
    def us(s: String): Long = ts(s).getTime * 1000L
    // (userId, usMicros, eventId): user 1 splits across the batch boundary
    // mid-session AND starts a new session in batch 2; user 2's exact-gap
    // successor extends (strict > rule); batch-2 rows arrive shuffled.
    val batch1 = Seq(
      (1L, us("2024-01-01 10:00:00"), 101L),
      (1L, us("2024-01-01 10:10:00"), 102L),
      (2L, us("2024-01-01 09:00:00"), 201L))
    val batch2 = Seq(
      (1L, us("2024-01-01 12:00:00"), 104L), // new session (gap > 30m)
      (1L, us("2024-01-01 10:20:00"), 103L), // continues session 1
      (2L, us("2024-01-01 09:30:00"), 202L)) // exactly the gap: extends
    val input = MemoryStream[(Long, Long, Long)]
    val labeled = SessionLabelProcessor(input.toDS(), gap)
    val q = labeled.writeStream.format("memory").queryName("sess_labels")
      .outputMode("append").start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("sess_labels").as[(Long, Long, Long)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      val batch = graft.operators.Windows.withSessionIds(
          (batch1 ++ batch2).toDF("user_id", "usv", "event_id")
            .select(col("user_id"), timestamp_micros(col("usv")).as("ts"), col("event_id")),
          "user_id", "ts", gapMicros = gap, tieBreak = "event_id")
        .select(col("event_id"), col("user_id"), col("session_seq"))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(batch(103L)._2 == 1L && batch(104L)._2 == 2L && batch(202L)._2 == 1L)
    } finally q.stop()
  }

  test("streaming bounded sequences equal the batch q110 shape across batches") {
    boundedSequenceParityBody()
  }

  private def boundedSequenceParityBody(): Unit = {
    implicit val sc = spark.sqlContext
    def us(s: String): Long = ts(s).getTime * 1000L
    val maxLen = 3
    // user 1 exceeds the cap (5 events over two batches → first 3 kept);
    // user 2 stays under it; same-timestamp events order by event_id.
    val batch1 = Seq(
      (1L, us("2024-01-01 10:00:00"), 11L, "view"),
      (1L, us("2024-01-01 10:01:00"), 12L, "click"),
      (2L, us("2024-01-01 09:00:00"), 21L, "signup"))
    val batch2 = Seq(
      (1L, us("2024-01-01 10:00:30"), 13L, "scroll"), // lands inside the kept prefix
      (1L, us("2024-01-01 11:00:00"), 14L, "purchase"), // beyond the cap: dropped
      (2L, us("2024-01-01 09:05:00"), 22L, "view"))
    val input = MemoryStream[(Long, Long, Long, String)]
    val seqs = BoundedSequenceProcessor(input.toDS(), maxLen)
    val q = seqs.writeStream.format("memory").queryName("bounded_seqs")
      .outputMode("update").start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      // Update mode: the latest row per user wins; n_events is monotone
      // across updates, so max(n_events) identifies it.
      val streamed = spark.table("bounded_seqs").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getString(2))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      // batch equivalent: rank-filter then ordered collect (the q110 shape)
      val all = (batch1 ++ batch2).toDF("user_id", "us", "event_id", "event_type")
      val first = graft.operators.TopK.perGroup(
        all, Seq("user_id"), Seq(col("us").asc, col("event_id").asc), maxLen)
      val batch = first.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_join(transform(
            sort_array(collect_list(struct(col("us"), col("event_id"), col("event_type")))),
            e => e.getField("event_type")), ">").as("seq"))
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(batch(1L) == ((3L, "view>scroll>click")))
    } finally q.stop()
  }

  test("runningSessions tracks per-user session state across batches") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[StreamOps.SessionInput]
    val sessions = StreamOps.runningSessions(input.toDS(), gapMs = 600000L)
    val q = sessions.writeStream.format("memory").queryName("session_test")
      .outputMode("update").start()
    try {
      input.addData(StreamOps.SessionInput(1L, ts("2024-01-01 10:00:00"), 5.0))
      q.processAllAvailable()
      input.addData(StreamOps.SessionInput(1L, ts("2024-01-01 10:05:00"), 7.0))
      q.processAllAvailable()
      val latest = spark.table("session_test")
        .orderBy(col("nEvents").desc).collect()(0)
      assert(latest.getAs[Long]("nEvents") == 2L)
      assert(latest.getAs[Double]("sum") == 12.0)
    } finally q.stop()
  }

  test("streaming sequence packing: per-shard offsets persist, batch == stream") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)] // (shard, docId, nTokens)
    val packed = PackingStream(input.toDS(), capacity = 10L)
    val q = packed.writeStream.format("memory").queryName("pack_stream")
      .outputMode("update").start()
    try {
      // shard 2 leads with a ZERO-token doc at offset 0 — the edge
      // where batch and stream lastBin formulas previously diverged
      input.addData((0L, 0L, 7L), (1L, 1L, 5L), (0L, 2L, 6L), (2L, 9L, 0L))
      q.processAllAvailable()
      input.addData((0L, 3L, 0L), (0L, 4L, 9L), (1L, 3L, 2L))
      q.processAllAvailable()
      val stream = spark.table("pack_stream")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      // batch reference: Packing.packPositions per shard on the union
      val union = Seq((0L, 0L, 7L), (0L, 2L, 6L), (0L, 3L, 0L), (0L, 4L, 9L),
        (1L, 1L, 5L), (1L, 3L, 2L), (2L, 9L, 0L))
      val batch = union.groupBy(_._1).flatMap { case (shard, docs) =>
        graft.operators.Packing.packPositions(
            docs.map { case (_, id, n) => (id, n) }.toDF("doc_id", "n"),
            "doc_id", "n", capacity = 10L)
          .collect().toSeq.map(r => (shard, r.getAs[Long]("doc_id"),
            r.getAs[Long]("start_off"), r.getAs[Long]("first_bin"),
            r.getAs[Long]("last_bin")))
      }.toSet
      assert(stream == batch, s"stream $stream vs batch $batch")
    } finally q.stop()
  }

  test("streaming CDC chunking: per-document op composes in foreachBatch, batch == stream") {
    implicit val sc = spark.sqlContext
    val a = "the quick brown fox jumps over the lazy dog tonight again"
    val b = "rain falls softly on the quiet village roofs and nobody minds at all"
    val input = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // chunk boundaries depend only on the document itself, so each
        // micro-batch is exactly the batch op on its slice
        results ++= graft.operators.Dedup
          .cdcChunks(batch, "doc_id", "text", w = 3, divisor = 4L)
          .collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
            r.getAs[Long]("chunk_hash")))
        ()
      }.start()
    try {
      input.addData((0L, a))
      q.processAllAvailable()
      input.addData((1L, b))
      q.processAllAvailable()
      val batchRun = graft.operators.Dedup
        .cdcChunks(Seq((0L, a), (1L, b)).toDF("doc_id", "text"),
          "doc_id", "text", w = 3, divisor = 4L)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
          r.getAs[Long]("chunk_hash"))).toSet
      assert(results.toSet == batchRun, s"stream ${results.toSet} vs batch $batchRun")
    } finally q.stop()
  }

  test("streaming LM scoring: static model composes in foreachBatch, batch == stream") {
    implicit val sc = spark.sqlContext
    val train = Seq((100L, "a b a b c")).toDF("doc_id", "text")
    val docs = Seq((0L, "a b c"), (1L, "c a"), (2L, "a b a"))
    val input = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // scoring is per-document given the STATIC model, so scoring each
        // micro-batch is exactly the batch op on its slice
        results ++= graft.operators.LmScore
          .bigramScores(batch, train, "doc_id", "text")
          .collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_oov"),
            r.getAs[Long]("score_sum"), r.getAs[Long]("avg_score")))
        ()
      }.start()
    try {
      input.addData(docs(0), docs(1))
      q.processAllAvailable()
      input.addData(docs(2))
      q.processAllAvailable()
      val batchRun = graft.operators.LmScore
        .bigramScores(docs.toDF("doc_id", "text"), train, "doc_id", "text")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_oov"),
          r.getAs[Long]("score_sum"), r.getAs[Long]("avg_score"))).toSet
      assert(results.toSet == batchRun, s"stream ${results.toSet} vs batch $batchRun")
      assert(results.size == 3)
    } finally q.stop()
  }

  test("streaming Stupid Backoff scoring: batch == stream per micro-batch") {
    implicit val sc = spark.sqlContext
    val train = Seq((100L, "a b c a b d")).toDF("doc_id", "text")
    val docs = Seq((0L, "a b c"), (1L, "b c d"), (2L, "d a b"), (3L, "x y"))
    val input = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // same static-model argument as the bigram test: per-document
        // scoring on a micro-batch IS the batch op on that slice
        results ++= graft.operators.LmScore
          .stupidBackoffScores(batch, train, "doc_id", "text")
          .collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hit3"),
            r.getAs[Long]("n_oov"), r.getAs[Long]("score_sum")))
        ()
      }.start()
    try {
      input.addData(docs(0), docs(1))
      q.processAllAvailable()
      input.addData(docs(2), docs(3))
      q.processAllAvailable()
      val batchRun = graft.operators.LmScore
        .stupidBackoffScores(docs.toDF("doc_id", "text"), train, "doc_id", "text")
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hit3"),
          r.getAs[Long]("n_oov"), r.getAs[Long]("score_sum"))).toSet
      assert(results.toSet == batchRun, s"stream ${results.toSet} vs batch $batchRun")
      assert(results.size == 4)
    } finally q.stop()
  }

  test("streaming quality signals: stateless Append projection, batch == stream") {
    implicit val sc = spark.sqlContext
    val docs = Seq(
      (0L, "the a of key value " + Seq.fill(20)("table scan").mkString(" ")),
      (1L, "dup slow row"),
      (2L, "x"))
    val input = MemoryStream[(Long, String)]
    // the q177 projection runs UNCHANGED on the stream — no foreachBatch,
    // no state: Append mode accepts it because it is narrow per-row
    val q = graft.queries.WebQueries
      .qualitySignals(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sig_stream")
      .outputMode("append").start()
    try {
      input.addData(docs(0), docs(1))
      q.processAllAvailable()
      input.addData(docs(2))
      q.processAllAvailable()
      val stream = spark.table("sig_stream").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("score"), r.getAs[Boolean]("blocked"),
          r.getAs[Boolean]("gopher_pass"))).toSet
      val batch = graft.queries.WebQueries
        .qualitySignals(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("score"), r.getAs[Boolean]("blocked"),
          r.getAs[Boolean]("gopher_pass"))).toSet
      assert(stream == batch)
      assert(stream.size == 3)
    } finally q.stop()
  }

  test("streaming DSIR scoring: frozen model in foreachBatch, batch == stream") {
    implicit val sc = spark.sqlContext
    // model fit ONCE on history (the recurring-ingest contract —
    // refitting per micro-batch would let a batch shift its own ratios)
    val hist = Seq(
      (100L, "alpha beta alpha beta"), // target
      (101L, "gamma delta gamma")).toDF("doc_id", "text")
    val model = graft.operators.Dsir
      .fitModel(hist, "doc_id", "text", col("doc_id") === 100L)
      .localCheckpoint()
    val docs = Seq((0L, "alpha beta gamma"), (1L, "zz yy"), (2L, "gamma delta"))
    val input = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        results ++= graft.operators.Dsir
          .scoreAgainst(model, batch, "doc_id", "text")
          .collect()
          .map(r => (r.getLong(0), r.getAs[Long]("n_grams"),
            r.getAs[Long]("imp_score")))
        ()
      }.start()
    try {
      input.addData(docs(0), docs(1))
      q.processAllAvailable()
      input.addData(docs(2))
      q.processAllAvailable()
      val batchRun = graft.operators.Dsir
        .scoreAgainst(model, docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), r.getAs[Long]("n_grams"),
          r.getAs[Long]("imp_score"))).toSet
      assert(results.toSet == batchRun, s"stream ${results.toSet} vs batch $batchRun")
      assert(results.size == 3)
    } finally q.stop()
  }

  test("composed ingest gate: stateless filters feed the near-dup state in ONE query") {
    composedGateBody()
  }

  private def composedGateBody(): Unit = {
    implicit val sc = spark.sqlContext
    // the streaming q185 shape: blocklist (narrow filter) composes
    // UPSTREAM of the stateful near-dup op inside one streaming query —
    // a blocked near-duplicate must never reach (or pollute) the
    // LSH state store
    val nearDupA = "alpha beta gamma delta epsilon zeta eta theta"
    val nearDupB = "alpha beta gamma delta epsilon zeta eta iota"
    val blockedC = "alpha beta gamma delta epsilon zeta eta theta slow"
    val docs = Seq((0L, nearDupA), (1L, blockedC), (2L, nearDupB))
    val bl = array(lit("dup"), lit("slow"), lit("forbidden"))
    val input = MemoryStream[(Long, String)]
    val gated = input.toDF().toDF("doc_id", "text")
      .filter(!exists(split(col("text"), " "), t => array_contains(bl, t)))
    val q = NearDupStream.candidates(gated, "doc_id", "text")
      .toDF("id_a", "id_b", "band", "est")
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode("append").start()
    try {
      input.addData(docs(0), docs(1))
      q.processAllAvailable()
      input.addData(docs(2))
      q.processAllAvailable()
      val pairs = spark.table("gate_stream")
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      // 0 and 2 pair across batches; the blocked doc 1 (a near-dup of 0
      // but carrying "slow") appears in NO pair — it never entered state
      assert(pairs == Set((0L, 2L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming BM25: queries stream against the static corpus, batch == stream") {
    implicit val sc = spark.sqlContext
    val corpus = Seq(
      (1L, "apple banana cherry"), (2L, "apple apple kiwi"),
      (3L, "banana nut oat"), (4L, "rice soy tea")).toDF("doc_id", "text")
    val qs = Seq((100L, "apple"), (101L, "banana nut"), (102L, "tea"))
    val input = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val q = input.toDF().toDF("query_id", "qtext").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // per-query scores depend only on the STATIC corpus statistics
        // and the query's own terms, so scoring each micro-batch is
        // exactly the batch op on its slice
        results ++= graft.operators.Retrieval
          .bm25TopK(corpus, batch, "doc_id", "text", "query_id", "qtext", k = 3)
          .collect()
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
            r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro")))
        ()
      }.start()
    try {
      input.addData(qs(0), qs(1))
      q.processAllAvailable()
      input.addData(qs(2))
      q.processAllAvailable()
      val batchRun = graft.operators.Retrieval
        .bm25TopK(corpus, qs.toDF("query_id", "qtext"),
          "doc_id", "text", "query_id", "qtext", k = 3)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("score_micro"))).toSet
      assert(results.toSet == batchRun, s"stream ${results.toSet} vs batch $batchRun")
    } finally q.stop()
  }

  test("streaming web front door: keep-first URL dedup + Gopher gate, batch == stream") {
    implicit val sc = spark.sqlContext
    // The B30 front door as a stream: canonicalize the URL, keep the
    // FIRST document per canonical URL (stateful dropDuplicates — state
    // is one row per distinct norm, must persist across micro-batches),
    // then the stateless native gopher_stats gate. Arrival order is
    // doc_id order, so the batch reference is groupBy(norm).min(doc_id).
    val stops = Seq("the", "a", "of", "to", "in")
    val docs = Seq(
      (0L, "HTTP://www.site.com/p/1", "the cat sat on a mat with the dog in town today now"),
      (1L, "https://site.com/p/1/",  "different body that should lose to doc zero"),
      (2L, "https://other.org/x",    "the quick brown fox jumps over a lazy dog the end today"),
      // batch 2: doc 3 hits doc 0's canonical URL (cross-batch state),
      // doc 4 is fresh but fails the stopword gate
      (3L, "http://SITE.com/p/1?utm=9", "late duplicate of the first url"),
      (4L, "https://fresh.net/y",    "no stopword tokens here whatsoever friends"))
    val gate = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("doc_id"),
        graft.functions.TextFunctions.gopherStats(col("text"), stops).as("g"))
      .filter(col("g.n_stop") >= 2L && col("g.n_words") >= 10L)
      .select(col("doc_id"))
    val input = MemoryStream[(Long, String, String)]
    val deduped = input.toDF().toDF("doc_id", "url", "text")
      .withColumn("norm", graft.functions.UrlFunctions.normalizeUrl(col("url")))
      .dropDuplicates("norm")
    val q = gate(deduped).writeStream.format("memory")
      .queryName("frontdoor_stream").outputMode("append").start()
    try {
      input.addData(docs(0), docs(1), docs(2))
      q.processAllAvailable()
      input.addData(docs(3), docs(4))
      q.processAllAvailable()
      val stream = spark.table("frontdoor_stream").as[Long].collect().toSet
      val batchDf = docs.toDF("doc_id", "url", "text")
        .withColumn("norm", graft.functions.UrlFunctions.normalizeUrl(col("url")))
      val keep = batchDf.groupBy(col("norm")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val batch = gate(batchDf.join(keep, "doc_id")).as[Long].collect().toSet
      assert(stream == batch, s"stream $stream vs batch $batch")
      assert(stream == Set(0L, 2L), s"docs 0 and 2 pass both gates: $stream")
    } finally q.stop()
  }

  test("streaming domain quota: first-arrival cap persists across batches") {
    // state API v2 requires the RocksDB provider (multiple column
    // families), which every Sessions session sets
    domainQuotaBody()
  }

  private def domainQuotaBody(): Unit = {
    implicit val sc = spark.sqlContext
    // q148's C4-style per-domain cap as a stream: at most k docs per
    // domain over the stream's lifetime, earliest batches first; state
    // is one long per domain. Batch 2's x-domain doc 5 must be rejected
    // even though its id is smaller — first arrival wins, exactly the
    // semantics a backfill-free streaming ingest needs.
    val input = MemoryStream[(String, Long)]
    val q = DomainQuotaProcessor(input.toDS(), k = 2)
      .toDF("domain", "doc_id", "rn")
      .writeStream.format("memory").queryName("quota_stream")
      .outputMode("append").start()
    try {
      input.addData(("x", 10L), ("x", 11L), ("x", 12L), ("y", 20L))
      q.processAllAvailable()
      input.addData(("x", 5L), ("y", 21L), ("y", 22L))
      q.processAllAvailable()
      val got = spark.table("quota_stream")
        .as[(String, Long, Long)].collect().toSet
      val expected = Set(
        ("x", 10L, 1L), ("x", 11L, 2L), // batch 1, sorted ids, cap 2
        ("y", 20L, 1L), ("y", 21L, 2L)) // y fills across the two batches
      assert(got == expected, s"got $got")
    } finally q.stop()
  }

  test("streaming drift monitor: windowed counts vs static reference, exact rollup") {
    implicit val sc = spark.sqlContext
    val ref = Seq("a a a b").toDF("text") // a=750000ppm, b=250000ppm
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val mon = graft.streaming.DriftStream.monitor(
      input.toDF().toDF("ts", "text"), "ts", "text", ref, "text",
      windowDur = "1 minute", watermark = "0 seconds", topVocab = 10)
    val q = mon.writeStream.format("memory").queryName("drift_stream")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")
      // window 1: distribution flips (a once, b twice, c unseen-in-ref)
      input.addData((t0, "a b b c"))
      q.processAllAvailable()
      // advance the watermark far enough to close window 1
      input.addData((java.sql.Timestamp.valueOf("2026-01-01 00:05:00"), "a"))
      q.processAllAvailable()
      val rows = spark.table("drift_stream")
        .filter(col("win_start") === lit(t0.toInstant.truncatedTo(
          java.time.temporal.ChronoUnit.MINUTES).toString.replace("T", " ")
          .replace("Z", "")).cast("timestamp"))
      val got = rows.collect()
        .map(r => r.getAs[String]("tok") ->
          (r.getAs[Long]("obs_cnt"),
            Option(r.getAs[java.lang.Long]("ref_ppm")).map(_.longValue))).toMap
      assert(got == Map(
        "a" -> (1L, Some(750000L)),
        "b" -> (2L, Some(250000L)),
        "c" -> (1L, None)), s"got $got")
      val s = graft.streaming.DriftStream.summarize(rows).collect()(0)
      // obs ppm: a 250000, b 500000, c 250000 (4 tokens)
      // L1 = |250000-750000| + |500000-250000| + 250000(oov) = 1000000
      assert(s.getAs[Long]("n_tokens") == 4L)
      assert(s.getAs[Long]("l1_drift_ppm") == 1000000L, s"got $s")
      assert(s.getAs[Long]("oov_tokens") == 1L)
    } finally q.stop()
  }

  test("streaming CDC resemblance: chunk-bucket state pairs cross-batch near-dups") {
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while " +
      "rain falls softly on the quiet village roofs tonight and nobody minds"
    val input = MemoryStream[(Long, String)]
    val cands = graft.streaming.CdcDedupStream.candidates(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      w = 3, divisor = 4L)
    val q = cands.writeStream.format("memory").queryName("cdc_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, base),
        (2L, "completely different words about spark execution engines here"))
      q.processAllAvailable()
      assert(spark.table("cdc_stream").count() == 0)
      // An insertion-edited near-copy arrives later: CDC boundaries
      // survive the edit, so it must pair with doc 1 via chunk state.
      input.addData((3L, "inserted " + base))
      q.processAllAvailable()
      val pairs = spark.table("cdc_stream")
        .select("idA", "idB").distinct()
        .as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 3L)), s"got $pairs")
    } finally q.stop()
  }

  test("streaming span corruption: per-document op composes in foreachBatch, batch == stream") {
    implicit val sc = spark.sqlContext
    val docs = Seq((0L, "a b c d e f g h"), (7L, "p q r s t u v w x y z"))
    val input = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // the mask gate depends only on (doc_id, pos), so corrupting each
        // micro-batch is exactly the batch op on its slice
        results ++= graft.operators.SpanCorrupt
          .corrupt(batch, "doc_id", "text", maskPct = 40)
          .collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("input_text"),
            r.getAs[String]("target_text")))
        ()
      }.start()
    try {
      input.addData(docs.head)
      q.processAllAvailable()
      input.addData(docs(1))
      q.processAllAvailable()
      val batchRun = graft.operators.SpanCorrupt
        .corrupt(docs.toDF("doc_id", "text"), "doc_id", "text", maskPct = 40)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("input_text"),
          r.getAs[String]("target_text"))).toSet
      assert(results.toSet == batchRun, s"stream ${results.toSet} vs batch $batchRun")
    } finally q.stop()
  }

  test("streaming heavy hitters: state carries across batches, batch == stream in the exact regime") {
    heavyHittersBody()
  }

  private def heavyHittersBody(): Unit = {
    implicit val sc = spark.sqlContext
    // With distinct items <= k the MG summary IS the exact count map
    // (no decrements fire), so the final emitted summary must equal the
    // batch aggregate over the concatenation regardless of offer order —
    // this pins the state carry + re-emit plumbing exactly.
    val b1 = Seq("a", "b", "a", "c", "a", "b")
    val b2 = Seq("c", "c", "c", "b", "a")
    val input = MemoryStream[(Long, String)]
    val q = HeavyHittersStream(input.toDS(), k = 4)
      .toDF("shard", "item", "mg_count")
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("append").start()
    try {
      input.addData(b1.map(0L -> _): _*)
      q.processAllAvailable()
      val afterB1 = spark.table("hh_stream")
        .as[(Long, String, Long)].collect().toSet
      assert(afterB1 == Set((0L, "a", 3L), (0L, "b", 2L), (0L, "c", 1L)),
        s"batch-1 summary: $afterB1")
      input.addData(b2.map(0L -> _): _*)
      q.processAllAvailable()
      val finalSummary = spark.table("hh_stream")
        .as[(Long, String, Long)].collect().toSet -- afterB1
      val batch = graft.operators.TopK.frequentItems(
          (b1 ++ b2).toDF("item"), org.apache.spark.sql.functions.col("item"), 4)
        .as[(String, Long)].collect().map { case (i, c) => (0L, i, c) }.toSet
      assert(finalSummary == batch, s"stream $finalSummary vs batch $batch")
    } finally q.stop()
  }

  test("streaming weighted sample: reservoir state carries, batch == stream") {
    weightedSampleBody()
  }

  private def weightedSampleBody(): Unit = {
    implicit val sc = spark.sqlContext
    // priorities (w=1) are id-ordered for small ids; id 5 carries w=2 so
    // its priority halves and it must displace id 4 from the k=3 sample
    val b1 = Seq(("g", 3L, 1L), ("g", 4L, 1L))
    val b2 = Seq(("g", 1L, 1L), ("g", 5L, 2L))
    val input = MemoryStream[(String, Long, Long)]
    val q = SamplingStream(input.toDS(), k = 3)
      .toDF("grp", "rn", "id", "weight", "priority")
      .writeStream.format("memory").queryName("ws_stream")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      val afterB1 = spark.table("ws_stream")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val batch1 = graft.operators.Sampling.weightedSample(
          b1.toDF("grp", "id", "w"), Seq("grp"), "id", "w", 3)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(afterB1 == batch1, s"stream $afterB1 vs batch $batch1")
      input.addData(b2: _*)
      q.processAllAvailable()
      val finalSample = spark.table("ws_stream")
        .as[(String, Long, Long, Long, Long)].collect().toSet -- afterB1
      val batch = graft.operators.Sampling.weightedSample(
          (b1 ++ b2).toDF("grp", "id", "w"), Seq("grp"), "id", "w", 3)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(finalSample == batch, s"stream $finalSample vs batch $batch")
      // the displaced id is gone, the heavy id is in, state stayed <= k
      assert(finalSample.map(_._3) == Set(1L, 5L, 3L))
    } finally q.stop()
  }

  test("streaming weighted sample: a re-offered id with a changed weight keeps ONE slot") {
    reofferBody()
  }

  private def reofferBody(): Unit = {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val q = SamplingStream(input.toDS(), k = 3)
      .toDF("grp", "rn", "id", "weight", "priority")
      .writeStream.format("memory").queryName("ws_reoffer")
      .outputMode("append").start()
    try {
      input.addData(("g", 5L, 2L), ("g", 3L, 1L))
      q.processAllAvailable()
      val before = spark.table("ws_reoffer")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      input.addData(("g", 5L, 50L)) // same id, heavier re-offer
      q.processAllAvailable()
      val sample = spark.table("ws_reoffer")
        .as[(String, Long, Long, Long, Long)].collect().toSet -- before
      val ids = sample.toSeq.map(_._3)
      // one reservoir slot per unique id — the batch operator's contract
      assert(ids.distinct.size == ids.size, s"id occupies two slots: $sample")
      // and the surviving entry carries the SMALLEST priority (w=50)
      val p5 = sample.find(_._3 == 5L).get._5
      assert(p5 == math.floorMod(5L * 1000003L + 17L, 1000000007L) / 50L)
    } finally q.stop()
  }

  test("streaming heavy hitters: the MG guarantee holds across batches under decrements") {
    heavyHittersGuaranteeBody()
  }

  test("streaming isotropy projection: history-fit model, batch == stream") {
    implicit val sc = spark.sqlContext
    import graft.operators.Isotropy
    val history = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(3.0f, 0.2f)),
      (2L, Seq(2.0f, -0.1f))).toDF("id", "vec")
    val fresh = Seq((10L, Seq(0.5f, 0.5f)), (11L, Seq(4.0f, -0.2f)))
    val model = Isotropy.fit(history, "id", "vec")
    val input = MemoryStream[(Long, Seq[Float])]
    val q = Isotropy.project(input.toDF().toDF("id", "vec"), "id", "vec", model)
      .writeStream.format("memory").queryName("iso_stream")
      .outputMode("append").start()
    try {
      input.addData(fresh.head)
      q.processAllAvailable()
      input.addData(fresh(1))
      q.processAllAvailable()
      val got = spark.table("iso_stream").as[(Long, Long)].collect().toMap
      val batch = Isotropy.project(fresh.toDF("id", "vec"), "id", "vec", model)
        .as[(Long, Long)].collect().toMap
      assert(got === batch)
      assert(batch.values.exists(_ != 0L))
    } finally q.stop()
  }

  test("streaming typo pairs: cross-batch detection matches the batch join") {
    typoStreamBody()
  }

  private def typoStreamBody(): Unit = {
    implicit val sc = spark.sqlContext
    val b1 = Seq("gear", "fear", "spark", "spars")
    val b2 = Seq("gears", "year", "spark") // "spark" re-arrives: no self-pair
    val input = MemoryStream[String]
    val q = TypoStream.pairs(input.toDF().toDF("s"), "s", tau = 1)
      .toDF("s_a", "s_b", "dist")
      .writeStream.format("memory").queryName("typo_stream")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("typo_stream")
        .as[(String, String, Int)].collect()
        .map(t => (t._1, t._2, t._3.toLong)).toSet // dedup shared-variant repeats
      val batch = graft.operators.EditDistance.pairs(
          (b1 ++ b2).toDF("s"), "s", tau = 1)
        .as[(String, String, Long)].collect().toSet
      assert(got === batch, s"stream $got vs batch $batch")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming typo pairs: bucket cap bounds state, survivors still verify") {
    typoCapBody()
  }

  private def typoCapBody(): Unit = {
    implicit val sc = spark.sqlContext
    // all singles of a 2-char alphabet: every string within 1 edit of
    // every other -> hot variant buckets; cap 1 means only the first
    // arrival per bucket is stored, later ones emit vs the sample only
    val input = MemoryStream[String]
    val q = TypoStream.pairs(input.toDF().toDF("s"), "s", tau = 1,
        maxPerBucket = 1)
      .toDF("s_a", "s_b", "dist")
      .writeStream.format("memory").queryName("typo_cap_stream")
      .outputMode("append").start()
    try {
      input.addData("a")
      q.processAllAvailable() // "a" fills the shared "" bucket (cap 1)
      input.addData("b", "c")
      q.processAllAvailable()
      val got = spark.table("typo_cap_stream")
        .as[(String, String, Int)].collect().toSet
      // "b" and "c" each verify against the stored sample {"a"};
      // (b,c) is lost to the cap — the documented sampling trade-off
      assert(got === Set(("a", "b", 1), ("a", "c", 1)), s"got $got")
    } finally q.stop()
  }

  test("streaming image near-dup: cross-batch pairs match the batch LSH join") {
    imageStreamBody()
  }

  private def imageStreamBody(): Unit = {
    implicit val sc = spark.sqlContext
    import graft.functions.MediaCodecs
    def img(base: Int, noise: Int) = Array.tabulate(64)(i =>
      if (i == 0) noise else if (i % 2 == 0) 220 else 30 + base)
    val b1 = Seq(
      (0L, MediaCodecs.encodeBmpGray8(img(0, 250))),
      (2L, MediaCodecs.encodeBmpGray8(Array.tabulate(64)(i =>
        if (i % 2 == 0) 30 else 220))), // inverted: far from 0/1
      (3L, "notabmp".getBytes("US-ASCII"))) // null hash must drop out
    val b2 = Seq(
      (1L, MediaCodecs.encodeBmpGray8(img(0, 240)))) // near-dup of 0, cross-batch
    val input = MemoryStream[(Long, Array[Byte])]
    val q = ImageDedupStream.pairs(
        input.toDF().toDF("media_id", "payload"), "media_id", "payload",
        maxHamming = 4)
      .toDF("id_a", "id_b", "hamming")
      .writeStream.format("memory").queryName("img_stream")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("img_stream")
        .as[(Long, Long, Long)].collect().toSet // dedup shared-band repeats
      val batch = graft.operators.Multimodal.imageNearDupPairs(
          (b1 ++ b2).toDF("media_id", "payload"), "media_id", "payload",
          maxHamming = 4)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === batch, s"stream $got vs batch $batch")
      assert(got.map(p => (p._1, p._2)) === Set((0L, 1L)))
    } finally q.stop()
  }

  test("streaming audio near-dup: cross-batch pairs match the batch LSH join") {
    audioStreamBody()
  }

  private def audioStreamBody(): Unit = {
    implicit val sc = spark.sqlContext
    import graft.functions.MediaCodecs
    // loudness-contour clips: 0 and 1 share an envelope (tweaked first
    // frame — the energy threshold absorbs it), 2's contour is far
    def clip(loudMask: Int => Boolean, tweak: Int) = Array.tabulate(256) { i =>
      val amp = if (loudMask(i / 4)) 96 else 8
      128 + (if (i % 2 == 0) amp else -amp) + (if (i < 4) tweak else 0)
    }
    val b1 = Seq(
      (0L, MediaCodecs.encodeWavPcm8(clip(_ % 2 == 0, 0), 8000)),
      (2L, MediaCodecs.encodeWavPcm8(clip(_ % 5 < 2, 0), 8000)),
      (3L, "notawav".getBytes("US-ASCII"))) // null hash must drop out
    val b2 = Seq(
      (1L, MediaCodecs.encodeWavPcm8(clip(_ % 2 == 0, 9), 8000))) // near-dup of 0
    val input = MemoryStream[(Long, Array[Byte])]
    val q = ImageDedupStream.audioPairs(
        input.toDF().toDF("media_id", "payload"), "media_id", "payload",
        maxHamming = 10)
      .toDF("id_a", "id_b", "hamming")
      .writeStream.format("memory").queryName("audio_stream")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("audio_stream")
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.operators.Multimodal.audioNearDupPairs(
          (b1 ++ b2).toDF("media_id", "payload"), "media_id", "payload",
          maxHamming = 10)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === batch, s"stream $got vs batch $batch")
      assert(got.map(p => (p._1, p._2)) === Set((0L, 1L)))
    } finally q.stop()
  }

  test("streaming quantiles: exact below k, guarantee above, state carries") {
    quantileStreamBody()
  }

  private def quantileStreamBody(): Unit = {
    implicit val sc = spark.sqlContext
    // EXACT regime: total n = 40 < k = 64, so no compaction ever fires
    // and the final emission must equal PERCENTILE_DISC over the union
    // exactly, regardless of arrival order or batch boundaries.
    val b1 = (1 to 25).map(i => (0L, (i * 7 % 41).toDouble))
    val b2 = (26 to 40).map(i => (0L, (i * 7 % 41).toDouble))
    val input = MemoryStream[(Long, Double)]
    val q = QuantileStream(input.toDS(), k = 64, quantiles = Seq(0.5, 0.9))
      .toDF("shard", "p", "est", "n")
      .writeStream.format("memory").queryName("qs_stream")
      .outputMode("append").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val finals = spark.table("qs_stream")
        .as[(Long, Double, Double, Long)].collect()
        .filter(_._4 == 40L) // the post-batch-2 emission
        .map(r => r._2 -> r._3).toMap
      val sorted = (b1 ++ b2).map(_._2).sorted
      def disc(qq: Double) =
        sorted(math.max(1, math.ceil(qq * sorted.size).toInt) - 1)
      assert(finals(0.5) == disc(0.5) && finals(0.9) == disc(0.9),
        s"exact regime must equal PERCENTILE_DISC: $finals")
    } finally q.stop()
  }

  test("streaming weighted sample: state survives a query restart from checkpoint") {
    restartBody()
  }

  private def restartBody(): Unit = {
    implicit val sc = spark.sqlContext
    // b1 fills the reservoir; the query STOPS; a new query resumes from
    // the same checkpoint and sees only b2. Its emission must equal the
    // batch sample over b1 ∪ b2 (state RESTORED) — a reset would emit
    // the b2-only sample {5}, which differs by construction.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val input = MemoryStream[(String, Long, Long)]
    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // fault-tolerant collector
    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (rn, id)
    def start() = SamplingStream(input.toDS(), k = 3)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long, Long)],
         _: Long) =>
        collected.synchronized {
          collected ++= df.collect().map(r => (r._2, r._3))
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("g", 3L, 1L), ("g", 4L, 1L))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData(("g", 5L, 1L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toMap)
      // restored reservoir = {3, 4, 5} in priority (= id) order; a state
      // RESET would emit the b2-only sample {(1, 5)}
      assert(got == Map(1L -> 3L, 2L -> 4L, 3L -> 5L),
        s"state must survive the restart: $got")
    } finally q2.stop()
  }

  test("streaming anonymity gate: a group releases only once it reaches k, batch == stream") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = AnonymityGateStream(input.toDS(), k = 3)
      .toDF("qi", "id", "rn")
      .writeStream.format("memory").queryName("anon_stream")
      .outputMode("append").start()
    try {
      input.addData(("a", 1L), ("a", 2L), ("b", 10L))
      q.processAllAvailable()
      // nothing released: both groups are below k
      assert(spark.table("anon_stream").count() == 0)
      input.addData(("a", 3L), ("a", 4L), ("b", 11L))
      q.processAllAvailable()
      val got = spark.table("anon_stream")
        .as[(String, Long, Long)].collect().toSet
      // group a crossed k: the barrier flushes 1..3 together, 4 streams
      // through; group b (2 members) still withholds everything
      assert(got == Set(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
        ("a", 4L, 4L)), s"got $got")
      // released ID set == the batch operator's level-0 release over
      // the union of the two micro-batches
      val all = Seq(("a", 1L), ("a", 2L), ("b", 10L),
        ("a", 3L), ("a", 4L), ("b", 11L))
      val batch = graft.operators.Privacy.kAnonymize(
          all.toDF("qi", "id"), Seq("qi"), k = 3L)
        .filter(col("anon_level") === 0)
        .select("id").as[Long].collect().toSet
      assert(got.map(_._2) == batch, s"stream ${got.map(_._2)} vs batch $batch")
    } finally q.stop()
  }

  test("streaming anonymity gate: held-back members survive a query restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_anonr").toString
    val input = MemoryStream[(String, Long)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def start() = AnonymityGateStream(input.toDS(), k = 3)
      .writeStream
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) =>
        collected.synchronized { collected ++= ds.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { input.addData(("g", 1L), ("g", 2L)); q1.processAllAvailable() }
    finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // member 3 arrives only AFTER the restart: the barrier flushes
      // 1 and 2 iff their buffered ids were RESTORED from checkpoint
      input.addData(("g", 3L))
      q2.processAllAvailable()
      assert(collected.synchronized(collected.toSet) ==
        Set(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L)),
        s"buffered members must survive the restart: $collected")
    } finally q2.stop()
  }

  // The restart suite below — checkpoint recovery is THE
  // ingest-resilience claim at 100 TB, so every stateful twin gets a
  // stop-the-query/resume-from-checkpoint test whose expected output
  // differs by construction from a state reset.

  test("streaming CDC dedup: chunk-bucket state survives a query restart") {
    implicit val sc = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog while " +
      "rain falls softly on the quiet village roofs tonight and nobody minds"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcr").toString
    val input = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def start() = graft.streaming.CdcDedupStream.candidates(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        w = 3, divisor = 4L)
      .writeStream
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[graft.streaming.CdcDedupStream.ChunkPair],
         _: Long) =>
        collected.synchronized { collected ++= ds.collect().map(p => (p.idA, p.idB)) }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { input.addData((1L, base)); q1.processAllAvailable() }
    finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // the near-copy arrives only AFTER the restart: the pair exists
      // iff doc 1's chunk posting lists were RESTORED from checkpoint
      input.addData((3L, "inserted " + base))
      q2.processAllAvailable()
      assert(collected.synchronized(collected.toSet) == Set((1L, 3L)),
        s"chunk state must survive the restart: $collected")
    } finally q2.stop()
  }

  test("streaming typo pairs: variant-bucket state survives a query restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_typor").toString
    val input = MemoryStream[String]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
    def start() = graft.streaming.TypoStream.pairs(
        input.toDF().toDF("s"), "s", tau = 1)
      .writeStream
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[graft.streaming.TypoStream.TypoPair],
         _: Long) =>
        collected.synchronized { collected ++= ds.collect().map(p => (p.sA, p.sB, p.dist)) }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { input.addData("hello", "spark"); q1.processAllAvailable() }
    finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData("helo") // ED 1 from "hello", seen before the restart
      q2.processAllAvailable()
      // lexical pair order: "hello" < "helo" ('l' < 'o' at index 3)
      assert(collected.synchronized(collected.toSet) == Set(("hello", "helo", 1)),
        s"variant state must survive the restart: $collected")
    } finally q2.stop()
  }

  test("streaming image dedup: band-bucket state survives a query restart") {
    implicit val sc = spark.sqlContext
    def img(noise: Int) = graft.functions.MediaCodecs.encodeBmpGray8(
      Array.tabulate(64)(i => if (i == 0) noise else if (i % 2 == 0) 220 else 30))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_imgr").toString
    val input = MemoryStream[(Long, Array[Byte])]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def start() = graft.streaming.ImageDedupStream.pairs(
        input.toDF().toDF("media_id", "payload"), "media_id", "payload",
        maxHamming = 4)
      .writeStream
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[graft.streaming.ImageDedupStream.ImagePair],
         _: Long) =>
        collected.synchronized { collected ++= ds.collect().map(p => (p.idA, p.idB)) }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { input.addData((1L, img(250))); q1.processAllAvailable() }
    finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData((2L, img(240))) // near-dup of the pre-restart image
      q2.processAllAvailable()
      assert(collected.synchronized(collected.toSet) == Set((1L, 2L)),
        s"band state must survive the restart: $collected")
    } finally q2.stop()
  }

  test("streaming domain quota: admission counts survive a query restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dqr").toString
    val input = MemoryStream[(String, Long)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def start() = DomainQuotaProcessor(input.toDS(), k = 2)
      .writeStream
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[(String, Long, Long)], _: Long) =>
        collected.synchronized { collected ++= ds.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { input.addData(("x", 10L), ("x", 11L)); q1.processAllAvailable() }
    finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // x's quota filled BEFORE the restart: 12/13 must be rejected
      // (a reset would re-admit both with rn 1,2); y starts fresh
      input.addData(("x", 12L), ("x", 13L), ("y", 20L))
      q2.processAllAvailable()
      assert(collected.synchronized(collected.toSet) == Set(("y", 20L, 1L)),
        s"quota counts must survive the restart: $collected")
    } finally q2.stop()
  }

  test("streaming heavy hitters: MG counters survive a query restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hhr").toString
    val input = MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    def start() = HeavyHittersStream(input.toDS(), k = 2)
      .writeStream
      .foreachBatch {
        (ds: org.apache.spark.sql.Dataset[(Long, String, Long)], _: Long) =>
        collected.synchronized { collected ++= ds.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData((0L, "a"), (0L, "a"), (0L, "a"), (0L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // restored MG state {a:3, b:1} + "c" at full capacity decrements
      // everything -> {a:2}; a reset would emit {c:1} instead
      input.addData((0L, "c"))
      q2.processAllAvailable()
      assert(collected.synchronized(collected.toSet) == Set((0L, "a", 2L)),
        s"MG counters must survive the restart: $collected")
    } finally q2.stop()
  }

  test("streaming quantiles: summary state survives a query restart") {
    quantileRestartBody()
  }

  private def quantileRestartBody(): Unit = {
    implicit val sc = spark.sqlContext
    // exact regime (n < k): after the restart the emission must equal
    // PERCENTILE_DISC over b1 ∪ b2 — a state reset would answer over b2
    // alone (disjoint value ranges make the two answers differ)
    val b1 = (1 to 20).map(i => (0L, i.toDouble))        // 1..20
    val b2 = (1 to 10).map(i => (0L, 100.0 + i))         // 101..110
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qckpt").toString
    val input = MemoryStream[(Long, Double)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Long)]
    def start() = QuantileStream(input.toDS(), k = 64, quantiles = Seq(0.5))
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(Long, Double, Double, Long)],
         _: Long) =>
        collected.synchronized {
          collected ++= df.collect().map(r => (r._2, r._3, r._4))
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { input.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData(b2: _*)
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      // 30 values total; PERCENTILE_DISC(0.5) over 1..20,101..110 = 15
      assert(got == List((0.5, 15.0, 30L)),
        s"summary must survive the restart: $got")
    } finally q2.stop()
  }

  private def heavyHittersGuaranteeBody(): Unit = {
    implicit val sc = spark.sqlContext
    // 40 tokens over 2 batches, k=2: "hot" has true frequency 18 >
    // n/(k+1) = 13.3, so it MUST be in the final summary no matter how
    // the k=2 counters churn on the 22 distinct noise tokens.
    val noise = (0 until 22).map(i => s"noise$i")
    val b1 = (noise.take(11) ++ Seq.fill(9)("hot"))
    val b2 = (noise.drop(11) ++ Seq.fill(9)("hot"))
    val input = MemoryStream[(Long, String)]
    val q = HeavyHittersStream(input.toDS(), k = 2)
      .toDF("shard", "item", "mg_count")
      .writeStream.format("memory").queryName("hh_guarantee_stream")
      .outputMode("append").start()
    try {
      input.addData(b1.map(0L -> _): _*)
      q.processAllAvailable()
      val n1 = spark.table("hh_guarantee_stream").count()
      input.addData(b2.map(0L -> _): _*)
      q.processAllAvailable()
      val finals = spark.table("hh_guarantee_stream")
        .as[(Long, String, Long)].collect().drop(n1.toInt)
      assert(finals.length <= 2, s"state must stay k-bounded: $finals")
      assert(finals.exists(_._2 == "hot"),
        s"true-heavy item missing from final summary: ${finals.toSeq}")
    } finally q.stop()
  }

  test("streaming LOCF enrichment: batch == stream (lag window), late rows monotone") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, Double)]
    val q = LocfStream.enrichWithPrev(input.toDS())
      .writeStream.format("memory").queryName("locf_stream")
      .outputMode("append").start()
    try {
      // batch 1: key a twice (intra-batch chain, added out of order),
      // key b once
      input.addData(("a", 200L, 2L, 20.0), ("a", 100L, 1L, 10.0),
        ("b", 100L, 7L, 70.0))
      q.processAllAvailable()
      // batch 2: key a again -> prev is the batch-1 tail
      input.addData(("a", 300L, 3L, 30.0))
      q.processAllAvailable()
      val got = spark.table("locf_stream")
        .as[(String, Long, Long, Double, Option[(Long, Long, Double)], Option[Long])]
        .collect().map(r => (r._1, r._2) -> ((r._5, r._6))).toMap
      // exactly the batch lag-window over the union, because arrival
      // respected event order across batches
      assert(got(("a", 100L)) == ((None, None)))
      assert(got(("a", 200L)) == ((Some((100L, 1L, 10.0)), Some(100L))))
      assert(got(("a", 300L)) == ((Some((200L, 2L, 20.0)), Some(100L))))
      assert(got(("b", 100L)) == ((None, None)))
      // batch 3: a LATE row (ts 150 < held 300) — enriched against the
      // held state, which must NOT regress
      input.addData(("a", 150L, 9L, 15.0))
      q.processAllAvailable()
      input.addData(("a", 400L, 4L, 40.0))
      q.processAllAvailable()
      val late = spark.table("locf_stream")
        .as[(String, Long, Long, Double, Option[(Long, Long, Double)], Option[Long])]
        .collect().map(r => (r._1, r._2) -> ((r._5, r._6))).toMap
      assert(late(("a", 150L)) == ((Some((300L, 3L, 30.0)), Some(-150L))))
      assert(late(("a", 400L)) == ((Some((300L, 3L, 30.0)), Some(100L))),
        "late row must not replace the newer held observation")
    } finally q.stop()
  }

  test("streaming funnel: one verdict per completed user, batch q83 semantics") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val q = FunnelStream.conversions(input.toDS(),
        windowMicros = 7L * 86400L * 1000000L)
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    val day = 86400L * 1000000L
    try {
      // u1: signup then purchase on day 2 -> converted
      // u2: purchase BEFORE signup -> decided, not converted (q83 rule)
      // u3: signup then purchase on day 9 -> after but outside window
      // u4: signup only -> never emits
      input.addData((1L, 1L * day, "signup"), (2L, 1L * day, "purchase"),
        (3L, 1L * day, "signup"), (4L, 1L * day, "signup"))
      q.processAllAvailable()
      assert(spark.table("funnel_stream").count() == 0)
      input.addData((1L, 2L * day, "purchase"), (2L, 3L * day, "signup"),
        (3L, 10L * day, "purchase"))
      q.processAllAvailable()
      val got = spark.table("funnel_stream")
        .as[(Long, Long, Long, Boolean, Boolean)].collect()
        .map(r => r._1 -> ((r._4, r._5))).toMap
      assert(got == Map(1L -> ((true, true)), 2L -> ((false, false)),
        3L -> ((true, false))), s"got $got")
      // a second purchase must not re-emit or flip anything
      input.addData((2L, 4L * day, "purchase"), (1L, 3L * day, "purchase"))
      q.processAllAvailable()
      assert(spark.table("funnel_stream").count() == 3)
      // aggregate parity with the q83 batch rollup over the same events
      val n = spark.table("funnel_stream")
        .as[(Long, Long, Long, Boolean, Boolean)].collect()
      assert(n.count(_._4) == 2 && n.count(_._5) == 1)
    } finally q.stop()
  }

  test("streaming CUSUM: incremental recurrence matches the reference; state survives restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_cusum").toString
    val input = MemoryStream[(String, Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Boolean)] // (key, tick, cusum, alarm)
    // mu = 5, k = 1, h = 6 (micro-units x 1e6)
    def start() = CusumStream.monitor(input.toDS(),
        muMicro = 5000000L, slackMicro = 1000000L, hMicro = 6000000L)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long, Boolean)],
         _: Long) =>
        collected.synchronized {
          collected ++= df.collect().map(r => (r._1, r._2, r._4, r._5))
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    // reference: x = 5,9,9 -> S: max(0,-1)=0, then 3e6, then 6e6 (no
    // alarm: 6e6 is not > 6e6); next batch x=9 -> 9e6 -> ALARM
    val q1 = start()
    try {
      input.addData(("a", 2L, 9L), ("a", 1L, 5L), ("a", 3L, 9L)) // out of order
      q1.processAllAvailable()
    } finally q1.stop()
    val firstRun = collected.synchronized(collected.toList)
    assert(firstRun == List(("a", 1L, 0L, false), ("a", 2L, 3000000L, false),
      ("a", 3L, 6000000L, false)), s"got $firstRun")
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData(("a", 4L, 9L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      // restored S = 6e6 -> 9e6 alarm; a reset would give 3e6, no alarm
      assert(got == List(("a", 4L, 9000000L, true)),
        s"state must survive the restart: $got")
    } finally q2.stop()
  }

  test("streaming LOCF enrichment: held observation survives a query restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_locf").toString
    val input = MemoryStream[(String, Long, Long, Double)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Option[(Long, Long, Double)])]
    def start() = LocfStream.enrichWithPrev(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Double,
          Option[(Long, Long, Double)], Option[Long])], _: Long) =>
        collected.synchronized {
          collected ++= df.collect().map(r => (r._1, r._2, r._5))
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("a", 100L, 1L, 10.0))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData(("a", 200L, 2L, 20.0))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      // restored state enriches with the pre-restart observation; a
      // reset would emit prev = None by construction
      assert(got == List(("a", 200L, Some((100L, 1L, 10.0)))),
        s"state must survive the restart: $got")
    } finally q2.stop()
  }

  test("streaming decay: trending weight == batch operator, order-free") {
    implicit val sc = spark.sqlContext
    val day = 24L * 3600L * 1000000L
    val input = MemoryStream[(String, Long)]
    val q = DecayStream.trending(input.toDS(), halfLifeDays = 7)
      .writeStream.format("memory").queryName("decay_stream")
      .outputMode("append").start()
    try {
      // batch 1 arrives OUT OF EVENT ORDER — decay is a pure function
      // of (bucket, anchor), so order cannot matter
      input.addData(("a", 92L * day), ("a", 99L * day), ("a", 92L * day))
      q.processAllAvailable()
      input.addData(("a", 85L * day), ("b", 99L * day))
      q.processAllAvailable()
      val rows = spark.table("decay_stream")
        .as[(String, Long, Long, Long)].collect()
      val last = rows.filter(_._1 == "a").last
      // buckets: 14 (1 event), 13 (2), 12 (1): 1 + 2>>1 + 1>>2 = 2
      assert(last == (("a", 14L, 4L, 2L)))
      // parity with the batch operator anchored at the key's max ts
      val batch = graft.operators.Decay.halfLifeCounts(
        Seq(("a", new java.sql.Timestamp(92L * day / 1000)),
          ("a", new java.sql.Timestamp(99L * day / 1000)),
          ("a", new java.sql.Timestamp(92L * day / 1000)),
          ("a", new java.sql.Timestamp(85L * day / 1000)))
          .toDF("k", "ts"),
        "k", "ts", 7, asOfMicros = 99L * day).collect()(0)
      assert(batch.getAs[Long]("n_events") == 4L)
      assert(batch.getAs[Long]("decayed_weight") == 2L)
    } finally q.stop()
  }

  test("streaming decay: histogram survives a restart; anchor advances") {
    implicit val sc = spark.sqlContext
    val day = 24L * 3600L * 1000000L
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_decay")
      .toString
    val input = MemoryStream[(String, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long)]
    def start() = DecayStream.trending(input.toDS(), halfLifeDays = 7)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long)],
         _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("a", 92L * day), ("a", 92L * day), ("a", 92L * day),
        ("a", 92L * day))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // one new event a bucket later: the restored 4-count bucket
      // re-ages to 1 under the advanced anchor -> 4>>1 + 1 = 3
      input.addData(("a", 99L * day))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      assert(got == List(("a", 14L, 5L, 3L)),
        s"histogram must survive the restart and re-age: $got")
    } finally q2.stop()
  }

  test("streaming TWA: running average == batch operator on an in-order feed") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, Long)]
    val q = TwaStream.runningTwa(input.toDS())
      .writeStream.format("memory").queryName("twa_stream")
      .outputMode("append").start()
    try {
      // key a: 1000c holds 3s, 2000c holds 1s (intra-batch, added out
      // of event order — the processor sorts), batch boundary, then
      // 3000c closes. Running twa after each row:
      input.addData(("a", 3000000L, 2L, 2000L), ("a", 0L, 1L, 1000L))
      q.processAllAvailable()
      input.addData(("a", 4000000L, 3L, 3000L), ("b", 0L, 9L, 500L))
      q.processAllAvailable()
      val got = spark.table("twa_stream")
        .as[(String, Long, Long, Long, Long, Option[Long])]
        .collect().map(r => (r._1, r._2) -> ((r._5, r._6))).toMap
      assert(got(("a", 0L)) == ((0L, None)))
      assert(got(("a", 3000000L)) == ((3000000L, Some(1000L))))
      // (1000*3e6 + 2000*1e6) / 4e6 = 1250
      assert(got(("a", 4000000L)) == ((4000000L, Some(1250L))))
      assert(got(("b", 0L)) == ((0L, None)))
      // parity: the final running row equals the batch operator
      val batch = graft.operators.Resample.timeWeightedAvg(
        Seq(("a", new java.sql.Timestamp(0L), 1L, 10.0),
          ("a", new java.sql.Timestamp(3000L), 2L, 20.0),
          ("a", new java.sql.Timestamp(4000L), 3L, 30.0))
          .toDF("k", "ts", "id", "v"), "k", "ts", "v", "id")
        .collect()(0)
      assert(batch.getAs[Long]("twa_cents") == 1250L)
      assert(batch.getAs[Long]("span_us") == 4000000L)
      // a LATE row (ts behind the holder): observed, nothing regresses
      input.addData(("a", 1000000L, 8L, 9999L))
      q.processAllAvailable()
      val late = spark.table("twa_stream")
        .as[(String, Long, Long, Long, Long, Option[Long])]
        .collect().filter(r => r._2 == 1000000L)(0)
      assert((late._5, late._6) == ((4000000L, Some(1250L))),
        "late row must not change the running stats")
    } finally q.stop()
  }

  test("streaming TWA: running sums survive a query restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_twa").toString
    val input = MemoryStream[(String, Long, Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Option[Long])]
    def start() = TwaStream.runningTwa(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long,
          Long, Option[Long])], _: Long) =>
        collected.synchronized {
          collected ++= df.collect().map(r => (r._1, r._2, r._5, r._6))
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("a", 0L, 1L, 1000L), ("a", 2000000L, 2L, 4000L))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // 1000c held 2s pre-restart; 4000c holds 2s across the restart
      // -> twa = (1000*2e6 + 4000*2e6) / 4e6 = 2500
      input.addData(("a", 4000000L, 3L, 9L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      assert(got == List(("a", 4000000L, 4000000L, Some(2500L))),
        s"running sums must survive the restart: $got")
    } finally q2.stop()
  }

  test("streaming upsert compaction: batch == stream under out-of-order arrival") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, String, Long)]
    val q = UpsertStream.compact(input.toDS())
      .writeStream.format("memory").queryName("upsert_stream")
      .outputMode("append").start()
    try {
      // batch 1: a upserted twice OUT OF ORDER, b inserted
      input.addData(("a", 200L, 2L, "U", 20L), ("a", 100L, 1L, "U", 10L),
        ("b", 100L, 3L, "U", 30L))
      q.processAllAvailable()
      // batch 2: b tombstoned; a gets a STALE change (counts, no regress);
      // c delete-then-reinsert within one batch
      input.addData(("b", 200L, 4L, "D", 0L), ("a", 50L, 0L, "U", 5L),
        ("c", 100L, 5L, "D", 0L), ("c", 200L, 6L, "U", 60L))
      q.processAllAvailable()
      val rows = spark.table("upsert_stream")
        .as[(String, Long, Long, Long, Boolean, Long)].collect()
      // latest emission per key == the batch compact over the union
      val last = rows.groupBy(_._1).map { case (k, rs) =>
        k -> rs.maxBy(_._6)
      }
      assert(last("a") == (("a", 200L, 2L, 20L, true, 3L)))
      assert(last("b") == (("b", 200L, 4L, 0L, false, 2L)))
      assert(last("c") == (("c", 200L, 6L, 60L, true, 2L)))
      val batch = graft.operators.Changelog.compact(
        Seq(("a", 200L, 2L, "U", 20L), ("a", 100L, 1L, "U", 10L),
          ("b", 100L, 3L, "U", 30L), ("b", 200L, 4L, "D", 0L),
          ("a", 50L, 0L, "U", 5L), ("c", 100L, 5L, "D", 0L),
          ("c", 200L, 6L, "U", 60L)).toDF("k", "ts", "seq", "op", "v"),
        "k", "ts", "seq", "op", Seq("v"))
        .collect().map(r => r.getAs[String]("k") ->
          ((r.getAs[String]("k"), r.getAs[Long]("last_ts"),
            r.getAs[Long]("last_seq"), r.getAs[Long]("v"),
            r.getAs[Boolean]("live"), r.getAs[Long]("n_changes")))).toMap
      assert(last.toMap == batch, "stream final emissions must equal batch compact")
    } finally q.stop()
  }

  test("streaming upsert compaction: duplicate (ts, seq) ties break like batch, not by arrival") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, String, Long)]
    val q = UpsertStream.compact(input.toDS())
      .writeStream.format("memory").queryName("upsert_tie_stream")
      .outputMode("append").start()
    try {
      // every key: two records with IDENTICAL (ts, seq) but different
      // (op, value), offered with the struct-max WINNER arriving
      // last — first-seen-wins (the old arrival-order rule) would
      // keep the loser on every key.
      // a: op tie, value decides (40 > 20); b: op decides ("U" > "D"
      // — the tombstone LOSES the tie); c: the same op tie resolved
      // from restored state across micro-batches.
      input.addData(("a", 100L, 1L, "U", 20L), ("a", 100L, 1L, "U", 40L),
        ("b", 100L, 1L, "D", 9L), ("b", 100L, 1L, "U", 7L),
        ("c", 100L, 1L, "D", 9L))
      q.processAllAvailable()
      input.addData(("c", 100L, 1L, "U", 7L)) // "U" > "D": replaces held winner
      q.processAllAvailable()
      val rows = spark.table("upsert_tie_stream")
        .as[(String, Long, Long, Long, Boolean, Long)].collect()
      val last = rows.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._6) }
      val log = Seq(("a", 100L, 1L, "U", 20L), ("a", 100L, 1L, "U", 40L),
        ("b", 100L, 1L, "D", 9L), ("b", 100L, 1L, "U", 7L),
        ("c", 100L, 1L, "D", 9L), ("c", 100L, 1L, "U", 7L))
      val batch = graft.operators.Changelog.compact(
        log.toDF("k", "ts", "seq", "op", "v"),
        "k", "ts", "seq", "op", Seq("v"))
        .collect().map(r => r.getAs[String]("k") ->
          ((r.getAs[String]("k"), r.getAs[Long]("last_ts"),
            r.getAs[Long]("last_seq"), r.getAs[Long]("v"),
            r.getAs[Boolean]("live"), r.getAs[Long]("n_changes")))).toMap
      assert(last.toMap == batch,
        s"tie resolution must match batch struct order: $last vs $batch")
      assert(last("a")._4 == 40L && last("b")._5 == true && last("c")._5 == true)
    } finally q.stop()
  }

  test("streaming upsert compaction: winner and count survive a restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_upsert").toString
    val input = MemoryStream[(String, Long, Long, String, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Boolean, Long)]
    def start() = UpsertStream.compact(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long, Boolean, Long)],
         _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("a", 300L, 1L, "U", 30L))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // stale post-restart row: must bump the RESTORED count to 2 and
      // keep the pre-restart winner — a reset would emit (100, 10, n=1)
      input.addData(("a", 100L, 0L, "U", 10L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      assert(got == List(("a", 300L, 1L, 30L, true, 2L)),
        s"restored winner/count expected: $got")
    } finally q2.stop()
  }

  test("streaming SCD2: (key, version)-upserted emissions == batch scd2") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, String, Long)]
    val q = Scd2Stream.history(input.toDS())
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode("append").start()
    try {
      // batch 1 SHUFFLED within the batch (intra-batch sort applies
      // them in (ts, seq) order): a's v1+v2, b's v1
      input.addData(("a", 200L, 2L, "U", 20L), ("a", 100L, 1L, "U", 10L),
        ("b", 100L, 3L, "U", 30L))
      q.processAllAvailable()
      // batch 2: a deleted then reinserted; b updated — closes its v1
      input.addData(("a", 300L, 4L, "D", 0L), ("a", 400L, 5L, "U", 40L),
        ("b", 500L, 6L, "U", 50L))
      q.processAllAvailable()
      val emissions = spark.table("scd2_stream")
        .as[(String, Long, Long, Option[Long], Long, Boolean)].collect()
      // a sink upserting on (key, version): the LAST emission per
      // (key, version) wins — closes supersede their open forms
      val applied = emissions.zipWithIndex
        .groupBy { case (e, _) => (e._1, e._5) }
        .map { case (_, es) => es.maxBy(_._2)._1 }.toSet
      val batch = graft.operators.Changelog.scd2(
        Seq(("a", 100L, 1L, "U", 10L), ("a", 200L, 2L, "U", 20L),
          ("a", 300L, 4L, "D", 0L), ("a", 400L, 5L, "U", 40L),
          ("b", 100L, 3L, "U", 30L), ("b", 500L, 6L, "U", 50L))
          .toDF("k", "ts", "seq", "op", "v"),
        "k", "ts", "seq", "op", Seq("v"))
        .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("v"),
          r.getAs[Long]("valid_from"),
          Option(r.getAs[java.lang.Long]("valid_to")).map(_.longValue()),
          r.getAs[Long]("version"), r.getAs[Boolean]("is_current"))).toSet
      assert(applied == batch,
        s"upserted stream table must equal batch scd2:\n$applied\nvs\n$batch")
      // delete numbering pin: a's post-delete version is 4 (the
      // delete consumed 3), and exactly one open version per live key
      assert(applied.exists(e => e._1 == "a" && e._5 == 4L && e._6))
      assert(applied.count(e => e._1 == "a" && e._6) == 1)
    } finally q.stop()
  }

  test("streaming SCD2: version counter and open version survive a restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_scd2").toString
    val input = MemoryStream[(String, Long, Long, String, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Option[Long], Long, Boolean)]
    def start() = Scd2Stream.history(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long,
          Option[Long], Long, Boolean)], _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("u", 100L, 1L, "U", 10L))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // post-restart change must CLOSE the restored v1 and open v2 —
      // lost state would re-number from 1 and close nothing
      input.addData(("u", 200L, 2L, "U", 20L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList).sortBy(_._5)
      assert(got == List(
        ("u", 10L, 100L, Some(200L), 1L, false),
        ("u", 20L, 200L, None, 2L, true)),
        s"restored open version must close across the restart: $got")
    } finally q2.stop()
  }

  test("streaming occupancy: upserted tick deltas == batch hourlyCoverage under any order") {
    implicit val sc = spark.sqlContext
    val hour = 3600L * 1000000L
    def tsu(us: Long) = new java.sql.Timestamp(us / 1000L)
    // intervals: [0.5h, 2h), [1h, 3.5h), [2h, open) — the
    // IntervalsSpec hand fixture, fed as boundary rows SPLIT ACROSS
    // BATCHES with closes arriving before opens (order-independence)
    val input = MemoryStream[(Long, Long)]
    val q = OccupancyStream.tickDeltas(input.toDS())
      .writeStream.format("memory").queryName("occ_stream")
      .outputMode("append").start()
    try {
      input.addData((2L, -1L), (4L, -1L)) // both closes first
      q.processAllAvailable()
      input.addData((1L, 1L), (1L, 1L), (2L, 1L)) // opens catch up
      q.processAllAvailable()
      val last = spark.table("occ_stream").as[(Long, Long)].collect()
        .zipWithIndex.groupBy(_._1._1)
        .map { case (t, es) => t -> es.maxBy(_._2)._1._2 }
      val batch = graft.operators.Intervals.hourlyCoverage(
        Seq((tsu(hour / 2), Option(tsu(2 * hour))),
          (tsu(hour), Option(tsu(3 * hour + hour / 2))),
          (tsu(2 * hour), None))
          .map { case (f, t) => (f, t.orNull) }.toDF("f", "t"),
        "f", "t")
        .collect().map(r => r.getAs[Long]("tick_hour") ->
          r.getAs[Long]("delta")).toMap
      assert(last.filter(_._2 != 0L) == batch,
        s"nonzero tick totals must equal the batch delta table: $last vs $batch")
      // the curve: running sum over the upserted table == batch n_open
      val curve = last.toSeq.sortBy(_._1)
        .scanLeft((0L, 0L)) { case ((_, acc), (t, d)) => (t, acc + d) }
        .drop(1).toMap
      assert(curve(1L) == 2L && curve(2L) == 2L && curve(4L) == 1L)
    } finally q.stop()
  }

  test("streaming A/B readout: running counts + Wilson == batch, restart-safe") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_ab").toString
    val input = MemoryStream[(String, Boolean)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long, Long)]
    def start() = ExperimentStream.conversions(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long,
          Long, Long)], _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("A", true), ("A", false), ("B", true))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // post-restart rows must extend the RESTORED counts
      input.addData(("A", false), ("A", false), ("B", true), ("B", false))
      q2.processAllAvailable()
      val last = collected.synchronized(collected.toList)
        .groupBy(_._1).map { case (k, rs) => k -> rs.last }
      // batch reference over the union (lift-free columns)
      val batch = graft.operators.Experiment.conversionLift(
        Seq(("A", true), ("A", false), ("A", false), ("A", false),
          ("B", true), ("B", true), ("B", false))
          .toDF("variant", "converted"), "variant", "converted", "A")
        .collect().map(r => r.getAs[String]("variant") ->
          ((r.getAs[String]("variant"), r.getAs[Long]("n"),
            r.getAs[Long]("conversions"), r.getAs[Long]("rate_ppm"),
            r.getAs[Long]("wilson_lo_ppm"),
            r.getAs[Long]("wilson_hi_ppm")))).toMap
      assert(last.toMap == batch,
        s"stream final emissions must equal batch readout: $last vs $batch")
    } finally q2.stop()
  }

  test("streaming basket pairs: each co-membership emitted once; counts == batch pair stage") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val q = AssocStream.basketPairs(input.toDS())
      .writeStream.format("memory").queryName("assoc_stream")
      .outputMode("append").start()
    try {
      // basket 1 split ACROSS batches with a duplicate line; basket 2
      // arrives in one batch out of order
      input.addData(("1", "milk"), ("1", "bread"))
      q.processAllAvailable()
      input.addData(("1", "milk"), ("1", "butter"),
        ("2", "bread"), ("2", "milk"))
      q.processAllAvailable()
      val got = spark.table("assoc_stream").as[(String, String)]
        .collect().groupBy(identity).view.mapValues(_.length).toMap
      // basket 1 {milk, bread, butter} -> 3 pairs (dup milk absorbed);
      // basket 2 {bread, milk} -> 1 pair; every pair exactly once
      assert(got == Map(
        ("bread", "milk") -> 2, ("bread", "butter") -> 1,
        ("butter", "milk") -> 1),
        s"got $got")
    } finally q.stop()
  }

  test("streaming seasonal Hampel: slot re-emissions converge to batch flags") {
    implicit val sc = spark.sqlContext
    val hour = 3600L * 1000000L
    // (key, tick, count): "a" hod-0 slot gets a spike day (mad 0 —
    // every off-median tick flags); "a" hod-1 constant (flags
    // nothing); "b" hod-0 has nonzero mad and one true anomaly
    val counts = Seq(
      ("a", 0L, 5), ("a", 24L, 5), ("a", 48L, 5), ("a", 72L, 5),
      ("a", 96L, 9),
      ("a", 1L, 3), ("a", 25L, 3), ("a", 49L, 3),
      ("b", 0L, 1), ("b", 24L, 2), ("b", 48L, 3), ("b", 72L, 10))
    val events = counts.flatMap { case (k, t, n) =>
      (0 until n).map(i => (k, t * hour + i * 1000L))
    }
    // split ("a", 96) across micro-batches: 4 events then 5 — the
    // additive merge must total 9 and the slot re-emission must
    // retract the interim profile
    val (late, early) = events.partition {
      case (k, us) => k == "a" && us / hour == 96L && us % hour >= 4000L
    }
    val input = MemoryStream[(String, Long)]
    val q = SeasonalStream.anomalies(
        SeasonalStream.ticksFromEvents(input.toDS()))
      .writeStream.format("memory").queryName("seasonal_stream")
      .outputMode("append").start()
    try {
      input.addData(scala.util.Random.shuffle(early))
      q.processAllAvailable()
      input.addData(late)
      q.processAllAvailable()
      val last = spark.table("seasonal_stream")
        .as[(String, Long, Long, Long, Long, Long, Boolean)].collect()
        .zipWithIndex.groupBy(r => (r._1._1, r._1._2))
        .map { case (_, es) => es.maxBy(_._2)._1 }.toSet
      val batch = graft.operators.Seasonal.hourOfDayAnomalies(
          events.map { case (k, us) =>
            (k, new java.sql.Timestamp(us / 1000L))
          }.toDF("key", "ts"), "key", "ts", k = 3L)
        .collect().map(r => (r.getAs[String]("key"),
          r.getAs[Long]("tick_hour"), r.getAs[Long]("hod"),
          r.getAs[Long]("n"), r.getAs[Long]("med"),
          r.getAs[Long]("mad"), r.getAs[Boolean]("is_anomaly"))).toSet
      assert(last == batch,
        s"final slot emissions must equal batch rows:\n$last\nvs\n$batch")
      // sanity on the fixture itself: exactly two anomalies
      assert(batch.count(_._7) == 2)
    } finally q.stop()
  }

  test("streaming seasonal Hampel: profile survives checkpoint restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_seasonal").toString
    val input = MemoryStream[(String, Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long, Long, Boolean)]
    def start() = SeasonalStream.anomalies(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long,
          Long, Long, Boolean)], _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("a", 0L, 5L), ("a", 24L, 5L), ("a", 48L, 5L))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // post-restart spike must be scored against the RESTORED
      // profile (med 5, mad 0) — lost state would give med 9/mad 0
      // over a singleton slot and flag nothing
      input.addData(("a", 72L, 9L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList).toSet
      assert(got == Set(
        ("a", 0L, 0L, 5L, 5L, 0L, false),
        ("a", 24L, 0L, 5L, 5L, 0L, false),
        ("a", 48L, 0L, 5L, 5L, 0L, false),
        ("a", 72L, 0L, 9L, 5L, 0L, true)),
        s"restored profile must score the spike: $got")
    } finally q2.stop()
  }

  test("streaming histogram bins == batch drift table, restart-safe") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_hist").toString
    // side A: 5, 9, -3 (bin -1 via FLOOR); side B: 1, 2, 3, 25
    val vals = Seq((true, 5L), (true, 9L), (true, -3L),
      (false, 1L), (false, 2L), (false, 3L), (false, 25L))
    val input = MemoryStream[(Boolean, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    def start() = HistDriftStream
      .bins(HistDriftStream.binsFromValues(input.toDS(), binWidth = 10L))
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(Long, Long, Long)], _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val (b1, b2) = scala.util.Random.shuffle(vals).splitAt(3)
    val q1 = start()
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try {
      input.addData(b2)
      q2.processAllAvailable()
      val last = collected.synchronized(collected.toList)
        .zipWithIndex.groupBy(_._1._1)
        .map { case (_, es) => es.maxBy(_._2)._1 }
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val batch = graft.operators.Profile.histogramDrift(
          vals.filter(_._1).map(_._2).toDF("v"),
          vals.filterNot(_._1).map(_._2).toDF("v"), "v", 10L)
        .collect().map(r => r.getAs[Long]("bin") ->
          ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))).toMap
      assert(last == batch, s"upserted bins $last vs batch $batch")
    } finally q2.stop()
  }

  test("streaming multi-touch credits roll up to the batch attribution") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_mta").toString
    val H = 3600L * 1000000L
    // (user, tsMicros, seq, channel, isConv, cents): u1 a 3-touch
    // journey then a 2nd journey; u2 direct; u3 an out-of-window
    // touch; exact-ts collision on u1's first two touches
    val rows = Seq(
      ("u1", 1 * H, 1L, "click", false, 0L),
      ("u1", 1 * H, 2L, "view", false, 0L),   // same-ts: view wins
      ("u1", 2 * H, 3L, "click", false, 0L),
      ("u1", 3 * H, 4L, "view", false, 0L),
      ("u1", 4 * H, 5L, "", true, 1000L),
      ("u1", 5 * H, 6L, "click", false, 0L),
      ("u1", 6 * H, 7L, "", true, 200L),
      ("u2", 2 * H, 8L, "", true, 400L),
      ("u3", 1 * H, 9L, "view", false, 0L),
      ("u3", 40 * H, 10L, "", true, 800L))
    val input = MemoryStream[(String, Long, Long, String, Boolean, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, String, String, Long, Long)]
    def start() = AttributionStream
      .credits(input.toDS(), windowMicros = 24L * H)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, String,
          String, Long, Long)], _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    // ordered feed split across batches AND a restart mid-journey
    val (b1, rest) = rows.sortBy(r => (r._2, r._3)).splitAt(4)
    val q1 = start()
    try { input.addData(b1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try {
      input.addData(rest)
      q2.processAllAvailable()
      val streamRollup = collected.synchronized(collected.toList)
        .groupBy(r => (r._4, r._3)) // (channel, model)
        .map { case (k, rs) =>
          k -> ((rs.map(_._5).sum,
            rs.map(r => r._5 * r._6).sum / 1000L,
            rs.count(_._4 != "direct").toLong)) }
      val batch = graft.operators.Attribution.multiTouch(
          rows.map { case (u, ts, seq, ch, conv, cents) =>
            (u, new java.sql.Timestamp(ts / 1000L), seq,
              if (conv) "purchase" else ch, cents / 100.0)
          }.toDF("user_id", "ts", "event_id", "event_type", "value"),
          "user_id", "ts", "event_id", "event_type", "value",
          Seq("click", "view"), "purchase", 24L * H)
        .collect().map(r => (r.getAs[String]("channel"),
          r.getAs[String]("model")) ->
          ((r.getAs[Long]("conversions_ppm"),
            r.getAs[Long]("revenue_milli_cents"),
            r.getAs[Long]("n_touches")))).toMap
      assert(streamRollup == batch,
        s"stream rollup\n$streamRollup\nvs batch\n$batch")
    } finally q2.stop()
  }

  test("streaming KMV distinct estimate == batch sketch, restart-safe") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_kmv").toString
    val input = MemoryStream[(String, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long)]
    def start() = KmvStream.ndv(input.toDS(), k = 16)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long)],
          _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    // 120 distinct ids for group a (saturates k=16), 5 for b (exact),
    // with duplicates sprinkled in; split across batches + a restart
    val idsA = (0L until 120L).map(("a", _))
    val idsB = (0L until 5L).map(("b", _))
    val (batch1, batch2) = (idsA ++ idsB ++ idsA.take(30)).splitAt(70)
    val q1 = start()
    try {
      input.addData(batch1)
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      input.addData(batch2)
      q2.processAllAvailable()
      val last = collected.synchronized(collected.toList)
        .groupBy(_._1).map { case (g, rs) => g -> rs.last }
      val batch = graft.operators.Sketches.kminNdv(
          (idsA ++ idsB).toDF("g", "id"), Seq("g"), "id", 16)
        .collect().map(r => r.getAs[String]("g") ->
          ((r.getAs[scala.collection.Seq[Long]]("sketch").size.toLong,
            r.getAs[Long]("ndv_est")))).toMap
      assert(last.map { case (g, (_, sz, est)) => g -> ((sz, est)) } ==
        batch, s"stream $last vs batch $batch")
      assert(last("b")._3 == 5L, "unsaturated estimate must be exact")
    } finally q2.stop()
  }

  test("streaming basket pairs: null items drop before the intra-batch sort") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val q = AssocStream.basketPairs(input.toDS())
      .writeStream.format("memory").queryName("assoc_null_stream")
      .outputMode("append").start()
    try {
      // a null item in the same micro-batch as real rows used to NPE
      // inside Ordering[String] BEFORE the null guard could run; it
      // must be ignored like the batch twin's (rules2) null filter
      input.addData(("1", "milk"), ("1", null), ("1", "bread"))
      q.processAllAvailable()
      val got = spark.table("assoc_null_stream").as[(String, String)]
        .collect().toSet
      assert(got == Set(("bread", "milk")), s"got $got")
    } finally q.stop()
  }

  test("occupancy boundaries: pre-epoch ticks match the batch ceiling exactly") {
    implicit val sc = spark.sqlContext
    val hour = 3600L * 1000000L
    // exactly -2h and -1h: truncating div and floorDiv DISAGREE here
    // (floorDiv(-2h + B - 1, B) = -2, truncate = -1) — the stream must
    // use the batch operator's truncating semantics on both boundaries
    val rows = Seq((Option(-2L * hour), Option(-1L * hour)),
      (Option(-hour / 2), Option(hour / 2)))
    val streamTicks = OccupancyStream.boundaries(rows.toDS())
      .collect().toSet
    def tsu(us: Long) = new java.sql.Timestamp(us / 1000L)
    val batchTicks = graft.operators.Intervals.hourlyCoverage(
        rows.map { case (f, t) => (tsu(f.get), t.map(tsu).orNull) }
          .toDF("f", "t"), "f", "t")
      .collect().map(r => r.getAs[Long]("tick_hour") ->
        r.getAs[Long]("delta")).toMap
    val streamAgg = streamTicks.groupBy(_._1).view
      .mapValues(_.toSeq.map(_._2).sum).toMap.filter(_._2 != 0L)
    assert(streamAgg == batchTicks,
      s"pre-epoch stream ticks $streamAgg != batch $batchTicks")
  }

  test("streaming k-step funnel: stage emissions == batch orderedFunnel rollup") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, String)]
    val q = FunnelStepsStream.track(input.toDS(), Seq("A", "B", "C"))
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      // u1 completes A(10)->B(40) in batch 1 (shuffled within batch)
      // and C(100) in batch 2; u2's B arrives BEFORE its A (no B
      // credit — order is mandatory); u3 does A->B
      input.addData(("u1", 40L, 2L, "B"), ("u1", 10L, 1L, "A"),
        ("u2", 5L, 3L, "B"), ("u2", 20L, 4L, "A"),
        ("u3", 0L, 5L, "A"), ("u3", 10L, 6L, "B"))
      q.processAllAvailable()
      input.addData(("u1", 100L, 7L, "C"), ("u2", 30L, 8L, "A"))
      q.processAllAvailable()
      val rows = spark.table("funnel_stream")
        .as[(String, Long, String, Long, Option[Long])].collect()
      // per-stage counts and gap sets mirror the batch report
      val byStage = rows.groupBy(_._2)
      assert(byStage(1L).map(_._1).toSet == Set("u1", "u2", "u3"))
      assert(byStage(2L).map(_._1).toSet == Set("u1", "u3"))
      assert(byStage(3L).map(_._1).toSet == Set("u1"))
      assert(byStage(2L).flatMap(_._5).toSet == Set(30L, 10L))
      assert(byStage(3L).flatMap(_._5).toSet == Set(60L))
      // one emission per (user, stage) — a second A for u2 cannot
      // re-fire stage 1
      assert(rows.groupBy(r => (r._1, r._2)).forall(_._2.length == 1))
      // cross-check the rollup against the batch operator on the
      // SAME events (micros timestamps)
      val batch = graft.operators.Funnel.orderedFunnel(
        Seq(("u1", 10L, 1L, "A"), ("u1", 40L, 2L, "B"),
          ("u1", 100L, 7L, "C"), ("u2", 5L, 3L, "B"),
          ("u2", 20L, 4L, "A"), ("u2", 30L, 8L, "A"),
          ("u3", 0L, 5L, "A"), ("u3", 10L, 6L, "B"))
          .map { case (u, t, s, ty) =>
            (u, new java.sql.Timestamp(t / 1000L), s, ty) }
          .toDF("u", "ts", "seq", "ty"),
        "u", "ts", "seq", "ty", Seq("A", "B", "C"))
        .collect().map(r => r.getAs[Long]("step_idx") ->
          r.getAs[Long]("n_reached")).toMap
      assert(byStage.view.mapValues(_.length.toLong).toMap == batch,
        s"stream stage counts must equal batch n_reached: $batch")
    } finally q.stop()
  }

  test("streaming k-step funnel: stage and stamp survive a restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_fun").toString
    val input = MemoryStream[(String, Long, Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, String, Long, Option[Long])]
    def start() = FunnelStepsStream.track(input.toDS(), Seq("A", "B"))
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, String, Long,
          Option[Long])], _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("u", 10L, 1L, "A"))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // a same-stamp B must NOT fire (strictly-after rule vs the
      // RESTORED stamp); a later B must, with the gap from stage 1
      input.addData(("u", 10L, 1L, "B"))
      q2.processAllAvailable()
      input.addData(("u", 25L, 2L, "B"))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      assert(got == List(("u", 2L, "B", 25L, Some(15L))),
        s"restored frontier must gate the same-stamp B: $got")
    } finally q2.stop()
  }

  test("streaming occupancy: tick totals survive a restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_occ").toString
    val input = MemoryStream[(Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def start() = OccupancyStream.tickDeltas(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData((5L, 1L), (5L, 1L))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData((5L, -1L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      assert(got == List((5L, 1L)),
        s"restored total 2 minus 1 must emit 1: $got")
    } finally q2.stop()
  }

  test("streaming ewma: emissions match the batch chart incl. shuffled arrival and batch splits") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // 30 quiet ticks then a sustained level shift: the trained sigma
    // stays small enough that the late EWMA run crosses the 3-sigma
    // steady-state band (both alarm states live in the fixture)
    val xs = (0 until 30).map(i => 10L + (i % 3)) ++ Seq.fill(6)(60L)
    val rows = xs.zipWithIndex.map { case (x, t) => ("k", t.toLong, x) }
    // trained baseline = the full-series moments (what the batch op
    // derives internally)
    val nRef = xs.size.toLong
    val totRef = xs.sum
    val sx2Ref = xs.map(x => BigInt(x) * x).sum
    val input = MemoryStream[(String, Long, Long)]
    val q = EwmaStream.monitor(input.toDS(), memory = 8, l = 3,
        nRef, totRef, sx2Ref)
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(13).reverse: _*) // shuffled within batch
      q.processAllAvailable()
      input.addData(rows.slice(13, 31): _*)
      q.processAllAvailable()
      input.addData(rows.drop(31): _*)
      q.processAllAvailable()
      val stream = spark.table("ewma_stream")
        .collect().map(r => (r.getLong(1),
          (r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      val batch = graft.operators.Ewma.controlChart(
          rows.toDF("k", "tick", "x"), Seq("k"), "tick", "x")
        .collect().map(r => (r.getAs[Long]("tick"),
          (r.getAs[Long]("x"), r.getAs[Long]("ewma_milli"),
            r.getAs[Boolean]("alarm")))).toMap
      assert(stream == batch, s"stream $stream vs batch $batch")
      assert(batch.values.exists(_._3) && batch.values.exists(!_._3))
    } finally q.stop()
  }

  test("streaming ewma: the dyadic window survives a checkpoint restart") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val xs = Seq(10L, 20L, 30L, 40L)
    val rows = xs.zipWithIndex.map { case (x, t) => ("k", t.toLong, x) }
    val nRef = xs.size.toLong
    val totRef = xs.sum
    val sx2Ref = xs.map(x => BigInt(x) * x).sum
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_ewma").toString
    val input = MemoryStream[(String, Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Boolean)]
    def start() = EwmaStream.monitor(input.toDS(), memory = 8, l = 3,
        nRef, totRef, sx2Ref)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long, Boolean)],
         _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(rows.take(2): _*)
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData(rows.drop(2): _*)
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList).map(r =>
        r._2 -> r._4).toMap
      // tick 2 with the restored {10, 20} window: num = 10+20*2+30*4,
      // D = 7 -> 170000/7; a reset window would give 30000*... wrong
      assert(got(2L) == 170000L / 7,
        s"restored window must feed tick 2: $got")
      assert(got(3L) == (10L + 20 * 2 + 30 * 4 + 40 * 8) * 1000 / 15)
    } finally q2.stop()
  }

  test("streaming agreement: upserted cells reproduce batch kappa incl. shuffled arrival and batch splits") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // two groups, mixed agreement; enough disagreement that kappa is
    // a nontrivial value in both
    val rows = Seq.fill(12)(("g", "y", "y")) ++
      Seq.fill(5)(("g", "y", "n")) ++ Seq.fill(7)(("g", "n", "n")) ++
      Seq.fill(3)(("h", "x", "x")) ++ Seq.fill(4)(("h", "x", "z"))
    val input = MemoryStream[(String, String, String)]
    val q = AgreementStream.cells(input.toDS())
      .writeStream.format("memory").queryName("agree_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(13).reverse: _*)
      q.processAllAvailable()
      input.addData(rows.drop(13): _*)
      q.processAllAvailable()
      // upsert semantics: last (= max, counts are monotone) per cell
      val cells = spark.table("agree_stream")
        .toDF("g", "a", "b", "n")
        .groupBy("g", "a", "b").agg(max(col("n")).as("c"))
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("po_ppm"),
            r.getAs[Long]("pe_ppm"),
            Option(r.getAs[Any]("kappa_milli"))))).toMap
      val stream = snap(graft.operators.Agreement.kappaFromCells(
        cells, Seq("g"), "a", "b", "c"))
      val batch = snap(graft.operators.Agreement.cohenKappa(
        rows.toDF("g", "a", "b"), "a", "b", Seq("g")))
      assert(stream == batch, s"stream $stream vs batch $batch")
      assert(batch("g")._4.isDefined && batch("h")._4.isDefined)
    } finally q.stop()
  }

  test("streaming ranking eval: upserted partials reproduce batch rankingReport incl. shuffled arrival, splits, re-delivery") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // q1: mixed hits; q2: hit at 1 only; q3: nothing relevant; rank 6
    // row for q1 must be ignored (outside k=5)
    val rows = Seq(
      ("q1", 1L, false), ("q1", 2L, true), ("q1", 3L, true),
      ("q1", 4L, false), ("q1", 5L, true), ("q1", 6L, true),
      ("q2", 1L, true), ("q2", 2L, false),
      ("q3", 1L, false), ("q3", 2L, false))
    val totals = Seq(("q1", 10L), ("q2", 1L), ("q3", 0L))
      .toDF("query", "n_rel_total")
    val input = MemoryStream[(String, Long, Boolean)]
    val q = RankingEvalStream.partials(input.toDS(), k = 5)
      .writeStream.format("memory").queryName("rank_stream")
      .outputMode("append").start()
    try {
      // shuffled within batch 1, split mid-query, one re-delivery
      input.addData(rows.take(6).reverse: _*)
      q.processAllAvailable()
      input.addData(rows.drop(6) :+ ("q1", 2L, true): _*)
      q.processAllAvailable()
      // upsert semantics: last row per query = max n_seen
      val parts = spark.table("rank_stream")
        .toDF("query", "n_seen", "n_rel_k", "first_rel_rank", "apn")
      val last = parts.groupBy("query")
        .agg(max(struct(col("n_seen"), col("n_rel_k"),
          col("first_rel_rank"), col("apn"))).as("w"))
        .select(col("query"), col("w.n_rel_k").as("n_rel_k"),
          col("w.first_rel_rank").as("first_rel_rank"),
          col("w.apn").as("apn"))
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("n_rel_k"),
            Option(r.getAs[Any]("first_rel_rank")),
            r.getAs[Long]("mrr_ppm"), r.getAs[Long]("p_at_k_ppm"),
            Option(r.getAs[Any]("recall_at_k_ppm")),
            Option(r.getAs[Any]("ap_at_k_ppm"))))).toMap
      val stream = snap(graft.operators.Evaluation.reportFromPartials(
        last, "query", totals, "n_rel_total", k = 5))
      // batch sees the SAME contract: top-5 rows only, no duplicates
      val batch = snap(graft.operators.Evaluation.rankingReport(
        rows.filter(_._2 <= 5L).toDF("query", "rank", "rel"),
        "query", "rank", "rel", totals, "n_rel_total", k = 5))
      assert(stream == batch, s"stream $stream vs batch $batch")
      // hand values: q1 hits at 2,3,5 -> apn = 500000+666666+600000
      assert(stream("q1") == ((3L, Some(2L), 500000L, 600000L,
        Some(300000L), Some((500000L + 666666L + 600000L) / 5L))))
      assert(stream("q3")._5.isEmpty && stream("q3")._6.isEmpty)
    } finally q.stop()
  }

  test("streaming RFM: upserted user triples reproduce the batch census incl. shuffled arrival and splits") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val hr = 3600000000L
    // 10 users with spread-out recency/frequency/monetary so several
    // quintile cells are live; cents chosen 2dp-exact
    val rows = (1 to 10).flatMap { u =>
      (0 until u).map(i => (s"u$u", (u * 10 + i) * hr, u * 125L + i))
    }
    val input = MemoryStream[(String, Long, Long)]
    val q = RfmStream.users(input.toDS())
      .writeStream.format("memory").queryName("rfm_stream")
      .outputMode("append").start()
    try {
      input.addData(rows.take(23).reverse: _*)
      q.processAllAvailable()
      input.addData(rows.drop(23): _*)
      q.processAllAvailable()
      // upsert semantics: frequency is monotone, last row = max f
      val users = spark.table("rfm_stream")
        .toDF("user", "last_us", "f", "m")
        .groupBy("user")
        .agg(max(struct(col("f"), col("last_us"), col("m"))).as("w"))
        .select(col("user"), col("w.last_us").as("last_us"),
          col("w.f").as("f"), col("w.m").as("m"))
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("r_score"),
          r.getAs[Long]("f_score"), r.getAs[Long]("m_score")) ->
          ((r.getAs[Long]("n_users"), r.getAs[Long]("sum_cents")))).toMap
      val stream = snap(graft.operators.Rfm.censusFromUsers(
        users, "user", "last_us", "f", "m"))
      val batch = snap(graft.operators.Rfm.rfmCensus(
        rows.map { case (u, ts, c) => (u, ts, c / 100.0) }
          .toDF("user", "us", "value")
          .withColumn("ts", timestamp_micros(col("us"))),
        "user", "ts", "value"))
      assert(stream == batch, s"stream $stream vs batch $batch")
      assert(stream.values.map(_._1).sum == 10L) // every user in a cell
    } finally q.stop()
  }

  test("streaming RFM: user triples survive a checkpoint restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_rfm").toString
    val input = MemoryStream[(String, Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long)]
    def start() = RfmStream.users(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long)],
         _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("u", 5000000L, 250L), ("u", 9000000L, 100L))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      // an EARLIER event after restart: last must stay 9s, f and m
      // must accumulate on the restored triple (a reset would give
      // f=1, m=50)
      input.addData(("u", 2000000L, 50L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      assert(got == List(("u", 9000000L, 3L, 400L)),
        s"restored triple must accumulate: $got")
    } finally q2.stop()
  }

  test("streaming ranking eval: slots survive a checkpoint restart; changed k refuses") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_rank").toString
    val input = MemoryStream[(String, Long, Boolean)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long, Long, Long)]
    def start(k: Int) = RankingEvalStream.partials(input.toDS(), k)
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, Long, Long, Long, Long)],
         _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start(5)
    try {
      input.addData(("q1", 3L, true), ("q1", 5L, false))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start(5)
    try {
      // rank 1 lands after restart: restored slots must yield
      // n_seen=3 and keep first_rel_rank=3 (a reset would give 1, 0)
      input.addData(("q1", 1L, false))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      assert(got == List(("q1", 3L, 1L, 3L, 333333L)),
        s"restored slots must feed the partial: $got")
    } finally q2.stop()
    // same query, different k: slot positions are only meaningful
    // under the k that wrote them — the fingerprint must refuse
    val q3 = start(7)
    try {
      val ex = intercept[Exception] {
        input.addData(("q1", 2L, true))
        q3.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("different k")), ex)
    } finally q3.stop()
  }

  test("streaming tick dispersion: upserted cells reproduce the batch Fisher index incl. splits") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val hr = 3600000000L
    // bursty key (mass in tick 0, a straggler in tick 7) + steady key
    val rows = (0 until 8).map(_ => ("b", 5L)) ++ Seq(("b", 7 * hr)) ++
      (0L until 6L).map(t => ("s", t * hr))
    val binned = rows.map { case (g, us) =>
      (g, Math.floorDiv(us, hr)) }
    val input = MemoryStream[(String, Long)]
    val q = TickDispersionStream.cells(input.toDS())
      .writeStream.format("memory").queryName("disp_stream")
      .outputMode("append").start()
    try {
      input.addData(binned.take(9).reverse: _*)
      q.processAllAvailable()
      input.addData(binned.drop(9): _*)
      q.processAllAvailable()
      val cells = spark.table("disp_stream")
        .toDF("g", "tick", "n")
        .groupBy("g", "tick").agg(max(col("n")).as("c"))
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) ->
          ((r.getAs[Long]("span_ticks"), r.getAs[Long]("active_ticks"),
            r.getAs[Long]("total"), r.getAs[Long]("mean_milli"),
            Option(r.getAs[Any]("dispersion_milli"))))).toMap
      val stream = snap(graft.operators.Burstiness.dispersionFromTicks(
        cells, "g", "tick", "c"))
      val batch = snap(graft.operators.Burstiness.tickDispersion(
        rows.toDF("g", "us")
          .withColumn("ts", timestamp_micros(col("us"))),
        "g", "ts", 3600L))
      assert(stream == batch, s"stream $stream vs batch $batch")
      assert(batch("b")._5 == Some(6097L)) // the hand-checked burst
    } finally q.stop()
  }

  test("streaming agreement: cell counts survive a checkpoint restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_agree").toString
    val input = MemoryStream[(String, String, String)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long)]
    def start() = AgreementStream.cells(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, String, String, Long)],
         _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("g", "y", "y"), ("g", "y", "y"))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData(("g", "y", "y"))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      assert(got == List(("g", "y", "y", 3L)),
        s"restored cell count 2 plus 1 must emit 3: $got")
    } finally q2.stop()
  }

  test("streaming burstiness: gap extraction matches batch CV² incl. shuffled arrival and batch splits") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, String, Long, Long)]
    val q = BurstinessStream.gaps(input.toDS())
      .writeStream.format("memory").queryName("burst_stream")
      .outputMode("append").start()
    // events: (entity, group, tsMicros, tie) — two entities in group g,
    // one in h; same-instant repeats give legitimate 0 gaps
    val events = Seq(
      ("u1", "g", 1000000L, 1L), ("u1", "g", 4000000L, 2L),
      ("u1", "g", 4000000L, 3L), ("u1", "g", 10000000L, 4L),
      ("u2", "g", 2000000L, 5L), ("u2", "g", 3000000L, 6L),
      ("u3", "h", 7000000L, 7L)) // single event -> no gap
    try {
      // batch 1 shuffled within itself; batch 2 continues u1/u2
      input.addData(events.take(4).reverse: _*)
      q.processAllAvailable()
      input.addData(events.drop(4): _*)
      q.processAllAvailable()
      val gapRows = spark.table("burst_stream")
        .toDF("entity", "grp", "ts", "gap")
      // batch reference over the SAME events through the operator
      val batch = graft.operators.Burstiness.interArrivalCv2(
        events.toDF("entity", "grp", "ts_us", "tie")
          .withColumn("ts", timestamp_micros(col("ts_us"))),
        "entity", "grp", "ts", "tie")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
      val stream = graft.operators.Burstiness.cv2FromGaps(
          gapRows, "grp", "gap")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
      // group h has one event -> no gaps -> absent from both rollups
      assert(batch.keySet == Set("g") && stream == batch,
        s"batch $batch vs stream $stream")
      // hand check: u1 gaps 3s,0s,6s + u2 gap 1s -> n=4, mean=2.5s,
      // cv2 = 1000*(4*46e12 - 1e13*1e1... ) -> compare via formula
      assert(stream("g")._1 == 4L && stream("g")._2 == 2500000L)
    } finally q.stop()
  }

  test("streaming burstiness: last-timestamp state survives a restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_burst").toString
    val input = MemoryStream[(String, String, Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long)]
    def start() = BurstinessStream.gaps(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, String, Long, Long)],
         _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("u1", "g", 1000000L, 1L))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData(("u1", "g", 5000000L, 2L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      // a reset would emit no gap (no predecessor); the restored
      // last-ts makes the 4s gap
      assert(got == List(("u1", "g", 5000000L, 4000000L)),
        s"state must survive the restart: $got")
    } finally q2.stop()
  }

  test("streaming seq patterns: upserted cells reproduce the batch rules incl. shuffled arrival, batch splits, and a same-ts group split") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val min = 60000000L
    // the SeqPatternsSpec fixture: A closes a->b (10m) and b->a at
    // EXACTLY the 60m boundary; B closes b->a, b->c, a->c; C is
    // antecedent-only; D's simultaneous a/b must chain neither way
    val rows = Seq(
      ("A", 0L, "a"), ("A", 10 * min, "b"), ("A", 70 * min, "a"),
      ("A", 200 * min, "c"),
      ("B", 0L, "b"), ("B", 5 * min, "a"), ("B", 50 * min, "c"),
      ("C", 0L, "a"),
      ("D", 0L, "a"), ("D", 0L, "b"))
    val input = MemoryStream[(String, Long, String)]
    val q = SeqPatternsStream.cells(input.toDS(), Seq("a", "b", "c"))
      .writeStream.format("memory").queryName("seqpat_stream")
      .outputMode("append").start()
    try {
      // batch 1 shuffled within itself; D's same-ts pair is SPLIT
      // across batches 1 and 2 — the strict t_a < t guard must
      // still refuse to chain it
      input.addData(("A", 10 * min, "b"), ("A", 0L, "a"), ("D", 0L, "a"))
      q.processAllAvailable()
      input.addData(("D", 0L, "b"), ("B", 0L, "b"), ("B", 5 * min, "a"),
        ("C", 0L, "a"))
      q.processAllAvailable()
      input.addData(("A", 70 * min, "a"), ("A", 200 * min, "c"),
        ("B", 50 * min, "c"))
      q.processAllAvailable()
      val cells = spark.table("seqpat_stream")
        .toDF("entity", "ante", "cons", "gap")
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      val stream = graft.operators.SeqPatterns.rulesFromCells(
          cells, "entity", "ante", "cons", "gap",
          maxGapMinutes = 60L)
        .collect().map(key).toSet
      val batch = graft.operators.SeqPatterns.level2(
          rows.toDF("u", "us", "t")
            .withColumn("ts", timestamp_micros(col("us"))),
          "u", "ts", "t", Seq("a", "b", "c"), maxGapMinutes = 60L)
        .collect().map(key).toSet
      assert(stream == batch, s"stream $stream vs batch $batch")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("streaming seq patterns L3: upserted cells reproduce the batch triples incl. the suffix-flag trap, shuffled arrival, batch splits") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val min = 60000000L
    // E: the level3 greedy trap (first b after a has no in-gap c, a
    //    later in-gap b does); F: valid 2-prefix, c too late; S: the
    //    SUFFIX-flag trap — a@0, b@9m, b@15m, c@16m with G=10m: only
    //    the 9m b (step-1 gap 9 <= 10) completes a chain, and a
    //    "latest b later flagged by c" state would have overwritten
    //    it with the invalid 15m b; G: simultaneous a/b never chains
    val rows = Seq(
      ("E", 0L, "a"), ("E", 1 * min, "b"), ("E", 9 * min, "b"),
      ("E", 12 * min, "c"),
      ("F", 0L, "a"), ("F", 5 * min, "b"), ("F", 30 * min, "c"),
      ("S", 0L, "a"), ("S", 9 * min, "b"), ("S", 15 * min, "b"),
      ("S", 16 * min, "c"),
      ("G", 0L, "a"), ("G", 0L, "b"), ("G", 5 * min, "c"))
    val input = MemoryStream[(String, Long, String)]
    val q = SeqPatternsStream.cells3(input.toDS(), Seq("a", "b", "c"),
        maxGapMinutes = 10L)
      .writeStream.format("memory").queryName("seqpat3_stream")
      .outputMode("append").start()
    try {
      // shuffled within batches; G's same-ts a/b split across
      // batches 1 and 2 — the strict guards must refuse every role
      input.addData(("E", 1 * min, "b"), ("E", 0L, "a"),
        ("S", 0L, "a"), ("G", 0L, "a"))
      q.processAllAvailable()
      input.addData(("G", 0L, "b"), ("S", 9 * min, "b"),
        ("E", 9 * min, "b"), ("F", 5 * min, "b"), ("F", 0L, "a"))
      q.processAllAvailable()
      input.addData(("E", 12 * min, "c"), ("S", 15 * min, "b"),
        ("S", 16 * min, "c"), ("F", 30 * min, "c"), ("G", 5 * min, "c"))
      q.processAllAvailable()
      val cells = spark.table("seqpat3_stream")
        .toDF("entity", "s1", "s2", "s3", "gap")
      def key(r: org.apache.spark.sql.Row) =
        (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6))
      val stream = graft.operators.SeqPatterns.triplesFromCells(
          cells, "entity", "s1", "s2", "s3", "gap", maxGapMinutes = 10L)
        .collect().map(key).toSet
      val batch = graft.operators.SeqPatterns.level3(
          rows.toDF("u", "us", "t")
            .withColumn("ts", timestamp_micros(col("us"))),
          "u", "ts", "t", Seq("a", "b", "c"), maxGapMinutes = 10L)
        .collect().map(key).toSet
      assert(stream == batch, s"stream $stream vs batch $batch")
      // the trap entities: E and S both support <a,b,c> (2 of the 4)
      assert(batch.exists(r => r._1 == "a" && r._2 == "b" &&
        r._3 == "c" && r._4 == 2L), s"E+S must both complete: $batch")
    } finally q.stop()
  }

  test("streaming seq patterns L3: valid-prefix state survives a restart; a changed gap fails loudly") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_seqpat3").toString
    val input = MemoryStream[(String, Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, Long)]
    def start(gap: Long) =
      SeqPatternsStream.cells3(input.toDS(), Seq("a", "b"), gap)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[
            (String, String, String, String, Long)], _: Long) => {
            val got = df.collect()
            collected.synchronized { collected ++= got }
            ()
          }
        }
        .option("checkpointLocation", ckpt).start()
    val q1 = start(10L)
    try {
      // a@1s, b@5s: a->b valid prefix (4s <= 10m) recorded pre-restart
      input.addData(("u", 1000000L, "a"), ("u", 5000000L, "b"))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start(10L)
    try {
      // b@8s completes <a,b,b>: the restored validB closes gap 3s; a
      // state reset would see no valid prefix and emit nothing but
      // the b seen-marker (already emitted pre-restart)
      input.addData(("u", 8000000L, "b"))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList).toSet
      assert(got == Set(("u", "a", "b", "b", 3000000L)),
        s"valid-prefix state must survive the restart: $got")
    } finally q2.stop()
    // same alphabet, different gap: the fingerprint must refuse —
    // validB entries are only meaningful under the gap that wrote them
    val q3 = start(20L)
    try {
      val ex = intercept[Exception] {
        input.addData(("u", 9000000L, "b"))
        q3.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("different alphabet/gap")), ex)
    } finally q3.stop()
  }

  test("streaming funnel drop-off: upserted flags reproduce the batch readout incl. every drop-off bucket") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val min = 60000000L
    // the SeqPatternsSpec funnelFixture: one entity per bucket —
    // u1 completes; u2 gap-expires at 2; u3 absent at 2 (click only
    // BEFORE the view); u4 never views; u5 gap-expires at 3; u6
    // absent at 3 (purchase precedes the click); u7 completes via
    // the non-greedy trap; u8 same-ts view+click never chains
    val rows = Seq(
      ("u1", 0L, "view"), ("u1", 5 * min, "click"),
      ("u1", 12 * min, "purchase"),
      ("u2", 0L, "view"), ("u2", 20 * min, "click"),
      ("u3", 0L, "click"), ("u3", 5 * min, "view"),
      ("u4", 0L, "click"), ("u4", 1 * min, "purchase"),
      ("u5", 0L, "view"), ("u5", 5 * min, "click"),
      ("u5", 30 * min, "purchase"),
      ("u6", 0L, "view"), ("u6", 2 * min, "purchase"),
      ("u6", 5 * min, "click"),
      ("u7", 0L, "view"), ("u7", 2 * min, "click"),
      ("u7", 8 * min, "click"), ("u7", 15 * min, "purchase"),
      ("u8", 0L, "view"), ("u8", 0L, "click"))
    val steps = Seq("view", "click", "purchase")
    val input = MemoryStream[(String, Long, String)]
    val q = FunnelDropoffStream.flags(input.toDS(), steps, Seq(10L, 10L))
      .writeStream.format("memory").queryName("funnel_dropoff_stream")
      .outputMode("append").start()
    try {
      // shuffled within batches; u8's same-ts pair split across
      // batches 1 and 2 — no role may chain it
      input.addData(("u1", 0L, "view"), ("u8", 0L, "view"),
        ("u3", 0L, "click"), ("u5", 0L, "view"), ("u7", 0L, "view"))
      q.processAllAvailable()
      input.addData(("u8", 0L, "click"), ("u1", 5 * min, "click"),
        ("u7", 2 * min, "click"), ("u2", 0L, "view"),
        ("u4", 0L, "click"), ("u6", 0L, "view"),
        ("u3", 5 * min, "view"))
      q.processAllAvailable()
      input.addData(("u1", 12 * min, "purchase"), ("u5", 5 * min, "click"),
        ("u7", 8 * min, "click"), ("u4", 1 * min, "purchase"),
        ("u6", 2 * min, "purchase"), ("u2", 20 * min, "click"))
      q.processAllAvailable()
      input.addData(("u5", 30 * min, "purchase"),
        ("u7", 15 * min, "purchase"), ("u6", 5 * min, "click"))
      q.processAllAvailable()
      val flags = spark.table("funnel_dropoff_stream")
        .toDF("entity", "flag")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5),
          Option(r.get(6)).map(_.asInstanceOf[Long]))
      val stream = graft.operators.SeqPatterns.dropoffFromFlags(
          flags, "entity", "flag", steps)
        .collect().map(key).toSet
      val batch = graft.operators.SeqPatterns.funnelDropoff3(
          rows.toDF("u", "us", "t")
            .withColumn("ts", timestamp_micros(col("us"))),
          "u", "ts", "t", steps, gapsMinutes = Seq(10L, 10L))
        .collect().map(key).toSet
      assert(stream == batch, s"stream $stream vs batch $batch")
      // every bucket is live in this fixture
      assert(batch.exists(r => r._1 == 3L && r._5 == 1L && r._6 == 1L),
        s"step-3 gap-expired AND absent must both be 1: $batch")
    } finally q.stop()
  }

  test("streaming funnel drop-off: state survives a restart; changed gaps fail loudly") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_funnel_dropoff").toString
    val input = MemoryStream[(String, Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    def start(g: Seq[Long]) =
      FunnelDropoffStream.flags(input.toDS(),
          Seq("view", "click", "purchase"), g)
        .writeStream
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[(String, String)],
           _: Long) => {
            val got = df.collect()
            collected.synchronized { collected ++= got }
            ()
          }
        }
        .option("checkpointLocation", ckpt).start()
    val q1 = start(Seq(10L, 10L))
    try {
      // view@1s, click@5s: valid prefix recorded pre-restart
      input.addData(("u", 1000000L, "view"), ("u", 5000000L, "click"))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start(Seq(10L, 10L))
    try {
      // purchase@8s completes against the RESTORED validB (3s ≤ 10m);
      // a state reset would emit nothing new but the purchase is
      // flag-silent anyway — r3/saw3 are the proof of restored state
      input.addData(("u", 8000000L, "purchase"))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList).toSet
      assert(got == Set(("u", "r3"), ("u", "saw3")),
        s"valid-prefix state must survive the restart: $got")
    } finally q2.stop()
    val q3 = start(Seq(20L, 10L))
    try {
      val ex = intercept[Exception] {
        input.addData(("u", 9000000L, "purchase"))
        q3.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("different steps/gaps")), ex)
    } finally q3.stop()
  }

  test("streaming seq patterns: last-seen state survives a restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_seqpat").toString
    val input = MemoryStream[(String, Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long)]
    def start() = SeqPatternsStream.cells(input.toDS(), Seq("a", "b"))
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(String, String, String, Long)],
         _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(("u", 1000000L, "a"))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData(("u", 5000000L, "b"))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList).toSet
      // a reset would see no prior a and emit only b's seen-marker;
      // the restored last-seen closes the 4s a->b gap
      assert(got == Set(("u", "b", "*", 0L), ("u", "a", "b", 4000000L)),
        s"state must survive the restart: $got")
    } finally q2.stop()
  }

  test("streaming seq patterns: restart with a reordered alphabet of the same size fails loudly") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_seqpat_alpha").toString
    val input = MemoryStream[(String, Long, String)]
    def start(alphabet: Seq[String]) =
      SeqPatternsStream.cells(input.toDS(), alphabet)
        .writeStream
        .foreachBatch {
          // must CONSUME the frame — an unprocessed micro-batch trips
          // Spark's state-store commit validation before our guard
          (df: org.apache.spark.sql.Dataset[(String, String, String, Long)],
           _: Long) => { df.collect(); () }
        }
        .option("checkpointLocation", ckpt).start()
    val q1 = start(Seq("a", "b"))
    try {
      input.addData(("u", 1000000L, "a"))
      q1.processAllAvailable()
    } finally q1.stop()
    // same size, same strings, different slot assignment: length-based
    // validation can't see this — the persisted fingerprint must
    val q2 = start(Seq("b", "a"))
    try {
      val ex = intercept[Exception] {
        input.addData(("u", 5000000L, "b"))
        q2.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("different alphabet")), ex)
    } finally q2.stop()
  }

  test("streaming density: a negative id is rejected at ingest, not silently summed") {
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long)]
    val q = DensityStream.cells(input.toDS())
      .writeStream.format("memory").queryName("density_negid")
      .outputMode("append").start()
    try {
      val ex = intercept[Exception] {
        input.addData((-7L, 0L, 0L))
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("non-negative ids")), ex)
    } finally q.stop()
  }

  test("streaming density: upserted grid cells reproduce the batch dbscan census incl. shuffled arrival and batch splits") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // the DensitySpec fixture: dense (0,0) block, border (2,0),
    // noise (9,9), with a 60% relative gate
    val vecs = Seq(
      (1L, Array(0.05f, 0.05f)), (2L, Array(0.04f, 0.06f)),
      (3L, Array(0.01f, 0.01f)), (4L, Array(0.09f, 0.09f)),
      (5L, Array(0.05f, 0.01f)), (6L, Array(0.02f, 0.08f)),
      (7L, Array(0.15f, 0.05f)), (8L, Array(0.16f, 0.04f)),
      (9L, Array(0.25f, 0.05f)), (10L, Array(0.95f, 0.95f)))
    val batchDf = vecs.toDF("id", "vec")
    // quantize through the SHARED helper so the stream sees exactly
    // the batch bucketing
    val pts = graft.operators.Density.pointCells(
        batchDf, "id", "vec", Seq(1, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val input = MemoryStream[(Long, Long, Long)]
    val q = DensityStream.cells(input.toDS())
      .writeStream.format("memory").queryName("density_stream")
      .outputMode("append").start()
    try {
      val shuffled = scala.util.Random.javaRandomToRandom(
        new java.util.Random(42)).shuffle(pts.toSeq)
      input.addData(shuffled.take(4): _*)
      q.processAllAvailable()
      input.addData(shuffled.drop(4): _*)
      q.processAllAvailable()
      // upsert semantics: last (= max, sums are monotone) per cell
      val cells = spark.table("density_stream")
        .toDF("c0", "c1", "n", "ids")
        .groupBy("c0", "c1")
        .agg(max(col("n")).as("n"), max(col("ids")).as("ids"))
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
          .toMap
      val stream = snap(graft.operators.Density.censusFromCells(
        cells, Seq("c0", "c1"), "n", "ids", densityPpm = 600000L))
      val batch = snap(graft.operators.Density.gridDbscanCensus(
        batchDf, "id", "vec", Seq(1, 2), densityPpm = 600000L))
      assert(stream == batch, s"stream $stream vs batch $batch")
      assert(batch.keySet == Set("core", "border", "noise"))
    } finally q.stop()
  }

  test("streaming density: cell counts survive a restart") {
    implicit val sc = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_density").toString
    val input = MemoryStream[(Long, Long, Long)]
    val collected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    def start() = DensityStream.cells(input.toDS())
      .writeStream
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[(Long, Long, Long, Long)],
         _: Long) =>
        collected.synchronized { collected ++= df.collect() }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData((5L, 0L, 0L), (6L, 0L, 0L))
      q1.processAllAvailable()
    } finally q1.stop()
    collected.synchronized(collected.clear())
    val q2 = start()
    try {
      input.addData((7L, 0L, 0L))
      q2.processAllAvailable()
      val got = collected.synchronized(collected.toList)
      // a reset would re-emit (1, 7); the restored cell accumulates
      assert(got == List((0L, 0L, 3L, 18L)),
        s"state must survive the restart: $got")
    } finally q2.stop()
  }
}
