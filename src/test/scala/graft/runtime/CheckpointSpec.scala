package graft.runtime

import java.nio.file.Files

import graft.SparkSpec
import graft.dsl.{ConsumerSpec, GraftApp}
import graft.model.KafkaRecordIn
import graft.serde.{JsonSerde, StringSerde}
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The checkpoint manager `Sessions.local` sets: which one a session
  * resolves, that checkpoints written under Spark's default manager still
  * restore, and that a log file is still written at most once.
  */
class CheckpointSpec extends SparkSpec {

  private val managerConf = "spark.sql.streaming.checkpointFileManagerClass"

  private def managerOf(session: SparkSession, dir: Path): CheckpointFileManager =
    CheckpointFileManager.create(dir, session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf())

  /** A session whose checkpoints commit through Spark's default manager. */
  private def defaultManagerSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(managerConf, classOf[FileContextBasedCheckpointFileManager].getName)
    s
  }

  private def tempDir(prefix: String): Path =
    new Path(Files.createTempDirectory(prefix).toUri)

  test("a local session commits file: checkpoints through the FileSystem-based manager") {
    val dir = tempDir("graft_ckpt_manager")
    assert(dir.toUri.getScheme == "file")
    assert(managerOf(spark, dir).isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(managerOf(defaultManagerSession(), dir)
      .isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("a KafkaIO.runWith query restarts from a checkpoint Spark's default manager wrote") {
    val app = new GraftApp().consume(ConsumerSpec(
      topic = "clicks",
      sinkTopics = Seq("out"),
      valueSerde = JsonSerde(StructType(Seq(StructField("user_id", LongType)))),
      outValueSerde = Some(StringSerde),
      handler = _.select(concat(lit("u"), col("value.user_id")).as("value"))))
    val input = tempDir("graft_ckpt_input").toString
    val ckpt = tempDir("graft_ckpt_restart")
    val schema = StructType.fromDDL(KafkaRecordIn.schemaDdl)
    def add(offset: Long, value: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(
        Seq(Row("clicks", 0, offset, 0L, 0, null, value.getBytes, null)), 1), schema)
        .write.mode("append").parquet(input)
    /** The (topic:value) rows each micro-batch of one run publishes. */
    def run(session: SparkSession): Seq[Seq[String]] = {
      val writes = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val q = KafkaIO.runWith(session.readStream.schema(schema).parquet(input), app,
        ckpt.toString, Some("dlq"), Trigger.ProcessingTime(0L)) { (rows: DataFrame) =>
        val published = rows.collect().toSeq.map(r =>
          s"${r.getAs[String]("topic")}:${new String(r.getAs[Array[Byte]]("value"), "UTF-8")}")
        writes.synchronized { writes += published.sorted }
      }
      try q.processAllAvailable() finally q.stop()
      writes.synchronized(writes.toSeq)
    }
    add(1, """{"user_id": 1}""")
    add(2, "not json")
    assert(run(defaultManagerSession()) == Seq(Seq("dlq:not json", "out:u1")))
    add(3, """{"user_id": 3}""")
    assert(run(spark) == Seq(Seq("out:u3")))
    // both managers wrote each commit and its checksum
    val commits = new java.io.File(new Path(ckpt, "commits").toUri).list()
    assert(commits.toSet == Set("0", ".0.crc", "1", ".1.crc"))
  }

  test("a second write of an existing log file fails") {
    val dir = tempDir("graft_ckpt_once")
    val manager = managerOf(spark, dir)
    val file = new Path(dir, "0")
    def write(b: Int): Unit = {
      val out = manager.createAtomic(file, overwriteIfPossible = false)
      out.write(b)
      out.close()
    }
    write(1)
    intercept[FileAlreadyExistsException](write(2))
    val in = manager.open(file)
    try assert(in.read() == 1 && in.read() == -1) finally in.close()
  }
}
