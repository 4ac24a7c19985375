package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Unified batch-source surface (SURVEY.md §2 B1): every file format the
  * engine reads, behind one API with consistent schema-enforcement and
  * dead-letter conventions — the batch mirror of the Kafka/serde DLQ
  * story (a malformed record is never silently dropped OR silently
  * poisoned; it is routed).
  *
  * Scale notes baked in:
  *  - schemas are DECLARED (never inferred) on the hot path: schema
  *    inference reads the data twice and takes the union of what it saw —
  *    at 100 TB that is both a full extra pass and a schema lottery;
  *  - text formats parse PERMISSIVE with an explicit corrupt-record
  *    column, so a bad row costs one null projection, not a task retry
  *    storm (FAILFAST is opt-in via `strict = true` for pipelines that
  *    prefer loud early death);
  *  - the split between [[Routed.good]] / [[Routed.bad]] is a filter on
  *    one scan — Spark plans both sides off the same FileScan, and the
  *    bad side's columns prune away on the good side.
  */
object Readers {

  /** The corrupt-record column name used across the engine. */
  val CorruptCol = "_corrupt_record"

  /** A batch split into parsed rows and dead-letter rows. Both frames
    * derive from the same scan; `bad` carries the raw record text for
    * quarantine sinks.
    *
    * Parsing goes through `text()` + `from_csv`/`from_json` EXPRESSIONS
    * (the same serde shape as the Kafka ingest path) rather than the
    * DataFrameReader csv/json sources: the file sources forbid queries
    * whose referenced columns prune down to only the internal corrupt
    * record column (`bad.count()` would throw UNSUPPORTED_FEATURE), while
    * the expression form has no such restriction — and the parse runs
    * inside whole-stage codegen either way.
    */
  final case class Routed(good: DataFrame, bad: DataFrame)

  private def parseLines(spark: SparkSession, path: String,
      schema: StructType, parse: Column => Column,
      headerLine: Option[String]): Routed = {
    val raw0 = spark.read.text(path)
    val raw = headerLine.map(h => raw0.filter(col("value") =!= h)).getOrElse(raw0)
    val parsed = raw.select(parse(col("value")).as("__r"))
    Routed(
      good = parsed.filter(col(s"__r.$CorruptCol").isNull)
        .select(col("__r.*")).drop(CorruptCol),
      bad = parsed.filter(col(s"__r.$CorruptCol").isNotNull)
        .select(col("__r.*")))
  }

  /** Parquet: schema comes from the footer (no inference pass); an
    * optional expected schema is VERIFIED (names ⊆ footer schema) so a
    * silently evolved table fails at plan time, not at 3 a.m. in a task.
    */
  def parquet(spark: SparkSession, path: String,
              expect: Option[StructType] = None): DataFrame =
    verified(spark.read.parquet(path), "parquet", path, expect)

  /** ORC: same contract as [[parquet]] — self-describing footer schema,
    * optional declared-schema verification. ORC is the other columnar
    * lake format Spark reads natively (predicate pushdown, column
    * pruning, vectorized scan all apply); pipelines migrating a Hive-era
    * warehouse land here instead of parquet.
    */
  def orc(spark: SparkSession, path: String,
          expect: Option[StructType] = None): DataFrame =
    verified(spark.read.orc(path), "orc", path, expect)

  /** `df` unchanged when every declared column is in its footer schema
    * with the declared type; fails naming each one that is not.
    */
  private def verified(df: DataFrame, format: String, path: String,
                       expect: Option[StructType]): DataFrame = {
    expect.foreach { s =>
      val have = df.schema.map(f => f.name -> f.dataType).toMap
      val bad = s.filter(f => !have.get(f.name).contains(f.dataType))
      require(bad.isEmpty,
        s"$format at $path has missing or mistyped declared columns: " +
          bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    }
    df
  }

  /** CSV with declared schema + corrupt-record routing. `header = true`
    * drops lines that are byte-identical to the rendered header (a data
    * row that exactly equals the header text is indistinguishable from
    * one — declared-schema ingest does not re-infer per file).
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ",",
          strict: Boolean = false): Routed = {
    val withCorrupt = schema.add(CorruptCol, "string")
    val opts = Map(
      "mode" -> (if (strict) "FAILFAST" else "PERMISSIVE"),
      "columnNameOfCorruptRecord" -> CorruptCol,
      "delimiter" -> delimiter)
    val headerLine = if (header) Some(schema.fieldNames.mkString(delimiter)) else None
    parseLines(spark, path, schema,
      v => from_csv(v, withCorrupt, opts), headerLine)
  }

  /** JSON-lines with declared schema + corrupt-record routing. */
  def jsonLines(spark: SparkSession, path: String, schema: StructType,
                strict: Boolean = false): Routed = {
    val withCorrupt = schema.add(CorruptCol, "string")
    val opts = Map(
      "mode" -> (if (strict) "FAILFAST" else "PERMISSIVE"),
      "columnNameOfCorruptRecord" -> CorruptCol)
    parseLines(spark, path, schema,
      v => from_json(v, withCorrupt, opts), None)
  }

  /** Opaque binary payloads (images/audio/video — SURVEY B18): the
    * binaryFile source plus the engine's multimodal column conventions
    * (path, length, modTime, content) and a size guard — oversized blobs
    * are routed out BEFORE any decode stage maps over partitions, so one
    * 4 GiB asset cannot OOM a whole task of small ones.
    */
  def binaryFiles(spark: SparkSession, path: String,
                  pathGlob: String = "*",
                  maxBytes: Long = 64L * 1024 * 1024): Routed = {
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob)
      .load(path)
    Routed(
      good = df.filter(col("length") <= maxBytes),
      bad = df.filter(col("length") > maxBytes).drop("content"))
  }

  /** Avro object-container FILES under a declared reader schema — the
    * batch-file shape of the reference's `include_schema=True` Avro mode
    * (SURVEY A9: container mode ≡ `spark.read.format("avro")`, which
    * this image lacks a jar for — implemented on avro-1.12 directly,
    * like the serde). One binaryFile scan; each file's records decode in
    * a flatMap under the DECLARED schema with standard Avro resolution
    * against the file's embedded writer schema (defaulted additions
    * fill, removed fields drop), so readers keep working across producer
    * schema evolution.
    *
    * Scale shape: files are the parallelism unit (container files are
    * block-compressed multi-MB objects — the normal case); the binary
    * scan's `maxBytes` guard from [[binaryFiles]] applies upstream if
    * needed. A corrupt file fails the task loudly (FAILFAST semantics —
    * batch container ingest wants a hard stop, unlike per-record Kafka
    * payloads, which route to the DLQ via the serde's null path).
    */
  def avroContainer(spark: SparkSession, path: String,
                    avroSchemaJson: String,
                    pathGlob: String = "*"): DataFrame = {
    import graft.serde.AvroSerde
    val st = AvroSerde.sparkTypeOf(avroSchemaJson)
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", pathGlob)
      .load(path)
      .select(col("content"))
      .as(org.apache.spark.sql.Encoders.BINARY)
    files.flatMap(bytes => AvroSerde.containerRecords(bytes, avroSchemaJson))(
      org.apache.spark.sql.Encoders.row(st))
  }

  /** Text lines (one row per line) — the raw-document ingest shape. */
  def textLines(spark: SparkSession, path: String,
                wholeFile: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholeFile.toString).text(path)

  /** Declared-schema projection helper: select exactly the declared
    * columns (pruning reaches the scan) with a null-safety assertion on
    * non-nullable fields routed into a boolean flag column.
    */
  def conforming(df: DataFrame, schema: StructType): DataFrame = {
    val required: Seq[Column] = schema.filterNot(_.nullable)
      .map(f => col(f.name).isNotNull)
    val ok = required.foldLeft(lit(true))(_ && _)
    df.select(schema.map(f => col(f.name)) :+ ok.as("_conforms"): _*)
  }
}
