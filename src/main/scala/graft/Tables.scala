package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated TPC-H-ish testdata (TESTDATA.md).
  *
  * All queries go through here so scan options stay in one place. The tables
  * are plain parquet; at 100 TB these would be partitioned/bucketed table
  * paths, and this is the single seam where that changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** The events table's `ts` encoding has varied across driver testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark reads as a raw
    * long under the legacy conf, then we truncate ns→us — the same
    * truncation DuckDB applies on `CAST(ts AS TIMESTAMP)`), or a plain
    * TIMESTAMP(MICROS) (read natively, possibly as NTZ). The legacy conf
    * (`spark.sql.legacy.parquet.nanosAsLong`) is set by
    * [[graft.runtime.Sessions]] with the rest of the session. Normalize both
    * to the session-zone TIMESTAMP the rest of the library expects;
    * check_oracle.py applies the matching normalization on the DuckDB
    * side, keeping oracle parity either way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // Micros-encoded file: NTZ→LTZ cast in the UTC session is a
        // wall-clock no-op; keeps the column type identical across
        // testdata generations.
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
