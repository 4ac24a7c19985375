package graft

import graft.tools.GenData
import org.apache.spark.sql.functions.col

/** `Tables` owns the table format: each declared schema is exactly what
  * parquet inference reads from the driver testdata and from GenData's
  * output, and a column in an encoding Spark cannot read as its declared
  * type fails the scan naming the column.
  */
class TablesSpec extends SparkSpec {

  /** One line per table whose footer schema differs from its declared one. */
  private def mismatches(dir: String): Seq[String] = Tables.names.flatMap { name =>
    val footer = spark.read.parquet(s"$dir/$name.parquet").schema
    val declared = Tables.schema(name)
    if (footer == declared) None
    else Some(s"$name: declared ${declared.toDDL}; footer ${footer.toDDL}")
  }

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"declared schemas equal the footer schemas of the $sf testdata") {
      val diff = mismatches(s"/root/testdata/$sf")
      assert(diff.isEmpty, diff.mkString("\n"))
    }

  test("GenData writes every table in its declared schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gendata").toString
    val tables = GenData.tables(spark, scale = 1, skew = false)
    assert(tables.map(_._1) == Tables.names)
    tables.foreach { case (name, df) => df.limit(3).write.parquet(s"$dir/$name.parquet") }
    val diff = mismatches(dir)
    assert(diff.isEmpty, diff.mkString("\n"))
    // ts drawn in ns over 30 days from 2024-01-01 UTC, truncated to micros
    val ts = Tables.events(spark, dir).select(col("ts").cast("long")).collect().map(_.getLong(0))
    assert(ts.length == 3 && ts.forall(t => t >= 1704067200L && t < 1704067200L + 30L * 86400))
  }

  test("events.ts as int64 nanoseconds (GenData's old encoding) fails the scan naming ts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_events_ns").toString
    spark.range(3).select(col("id").as("event_id"),
      (col("id") + 1704067200L * 1000000000L).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[Exception](Tables.events(spark, dir).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains("[ts]"), messages)
  }
}
