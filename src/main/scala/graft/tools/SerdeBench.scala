package graft.tools

import graft.runtime.Sessions
import org.apache.spark.sql.functions._

/** Dev measurement: native wire-decode expressions vs their UDF
  * reference codecs on synthesized payloads (the q201/q202 wire
  * recipes at row counts big enough to dominate fixed costs). Prints
  * one line per (format, path) with best-of-3 seconds. Not part of the
  * bench surface — a provenance tool for the BASELINE notes.
  */
object SerdeBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = Sessions.local(32, "graft-serdebench")
    spark.sparkContext.setLogLevel("WARN")

    val avro = graft.serde.AvroSerde(
      """{"type":"record","name":"rec","fields":[
         {"name":"key","type":"string"},{"name":"value","type":"string"}]}""")
    val pb = graft.serde.ProtobufSerde(Seq(
      graft.serde.PbField(1, "key", graft.serde.PbType.PbString),
      graft.serde.PbField(2, "value", graft.serde.PbType.PbString)))

    def payloads(avroFraming: Boolean) = {
      val base = spark.range(n)
        .select(col("id"),
          concat(lit("doc-"), col("id").cast("string")).as("k"),
          concat(lit("src"), (col("id") % 20).cast("string")).as("v"))
      if (avroFraming)
        base.select(col("id"), expr(
          "cast(concat(chr(length(k)*2), k, chr(length(v)*2), v) as binary)")
          .as("payload"))
      else
        base.select(col("id"), expr(
          "cast(concat(chr(10), chr(length(k)), k, chr(18), chr(length(v)), v) as binary)")
          .as("payload"))
    }

    def time(name: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"$name%-22s $secs%8.3f s   (${n / secs / 1e6}%6.1f M rec/s)")
    }

    val av = payloads(avroFraming = true)
    val pbp = payloads(avroFraming = false)
    time("avro_native", av.select(avro.deserialize(col("payload")).as("v"))
      .select(col("v.key"), col("v.value")))
    time("avro_udf", av.select(avro.deserializeUdf(col("payload")).as("v"))
      .select(col("v.key"), col("v.value")))
    time("pb_native", pbp.select(pb.deserialize(col("payload")).as("v"))
      .select(col("v.key"), col("v.value")))
    time("pb_udf", pbp.select(pb.deserializeUdf(col("payload")).as("v"))
      .select(col("v.key"), col("v.value")))
    spark.stop()
  }
}
