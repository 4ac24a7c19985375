package graft.model

/** Inbound record shape of the stream-processing surface.
  *
  * Mirrors the reference's message model (kaflow `message.py:8-23`,
  * `testclient.py:45-57`): an inbound Kafka-shaped record with metadata.
  * In Spark this is the row type of the Kafka source DataFrame; the case
  * class gives the typed (`Dataset[KafkaRecordIn]`) view and the testkit
  * its input encoder. The outbound shape is the sink's own row
  * (`topic, key, value, headers`, see `graft.runtime.KafkaIO.sinkRows`).
  */
case class KafkaRecordIn(
    topic: String,
    partition: Int = 0,
    offset: Long = 0L,
    timestamp: Long = 0L, // epoch millis, as Kafka delivers
    timestampType: Int = 0,
    key: Array[Byte] = null,
    value: Array[Byte] = null,
    headers: Map[String, Array[Byte]] = null)

object KafkaRecordIn {
  /** Spark SQL schema of the Kafka source (with includeHeaders), normalized
    * to a map-typed headers column.
    */
  val schemaDdl: String =
    "topic STRING, partition INT, offset BIGINT, timestamp BIGINT, " +
      "timestampType INT, key BINARY, value BINARY, headers MAP<STRING, BINARY>"
}
