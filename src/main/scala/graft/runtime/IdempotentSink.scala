package graft.runtime

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Exactly-once-ish sink for foreachBatch: Spark's checkpoint gives
  * at-least-once, so a retried micro-batch re-runs the write. Guarding on
  * the (deterministically reproduced) batchId makes the write idempotent —
  * the standard upgrade from at-least-once to effectively-once for
  * non-transactional sinks (reference has nothing comparable; its
  * auto-commit loses in-flight records instead, SURVEY.md §2 A27).
  *
  * Markers are resolved through Hadoop `FileSystem`, so `markerDir` may be
  * any checkpoint-capable URI (`hdfs://`, `s3a://`, `file:/`) — put it on
  * the same durable storage as the streaming checkpoint so driver failover
  * still sees completed batches. Remaining window: a crash between the data
  * write and the marker create replays that one batch (duplicate append);
  * closing it fully needs a transactional/atomic-rename sink.
  */
object IdempotentSink {

  /** Run `write` once per batchId; replays skip. Completion markers live
    * under `markerDir`, resolved via the Hadoop filesystem for its scheme.
    */
  def writeOnce(markerDir: String, batchId: Long,
                hadoopConf: Configuration = new Configuration())(
                write: => Unit): Boolean = {
    val dir = new Path(markerDir)
    val fs = dir.getFileSystem(hadoopConf)
    fs.mkdirs(dir)
    val marker = new Path(dir, s"batch-$batchId.done")
    if (fs.exists(marker)) false
    else {
      write
      fs.create(marker, false).close()
      true
    }
  }
}
