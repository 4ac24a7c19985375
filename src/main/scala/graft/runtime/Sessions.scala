package graft.runtime

import org.apache.spark.sql.SparkSession

/** The engine's only session factory: the confs a graft deployment wants,
  * sized from the environment rather than hard-coded (SCALING.md). Tests,
  * Verify, Bench and the tools all get their session here, so the config
  * that is tested, verified, benched and shipped is one config, and every
  * session loads [[graft.GraftExtensions]].
  */
object Sessions {

  /** Local/driver-side session (tests, Verify, Bench).
    *
    * Streaming checkpoints commit through Spark's
    * `FileSystemBasedCheckpointFileManager` (write a temp file, rename it)
    * instead of the default `FileContextBasedCheckpointFileManager`. On a
    * `file:` checkpoint without native Hadoop, the default's rename asks
    * `RawLocalFileSystem` for link status, which forks a `readlink` per
    * path it resolves: 10 processes and ~31 ms per metadata write, against
    * ~7 ms here, and a micro-batch makes up to three such writes (source,
    * offset and commit logs). Both managers write the same files and
    * `.crc`s, so a checkpoint written under either restores under the
    * other, and a second write of a batch's log file still fails.
    */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"))
      .getOrCreate()

  /** Cluster session builder: shuffle partitions sized to ~2-3 tasks per core (AQE
    * coalesces down), AQE + skew handling on, UTC timestamps, and the RocksDB state
    * store for streaming state that outgrows heap. It keeps Spark's default
    * checkpoint manager: HDFS and object-store checkpoints do not fork
    * processes to rename, and the switch in [[local]] was measured on
    * local disk only. */
  def clusterBuilder(executors: Int, coresPerExecutor: Int): SparkSession.Builder =
    configure(SparkSession.builder()
      .config("spark.sql.shuffle.partitions", executors * coresPerExecutor * 2))

  private def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
}
