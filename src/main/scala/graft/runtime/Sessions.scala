package graft.runtime

import org.apache.spark.sql.SparkSession

/** The engine's only session factory: the confs a graft deployment wants,
  * sized from the environment rather than hard-coded (SCALING.md). Tests,
  * Verify, Bench and the tools all get their session here, so the config
  * that is tested, verified, benched and shipped is one config, and every
  * session loads [[graft.GraftExtensions]].
  */
object Sessions {

  /** Local/driver-side session (tests, Verify, Bench). */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores))
      .getOrCreate()

  /** Cluster session builder: shuffle partitions sized to ~2-3 tasks per
    * core (AQE coalesces down), AQE + skew handling on, UTC timestamps,
    * RocksDB state store for streaming state that outgrows heap, and
    * parquet TIMESTAMP(NANOS) read as a raw long (`Tables.events`
    * truncates it to micros).
    */
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
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
