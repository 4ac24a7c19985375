package graft.runtime

import org.apache.spark.sql.DataFrame

/** Table-layout helpers for the 100 TB lake: bucketed writes so
  * downstream joins/aggregations on the bucket key are co-located (no
  * exchange), compacted writes, and Z-ordered writes for data skipping.
  *
  * On the testdata these wrap plain parquet dirs; on a real deployment the
  * same calls target the warehouse. Bucketed writes require `saveAsTable`
  * (bucket metadata lives in the catalog).
  */
object TableLayout {

  /** Save as a bucketed (+ sorted) catalog table: joins and aggregations on
    * `bucketCols` between same-bucketed tables plan with zero exchange.
    */
  def saveBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                   numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    ws.format("parquet").saveAsTable(table)
  }

  /** Compacting write: bounds both the partition count (repartition) and
    * rows per output file (maxRecordsPerFile) — the two knobs that stop a
    * 100 TB table from becoming millions of KiB-sized files (metadata
    * death) or a handful of multi-GiB ones (no scan parallelism).
    */
  def writeCompacted(df: DataFrame, path: String, numFiles: Int,
                     maxRecordsPerFile: Long = 0L): Unit = {
    val w = df.repartition(numFiles).write.mode("overwrite")
    val wo = if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile) else w
    wo.parquet(path)
  }

  /** Z-order-clustered write: range-partition then sort within partitions
    * by the interleaved-bit key of `cols` (graft.functions.Layout), so
    * rows close in the multi-dimensional key space land in the same files
    * and min/max footer stats prune scans filtered on ANY prefix of the
    * dimensions — the lakehouse data-skipping layout, from public
    * Z-order/space-filling-curve literature.
    */
  def writeZOrdered(df: DataFrame, path: String,
                    cols: Seq[String], numFiles: Int, bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.col
    val zkey = graft.functions.Layout.interleaveBitsN(cols.map(col), bits)
    df.withColumn("__zkey", zkey)
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }
}
