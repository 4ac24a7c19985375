package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode}

/** Streaming approximate-nearest-neighbor — the incremental form of the
  * batch IVF path (operators.Similarity.ivfTopKFixed), for "which recently
  * ingested embeddings is this new one similar to?" at ingest time.
  *
  * Shape: each record is assigned its `nprobe` nearest coarse-quantizer
  * cells NARROWLY (distance/sort/slice over the centroid literal — no
  * shuffle, append-mode safe); a transformWithState processor keyed by the
  * cell id holds the vectors stored in that cell (ListState). A new
  * arrival scores exact cosine against its probed cells' members and
  * emits the hits with `cosine >= minCosine` (top `k` per cell). The
  * record is STORED only in its own (rank-1) cell — probes read, the home
  * cell writes — mirroring how a batch IVF index stores each vector once
  * but queries fan out.
  *
  * Cross-cell global top-k (when nprobe > 1) is one tiny downstream
  * aggregation over the emitted hits ([[graft.operators.TopK.perGroupAgg]]
  * keyed by queryId) — kept out of the processor so per-cell state stays
  * independent and shuffle-free.
  *
  * State hygiene at scale (same story as [[NearDupStream]]):
  *  - per-cell membership cap (`maxPerCell`): a degenerate cell cannot
  *    grow state without bound — beyond the cap new arrivals still score
  *    against the stored sample but are not stored, so state is at most
  *    `maxPerCell` members per cell (RocksDB).
  */
object AnnStream {

  case class CellVec(cell: Long, store: Boolean, vecId: Long, vec: Seq[Double])
  case class StoredVec(vecId: Long, vec: Seq[Double])
  case class NeighborHit(queryId: Long, neighborId: Long, cell: Long, cosine: Double)

  class CellProcessor(maxPerCell: Int, minCosine: Double, k: Int)
      extends StatefulProcessor[Long, CellVec, NeighborHit] {
    @transient private var members: ListState[StoredVec] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[StoredVec]("members", Encoders.product[StoredVec],
        TTLConfig.NONE)

    private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }

    override def handleInputRows(cell: Long, rows: Iterator[CellVec],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[NeighborHit] = {
      val stored = ArrayBuffer.empty[StoredVec]
      members.get().foreach(stored += _)
      val out = ArrayBuffer.empty[NeighborHit]
      rows.foreach { r =>
        val scored = stored.iterator
          .filter(_.vecId != r.vecId)
          .map(s => (s.vecId, cosine(r.vec, s.vec)))
          .filter(_._2 >= minCosine)
          .toArray
        // deterministic per-cell top-k: best cosine, ties to lowest id
        java.util.Arrays.sort(scored, Ordering.by((p: (Long, Double)) => (-p._2, p._1)))
        scored.iterator.take(k).foreach { case (nid, cos) =>
          out += NeighborHit(r.vecId, nid, cell, cos)
        }
        if (r.store && stored.length < maxPerCell) {
          val s = StoredVec(r.vecId, r.vec)
          stored += s
          members.appendValue(s)
        }
      }
      out.iterator
    }
  }

  /** Wire the per-cell processor onto a streaming (or batch) embedding
    * frame. `centroids` is the offline-trained coarse quantizer as
    * (cell, cv) rows — collected once into a literal, exactly like
    * [[graft.operators.Similarity.ivfTopKFixed]]. Emits per-cell neighbor
    * hits in Append mode; global top-k across probed cells is a downstream
    * aggregation.
    */
  /** Cross-cell global top-k over the hit stream, per micro-batch: when
    * `nprobe > 1` a query's hits span cells, and chaining a second
    * stateful aggregation behind transformWithState is restricted without
    * event time — so the composition runs inside `foreachBatch`, where
    * each micro-batch is a plain DataFrame and the k-bounded
    * [[graft.operators.TopK.perGroupAgg]] applies as-is. `sink` receives
    * (queryId, rank, neighborId, cosine) per batch; hits for a query
    * arrive within one batch (the processor emits them together), so
    * per-batch top-k IS the query's global top-k.
    */
  def globalTopK(hits: Dataset[NeighborHit], k: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    hits.toDF().writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val ranked = graft.operators.TopK
        .perGroupAgg(batch, Seq("queryId"), col("cosine"), col("neighborId"), k)
        .select(col("queryId"), col("rn").as("rank"),
          col("id").as("neighborId"), col("value").as("cosine"))
      sink(ranked, id)
    }
  }

  def neighbors(vecs: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String,
                k: Int = 10, nprobe: Int = 1,
                maxPerCell: Int = 4096,
                minCosine: Double = -1.0): Dataset[NeighborHit] = {
    import vecs.sparkSession.implicits._
    import graft.functions.VectorFunctions.toDouble
    val cents: Seq[(Long, Seq[Double])] = centroids
      .select(col("cell").cast("long"), toDouble(col("cv")))
      .orderBy(col("cell"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val centArr = typedLit(cents)

    // Narrow nprobe-nearest cells: d = <c,c> - 2<v,c> per centroid (the
    // ivfTopKFixed arithmetic), sorted ascending, first nprobe sliced out.
    // struct sort order = field order, so ties break to the lowest cell id.
    import graft.functions.VectorFunctions.dot
    val dists = transform(centArr, c => struct(
      (dot(c.getField("_2"), c.getField("_2"))
        - lit(2.0) * dot(col(vecCol), c.getField("_2"))).as("d"),
      c.getField("_1").as("cell")))
    val probed = slice(array_sort(dists), 1, nprobe)

    vecs
      .select(col(idCol).cast("long").as("vecId"),
        toDouble(col(vecCol)).as("vec"),
        posexplode(probed).as(Seq("pos", "probe")))
      .select(col("probe.cell").as("cell"), (col("pos") === 0).as("store"),
        col("vecId"), col("vec"))
      .as[CellVec]
      .groupByKey(_.cell)
      .transformWithState(new CellProcessor(maxPerCell, minCosine, k),
        TimeMode.None(), OutputMode.Append())
  }
}
