package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StructField, StructType}
import graft.runtime.Materialize

/** Distributed exact interpolated percentiles (SQL PERCENTILE_CONT).
  *
  * Spark's built-in `percentile` aggregate buffers every (value, count) of a
  * group on the single reducer that owns the group — with few groups (the
  * common "percentile per status flag" shape) that is a handful of reducers
  * swallowing the whole table, which cannot scale. This operator computes
  * bit-identical results with per-task memory bounded by the partition
  * size, in three fully-parallel passes:
  *
  *  1. (column, key, value) -> count: a hash aggregate (map-side partial
  *     combine) over the long form of every requested value column (one
  *     posexplode — the table is scanned ONCE no matter how many columns).
  *  2. Range-partition + sort that table by (column, key, value); collect
  *     ONLY the per-(partition, column, key) subtotals to the driver
  *     (O(partitions + groups) rows — the same order as the final result
  *     itself) and turn them into running rank offsets, broadcast back.
  *  3. One scan of the sorted table: with its partition's offset, each
  *     distinct value knows its global rank interval [lo, hi] within its
  *     group; a row is emitted ONLY if that interval contains a rank some
  *     requested percentile needs (floor/ceil of 1 + p*(n-1)) — at most
  *     2 * |ps| rows per group survive.
  *
  * The boundary rows then interpolate with exactly the arithmetic of
  * Spark's `Percentile.getPercentile` (`(hi - pos)*vLo + (pos - lo)*vHi`),
  * which the q50/q65 oracles show is bit-identical to DuckDB's
  * quantile_cont on raw-double inputs.
  */
object Percentiles {

  /** One value column, long output: (keyCol, p, value). */
  def percentileCont(df: DataFrame, keyCol: String, valueCol: String,
                     ps: Seq[Double]): DataFrame =
    percentileContLong(df, keyCol, Seq(valueCol -> ps))
      .drop("column")

  /** Weighted PERCENTILE_CONT: each row counts `weightCol` times — the
    * semantics of Spark's built-in `percentile(v, p, frequency)` (which
    * buffers whole groups on single reducers; this stays distributed).
    * Weights must be positive integers (cast to long); the machinery is
    * untouched because a weight is just a pre-aggregated duplicate count:
    * pass 1's count(1) becomes sum(w) and every rank downstream already
    * works on cumulative counts. Long output: (keyCol, p, value).
    */
  def percentileContWeighted(df: DataFrame, keyCol: String, valueCol: String,
                             weightCol: String, ps: Seq[Double]): DataFrame =
    percentileContLong(df, keyCol, Seq(valueCol -> ps),
      weightCol = Some(weightCol))
      .drop("column")

  /** Weighted PERCENTILE_DISC: smallest value whose cumulative weight
    * reaches rank max(1, ceil(p * totalWeight)).
    */
  def percentileDiscWeighted(df: DataFrame, keyCol: String, valueCol: String,
                             weightCol: String, ps: Seq[Double]): DataFrame =
    percentileContLong(df, keyCol, Seq(valueCol -> ps), disc = true,
      weightCol = Some(weightCol))
      .drop("column")

  /** PERCENTILE_DISC on the same machinery: the smallest value whose
    * cumulative distribution reaches p — rank max(1, ceil(p*n)), no
    * interpolation (matches DuckDB `quantile_disc` and Spark's
    * `percentile_disc`, parity-tested). Long output: (keyCol, p, value).
    */
  def percentileDisc(df: DataFrame, keyCol: String, valueCol: String,
                     ps: Seq[Double]): DataFrame =
    percentileContLong(df, keyCol, Seq(valueCol -> ps), disc = true)
      .drop("column")

  /** Sketched quantiles via the deterministic-compaction mergeable
    * summary ([[graft.functions.expressions.QuantileSketchAgg]]) — the
    * monitoring-scale form: one ≤ k·levels-double summary per group per
    * partition, map-side combined; values never range-partition (the
    * [[percentileDisc]] machinery's one shuffle of the full column). The
    * summary content is merge-order-dependent (all sketches but HLL
    * are), so oracle-checked consumers pair the estimates with exact
    * anchors (q195). Estimates follow the PERCENTILE_DISC rank rule.
    *
    * Output: (keyCol, p, est, n, n_levels), one row per (group, p).
    */
  def sketchQuantiles(df: DataFrame, keyCol: String, valueCol: String,
                      ps: Seq[Double], k: Int = 512): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agg = ColumnBridge.column(
      graft.functions.expressions.QuantileSketchAgg(
        ColumnBridge.expression(col(valueCol).cast("double")), k, ps)
        .toAggregateExpression())
    // the D suffix: bare 0.5 parses as DECIMAL in Spark SQL text
    val pArr = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    df.groupBy(col(keyCol)).agg(agg.as("__sk"))
      .filter(col("__sk").isNotNull)
      .select(col(keyCol), col("__sk.n").as("n"),
        col("__sk.n_levels").as("n_levels"),
        posexplode(col("__sk.ests")).as(Seq("__pi", "est")))
      .withColumn("p", element_at(expr(pArr), col("__pi") + 1))
      .select(col(keyCol), col("p"), col("est"), col("n"), col("n_levels"))
  }

  /** Multi-column wide PERCENTILE_DISC — one table pass, like
    * [[percentileContMultiWide]].
    */
  def percentileDiscMultiWide(df: DataFrame, keyCol: String,
      specs: Seq[(String, Seq[(Double, String)])]): DataFrame = {
    val long = percentileContLong(df, keyCol,
      specs.map { case (c, ps) => c -> ps.map(_._1) }, disc = true)
    val outs = specs.zipWithIndex.flatMap { case ((_, ps), ci) =>
      ps.map { case (p, name) =>
        max(when(col("column") === ci && col("p") === p, col("value"))).as(name)
      }
    }
    long.groupBy(col(keyCol)).agg(outs.head, outs.tail: _*)
  }

  /** Wide form for one value column: one row per key, one column per
    * requested percentile.
    */
  def percentileContWide(df: DataFrame, keyCol: String, valueCol: String,
                         ps: Seq[(Double, String)]): DataFrame =
    percentileContMultiWide(df, keyCol, Seq(valueCol -> ps))

  /** Multi-column wide form: every (valueCol, percentile) in ONE pass over
    * the table — one row per key, one output column per (col, p) name.
    */
  def percentileContMultiWide(df: DataFrame, keyCol: String,
      specs: Seq[(String, Seq[(Double, String)])]): DataFrame = {
    val long = percentileContLong(df, keyCol,
      specs.map { case (c, ps) => c -> ps.map(_._1) })
    val outs = specs.zipWithIndex.flatMap { case ((_, ps), ci) =>
      ps.map { case (p, name) =>
        max(when(col("column") === ci && col("p") === p, col("value"))).as(name)
      }
    }
    long.groupBy(col(keyCol)).agg(outs.head, outs.tail: _*)
  }

  /** Long output over any number of value columns:
    * (column index, keyCol, p, value). `disc = true` switches the target
    * rank from the interpolated pair (floor/ceil of 1 + p*(n-1)) to the
    * single PERCENTILE_DISC rank max(1, ceil(p*n)). Thin wrapper over
    * [[percentileMixedLong]] with a uniform mode.
    */
  def percentileContLong(df: DataFrame, keyCol: String,
      specs: Seq[(String, Seq[Double])], disc: Boolean = false,
      weightCol: Option[String] = None): DataFrame =
    percentileMixedLong(df, keyCol,
      specs.map { case (c, ps) => c -> ps.map(p => (p, disc)) }, weightCol)
      .drop("disc")

  /** The general form: every requested (percentile, mode) of every value
    * column in ONE pass over the table — CONT and DISC targets share the
    * same sorted counts, partition offsets, and boundary scan, so mixing
    * modes costs nothing extra. Long output:
    * (column index, keyCol, p, disc, value).
    */
  def percentileMixedLong(df: DataFrame, keyCol: String,
      specs: Seq[(String, Seq[(Double, Boolean)])],
      weightCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    require(specs.nonEmpty &&
      specs.forall(_._2.forall { case (p, _) => p >= 0.0 && p <= 1.0 }))

    // Pass 1: long form (one scan for all columns), then distinct-value
    // counts — weighted counts when a weight column is given (a weight IS
    // a duplicate count, so nothing downstream changes). Nulls ignored,
    // like the built-in.
    val arr = array(specs.map { case (vc, _) => col(vc).cast("double") }: _*)
    val w = weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val counts = df
      .select(col(keyCol).as("__k"), w.as("__w"), posexplode(arr).as(Seq("__c", "__v")))
      .filter(col("__v").isNotNull && col("__w") > 0L)
      .groupBy(col("__c"), col("__k"), col("__v"))
      .agg(sum(col("__w")).as("__n"))

    val nPart = spark.sessionState.conf.numShufflePartitions
    val sorted = counts
      .repartitionByRange(nPart, col("__c"), col("__k"), col("__v"))
      .sortWithinPartitions(col("__c"), col("__k"), col("__v"))
      .persist()

    // Pass 2: per-(partition, column, key) subtotals.
    val partials: Array[(Int, (Int, Any), Long)] = sorted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val sub = mutable.LinkedHashMap.empty[(Int, Any), Long]
        it.foreach { r =>
          val ck = (r.getInt(0), r.get(1))
          sub.update(ck, sub.getOrElse(ck, 0L) + r.getLong(3))
        }
        sub.iterator.map { case (ck, c) => (pid, ck, c) }
      }.collect()

    // Driver-side prefix sums (O(partitions + groups)) + target ranks.
    val offsets = mutable.HashMap.empty[(Int, (Int, Any)), Long]
    val totals = mutable.HashMap.empty[(Int, Any), Long]
    partials.sortBy(_._1).foreach { case (pid, ck, c) =>
      val sofar = totals.getOrElse(ck, 0L)
      offsets.update((pid, ck), sofar)
      totals.update(ck, sofar + c)
    }
    val psByCol: Map[Int, Seq[(Double, Boolean)]] = specs.zipWithIndex
      .map { case ((_, ps), i) => i -> ps }.toMap
    def ranksOf(p: Double, disc: Boolean, n: Long): Seq[Long] =
      if (disc) Seq(math.max(1L, math.ceil(p * n).toLong))
      else {
        val pos = 1.0 + p * (n - 1).toDouble
        Seq(math.floor(pos).toLong, math.ceil(pos).toLong)
      }
    val targetRanks: Map[(Int, Any), Array[Long]] = totals.iterator.map {
      case (ck, n) =>
        ck -> psByCol(ck._1)
          .flatMap { case (p, d) => ranksOf(p, d, n) }.distinct.sorted.toArray
    }.toMap
    val bOffsets = spark.sparkContext.broadcast(offsets.toMap)
    val bTargets = spark.sparkContext.broadcast(targetRanks)

    // Pass 3: emit only rank-boundary values.
    val keyField = sorted.schema.fields(1).copy(name = "__k")
    val boundaries = spark.createDataFrame(
      sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val offs = bOffsets.value
        val targets = bTargets.value
        var curKey: (Int, Any) = null
        var cum = 0L
        it.flatMap { r =>
          val ck = (r.getInt(0), r.get(1))
          if (curKey == null || ck != curKey) {
            curKey = ck
            cum = offs.getOrElse((pid, ck), 0L)
          }
          val c = r.getLong(3)
          val lo = cum + 1
          val hi = cum + c
          cum = hi
          val ranks = targets.getOrElse(ck, Array.empty[Long])
          ranks.iterator.filter(rk => rk >= lo && rk <= hi)
            .map(rk => Row(ck._1, ck._2, rk, r.getDouble(2)))
        }
      },
      StructType(Seq(
        StructField("__c", IntegerType, nullable = false),
        keyField,
        StructField("__rank", LongType, nullable = false),
        StructField("__bv", DoubleType, nullable = false))))

    // Distributed interpolation: targets as a (broadcastable) DataFrame.
    val targetRows = totals.iterator.flatMap { case (ck, n) =>
      psByCol(ck._1).map { case (p, d) =>
        if (d) {
          val r = math.max(1L, math.ceil(p * n).toLong)
          Row(ck._1, ck._2, p, d, r.toDouble, r, r) // rlo == rhi: no interpolation
        } else {
          val pos = 1.0 + p * (n - 1).toDouble
          Row(ck._1, ck._2, p, d, pos, math.floor(pos).toLong, math.ceil(pos).toLong)
        }
      }
    }.toSeq
    val targetsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(targetRows, 1),
      StructType(Seq(
        StructField("__c", IntegerType, nullable = false),
        keyField,
        StructField("p", DoubleType, nullable = false),
        StructField("disc", BooleanType, nullable = false),
        StructField("__pos", DoubleType, nullable = false),
        StructField("__rlo", LongType, nullable = false),
        StructField("__rhi", LongType, nullable = false))))

    // Materialize the boundary rows eagerly (at most 2|ps| per group — the
    // same order as the final result), then release the sorted table's
    // cache: library callers get a leak-free frame, and the already-eager
    // pass-2 collect means this adds no new laziness surprise.
    val boundariesChk = boundaries.transform(Materialize.seam)
    sorted.unpersist()

    // Null-SAFE key equality: groups with a NULL key are real groups (the
    // built-in percentile returns a row for them) and must survive the join.
    boundariesChk
      .join(broadcast(targetsDf.withColumnRenamed("__c", "__tc").withColumnRenamed("__k", "__tk")),
        col("__c") === col("__tc") && col("__k") <=> col("__tk"))
      .drop("__tc", "__tk")
      .filter(col("__rank") === col("__rlo") || col("__rank") === col("__rhi"))
      .groupBy(col("__c"), col("__k"), col("p"), col("disc"),
        col("__pos"), col("__rlo"), col("__rhi"))
      .agg(
        max(when(col("__rank") === col("__rlo"), col("__bv"))).as("__vlo"),
        max(when(col("__rank") === col("__rhi"), col("__bv"))).as("__vhi"))
      .select(col("__c").as("column"), col("__k").as(keyCol), col("p"), col("disc"),
        when(col("__rlo") === col("__rhi"), col("__vlo"))
          .otherwise(
            (col("__rhi") - col("__pos")) * col("__vlo") +
              (col("__pos") - col("__rlo")) * col("__vhi"))
          .as("value"))
  }
}
