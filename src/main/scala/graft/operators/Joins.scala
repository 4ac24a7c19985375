package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks as single built-ins: as-of join and
  * range join. Both are implemented as shuffle-on-key + sort compositions —
  * no point-in-time cross join ever materializes, so they scale linearly in
  * rows per key partition.
  */
object Joins {

  /** As-of join: for each left row, the latest right row with
    * rightTs <= leftTs within the same key (nearest-prior match).
    *
    * Implementation: union the two sides tagged, sort within key by
    * (ts, side) with right rows first at equal ts, and propagate the last
    * non-null right payload with an unbounded-preceding window — a single
    * exchange + sort per side, O(n log n) per key partition, identical to
    * the merge phase of a sort-merge as-of join. Right rows with duplicate
    * (key, ts) should be pre-aggregated by the caller for deterministic
    * payloads.
    *
    * @param left     left DataFrame
    * @param right    right DataFrame
    * @param keys     equi-join key column names (present on both sides)
    * @param leftTs   event-time column name on the left
    * @param rightTs  event-time column name on the right
    * @param payload  right-side columns to carry; emitted as as-of_<name>
    * @return left rows + `asof_<payload>` columns (null when no prior match)
    */
  def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // Tag and align schemas: left keeps its columns, right contributes the
    // payload wrapped in a struct (so one last() propagates all of it).
    val rTagged = right.select(
      keys.map(col) ++ Seq(
        col(rightTs).as("__ts"),
        lit(1).as("__is_right"),
        struct(payload.map(col): _*).as("__pay")): _*)
    val lTagged = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("__ts"),
        lit(0).as("__is_right"),
        lit(null).cast(rTagged.schema("__pay").dataType).as("__pay"),
        struct(leftCols.map(col): _*).as("__row")): _*)
    val rAligned = rTagged.withColumn("__row",
      lit(null).cast(lTagged.schema("__row").dataType))
    val unioned = lTagged.select(
      (keys.map(col) ++ Seq(col("__ts"), col("__is_right"), col("__pay"), col("__row"))): _*)
      .unionByName(rAligned.select(
        (keys.map(col) ++ Seq(col("__ts"), col("__is_right"), col("__pay"), col("__row"))): _*))
    // Right rows sort before left rows at equal ts => "<=" as-of semantics.
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__is_right").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__asof", last(col("__pay"), ignoreNulls = true).over(w))
      .filter(col("__is_right") === 0)
    val outCols = leftCols.map(c => col(s"__row.$c").as(c)) ++
      payload.map(p => col(s"__asof.$p").as(s"asof_$p"))
    matched.select(outCols: _*)
  }

  /** Range join: pair left rows with right rows of the same key whose
    * timestamp falls in [leftTs + lo, leftTs + hi). Expressed as an
    * equi-join on the key (hash-partitioned; Catalyst plans SMJ/SHJ) with
    * the range as a residual predicate — scales with per-key density, not
    * |L|×|R|.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftTs: String, rightTs: String,
                lo: Column, hi: Column, joinType: String = "inner"): DataFrame = {
    val l = left.as("l")
    val r = right.as("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    val rangeCond = col(s"r.$rightTs") >= col(s"l.$leftTs") + lo &&
      col(s"r.$rightTs") < col(s"l.$leftTs") + hi
    l.join(r, keyCond && rangeCond, joinType)
  }

  /** As-of join through the engine's custom physical operator
    * (graft.plans.AsofJoinExec): each side exchanges+sorts independently
    * (same requirements as SMJ), then one forward merge pass with a single
    * buffered right row per key — no union-wide sort, no window state.
    * Output: left columns + `asof_<col>` for every right non-key column
    * (null when no prior right row exists). Rows with null keys/timestamps
    * on the right are dropped; left rows with null keys or a null timestamp
    * are kept and carry null matches (the exec checks the null slot instead
    * of reading it as epoch 0).
    */
  def asofMerge(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftTs: String, rightTs: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val spark = left.sparkSession
    val l = left.withColumn(leftTs, col(leftTs).cast("timestamp"))
    val r0 = right.withColumn(rightTs, col(rightTs).cast("timestamp"))
      .na.drop(keys :+ rightTs)
    val r1 = r0.select(r0.columns.map(c => col(c).as(c)).toIndexedSeq: _*) // fresh exprIds
    val r = keys.foldLeft(r1)((df, k) => df.withColumnRenamed(k, s"__r_$k"))

    val lp = ColumnBridge.logicalPlan(l)
    val rp = ColumnBridge.logicalPlan(r)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val planned = ColumnBridge.ofRows(spark, graft.plans.AsofJoin(
      lp, rp,
      keys.map(attr(lp, _)), keys.map(k => attr(rp, s"__r_$k")),
      attr(lp, leftTs), attr(rp, rightTs)))
    val payload = r.columns.filterNot(c => keys.map(k => s"__r_$k").contains(c))
    planned.select(
      left.columns.map(col).toIndexedSeq ++
        payload.map(c => col(c).as(s"asof_$c")): _*)
  }

  /** Range join through the engine's custom physical operator
    * (graft.plans.RangeJoinExec): both sides hash-partitioned on the key
    * and sorted by (key, ts); a sliding two-pointer window emits exactly
    * the in-range pairs — O(|L|+|R|+|output|) per partition instead of
    * filter-after-join. Inner join; rows with null keys/timestamps are
    * dropped (they can never match). Timestamps must be castable to
    * TimestampType.
    *
    * This is the full custom-operator ladder (logical node → strategy →
    * exec) reserved for semantics Spark's built-ins can't plan optimally
    * (SURVEY.md §2 B4); results are asserted identical to [[rangeJoin]]
    * in OperatorsSpec.
    */
  def rangeJoinMerge(left: DataFrame, right: DataFrame, keys: Seq[String],
                     leftTs: String, rightTs: String,
                     loMicros: Long, hiMicros: Long): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val spark = left.sparkSession
    require(keys.nonEmpty, "range join requires at least one key column")
    val overlap = right.columns.toSet intersect left.columns.toSet
    require(overlap.isEmpty || keys.toSet.subsetOf(overlap),
      s"ambiguous non-key columns on both sides: ${overlap -- keys}")

    def prep(df: DataFrame, ts: String, realias: Boolean): DataFrame = {
      val cast = df.withColumn(ts, col(ts).cast("timestamp"))
        .na.drop(keys :+ ts)
      // fresh exprIds so self-joins don't alias the same attributes
      if (realias) cast.select(cast.columns.map(c => col(c).as(c)).toIndexedSeq: _*)
      else cast
    }
    val l = prep(left, leftTs, realias = false)
    val r0 = prep(right, rightTs, realias = true)
    // rename right-side key columns to avoid duplicate names in the output
    val r = keys.foldLeft(r0)((df, k) => df.withColumnRenamed(k, s"__r_$k"))

    val lp = ColumnBridge.logicalPlan(l)
    val rp = ColumnBridge.logicalPlan(r)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    ColumnBridge.ofRows(spark, graft.plans.RangeJoin(
      lp, rp,
      keys.map(attr(lp, _)), keys.map(k => attr(rp, s"__r_$k")),
      attr(lp, leftTs), attr(rp, rightTs),
      loMicros, hiMicros))
  }

  /** Bloom-filter runtime prefilter: prune `big` down to rows whose
    * `bigKey` MIGHT appear in `small`'s `smallKey` set, BEFORE the join
    * shuffle. This is the manual form of Spark's own runtime-filter
    * injection (which only fires on selective equi-joins it can cost):
    * at 100 TB the win is that non-matching rows never enter the big
    * side's exchange — only `fpp` of them survive as false positives,
    * and a subsequent exact join removes those, so composing
    * `bloomPrefilter` + join is RESULT-IDENTICAL to the plain join.
    *
    * The filter is built with one map-side-combinable aggregate over the
    * build side (Spark's `BloomFilterAggregate`, the expression behind
    * `spark.sql.optimizer.runtime.bloomFilter.*`), collected to the driver
    * (`numBits/8` bytes — sized by `expectedItems`, NOT by the build side's
    * row width) and shipped back as a literal, exactly how broadcast
    * runtime filters move. An empty build side yields a null filter;
    * `might_contain(null, x)` is null, so every big-side row is dropped —
    * the correct prefilter for an empty key set.
    *
    * @param expectedItems expected distinct build keys (sizes the filter)
    * @param numBits       bloom bits; default 8 bits/key ≈ 2% fpp
    */
  def bloomPrefilter(big: DataFrame, bigKey: Column,
                     small: DataFrame, smallKey: Column,
                     expectedItems: Long = 1000000L,
                     numBits: Long = 8L * 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    val agg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(smallKey)),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bf = small.agg(agg.as("bf")).head.getAs[Array[Byte]](0)
    big.filter(ColumnBridge.column(
      BloomFilterMightContain(Literal(bf, BinaryType),
        ColumnBridge.expression(xxhash64(bigKey)))))
  }

  /** Lazy form of [[bloomPrefilter]]: the bloom build is a SCALAR SUBQUERY
    * inside the probe plan (the same shape Spark's own
    * InjectRuntimeFilter emits), so nothing executes at plan-build time —
    * the filter materializes when the query runs, and the whole pipeline
    * stays one optimizable plan (AQE reuse, cancellation, EXPLAIN all see
    * it). Prefer this in library code; the eager form remains for
    * interactive sizing (it surfaces the filter bytes immediately).
    */
  def bloomPrefilterLazy(big: DataFrame, bigKey: Column,
                         small: DataFrame, smallKey: Column,
                         expectedItems: Long = 1000000L,
                         numBits: Long = 8L * 1000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val agg = ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(smallKey)),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val buildPlan = ColumnBridge.logicalPlan(small.agg(agg.as("bf")))
    big.filter(ColumnBridge.column(
      BloomFilterMightContain(ScalarSubquery(buildPlan),
        ColumnBridge.expression(xxhash64(bigKey)))))
  }

  /** Broadcast interval-lookup join — the IP-geolocation / price-bracket
    * / time-zone enrichment shape: probe each fact row's long value
    * against a bounded table of sorted, non-overlapping [lo, hi)
    * intervals. The naive plan is a broadcast nested-loop theta join
    * (O(intervals) tests per row — 10¹² rows x 10⁶ intervals never
    * finishes); this operator collects the dimension ONCE (size-capped,
    * validated: lo < hi, sorted, non-overlapping — loud on violation),
    * ships the bounds as plan reference objects (the bloom-filter
    * pattern), resolves each row to an interval index with an O(log m)
    * codegen'd binary search ([[graft.functions.expressions.IntervalLookup]]),
    * and attaches the dimension payload with an ordinary broadcast
    * equi-join on that index. Rows outside every interval keep null
    * payload (left join).
    *
    * Output: fact columns + `interval_idx` (null when unmatched) + the
    * dimension's non-bound columns.
    */
  def intervalLookup(fact: DataFrame, value: Column, dim: DataFrame,
                     loCol: String, hiCol: String,
                     maxIntervals: Int = 2000000): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rows = dim.select((col(loCol).cast("long").as("__lo") +:
        col(hiCol).cast("long").as("__hi") +:
        dim.columns.filterNot(c => c == loCol || c == hiCol).map(col).toSeq): _*)
      .collect()
    require(rows.length <= maxIntervals,
      s"interval dimension has ${rows.length} rows, cap is $maxIntervals " +
        "(raise maxIntervals if the driver can hold it)")
    val sorted = rows.sortBy(_.getLong(0))
    sorted.foreach { r =>
      require(r.getLong(0) < r.getLong(1),
        s"empty/inverted interval [${r.getLong(0)}, ${r.getLong(1)})")
    }
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        require(a.getLong(1) <= b.getLong(0),
          s"overlapping intervals at lo=${a.getLong(0)} and lo=${b.getLong(0)}")
      case _ =>
    }
    val los = sorted.map(_.getLong(0))
    val his = sorted.map(_.getLong(1))
    val idx = ColumnBridge.column(graft.functions.expressions.IntervalLookup(
      ColumnBridge.expression(value.cast("long")), los, his))
    val spark = fact.sparkSession
    val payloadCols = dim.columns.filterNot(c => c == loCol || c == hiCol).toSeq
    val dimIdx = spark.createDataFrame(
      spark.sparkContext.parallelize(sorted.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(i +: r.toSeq.drop(2))
      }.toSeq, 1),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("interval_idx",
          org.apache.spark.sql.types.IntegerType, nullable = false) +:
          payloadCols.map(c => dim.schema(c))))
    fact.withColumn("interval_idx", when(idx >= 0, idx))
      .join(broadcast(dimIdx), Seq("interval_idx"), "left")
  }

  /** Skew-safe equi-join by key salting: scatter each left row to one of
    * `salts` sub-keys and replicate the right side once per sub-key, so a
    * hot join key's rows spread across `salts` reducer tasks instead of
    * hammering one. The salt is internal — the output is RESULT-IDENTICAL
    * to `left.join(right, keys, joinType)` (spec-pinned), because every
    * left row joins exactly one replica of each matching right row.
    *
    * When to reach for it at 100 TB: AQE's skew-join split
    * (`spark.sql.adaptive.skewJoin`) already handles skew it can SEE —
    * oversized post-shuffle partitions split across tasks. What it cannot
    * fix is a single mega-key arriving from few map tasks, or skew hidden
    * behind a later stage; salting moves the fix to plan time. The cost is
    * a `salts`-way replication of the right side, so this is for the
    * middle regime: right side too big to broadcast, small enough to ship
    * `salts` copies (e.g. a 10 GB dimension at salts=8 on a 1000-executor
    * cluster). For small dims, `broadcast()` already sidesteps the
    * shuffle entirely; for two huge skewed facts, use AQE.
    *
    * The left row's salt is a deterministic hash of the WHOLE row, not of
    * the key (hashing only the key would send a hot key's rows to one
    * salt again, accomplishing nothing). Fully duplicate left rows share
    * a salt — the multiset result is unchanged; only their spread is.
    *
    * Supported join types: inner / left / left_semi / left_anti — types
    * where each left row matches against the full right key set exactly
    * once. Right/full outer would emit each unmatched right row `salts`
    * times; rejected loudly.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salts: Int, joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "salted join requires at least one key column")
    require(salts > 0, s"salts must be positive, got $salts")
    val allowed = Set("inner", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "left_anti", "leftanti")
    require(allowed.contains(joinType.toLowerCase),
      s"saltedJoin supports left-preserving joins only, got $joinType " +
        "(right/full outer would duplicate unmatched right rows)")
    require(!left.columns.contains("__salt") && !right.columns.contains("__salt"),
      "saltedJoin reserves the __salt column name; rename it on the inputs")
    val leftCols = left.columns.toSeq
    val l = left.withColumn("__salt",
      pmod(xxhash64(struct(leftCols.map(col): _*)), lit(salts)).cast("int"))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    val out = l.join(r, keys :+ "__salt", joinType).drop("__salt")
    // left_semi/anti keep only left columns; others keep the join's output
    out
  }
}
