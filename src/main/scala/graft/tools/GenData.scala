package graft.tools

import graft.Tables
import graft.runtime.Sessions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for scale testing beyond the
  * driver-shipped sf0.1 (same table shapes as TESTDATA.md; values are
  * hash-derived from ids, so every run is identical). Used for the
  * BASELINE.md §8 sf1 scaling measurements:
  *
  *   sbt "runMain graft.tools.GenData /tmp/graft_sf1 10"
  *
  * writes the ten tables at `scale`× the sf0.1 row counts. Everything is
  * expression-only (codegen end to end) — 6M-row lineitem generates in
  * seconds on local[32]. Every table is cast to its declared schema in
  * [[graft.Tables]] (`events.ts` is drawn in ns and truncated to micros), so
  * generated and driver files share one parquet schema.
  *
  * A third argument `skew` opts into planted hot keys (the stress
  * fixtures VERDICT r4 asked for — uniform synthetic data never
  * exercises the skew paths):
  *   - events: ONE user (id 7) owns ~20% of all events (sessionize /
  *     sequence-window stress);
  *   - documents: every document carries the same 5-token boilerplate
  *     banner (the hottest possible phrase id for boilerplateStats) and
  *     a single token repeated so it makes up ~30% of the whole token
  *     stream (heavy-hitter / vocabulary-coverage stress).
  *
  * Independent of `skew`, ~1-in-500 embedding vectors are "semantic
  * outliers": near-one-hot on a per-outlier-unique dimension, so they
  * sit far (cosine << 0.3) from every cluster direction. Their ids are
  * multiples of 500, hence of 10 — they land in the FRESH slice of the
  * incremental-SemDeDup convention (q97/q130: id % 10 = 0) and survive
  * dedup, keeping the q130 scale check non-trivial at every scale
  * (VERDICT r4 #5: the r4 sf1 run was green on an empty answer).
  */
object GenData {

  private def h(cols: org.apache.spark.sql.Column*) = xxhash64(cols: _*)
  /** Uniform [0,1) double derived from a hash — deterministic rand(). */
  private def u(cols: org.apache.spark.sql.Column*) =
    (pmod(h(cols: _*), lit(1000000L)).cast("double") / 1000000.0)

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val scale = if (args.length > 1) args(1).toInt else 10 // ×sf0.1
    val skew = args.length > 2 && args(2) == "skew"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus, "graft-gendata")
    spark.sparkContext.setLogLevel("WARN")
    for ((name, df) <- tables(spark, scale, skew)) {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gendata] $name written")
    }
    println(s"[gendata] done -> $outDir (scale ${scale}x sf0.1)")
    spark.stop()
  }

  /** The ten tables at `scale`× the sf0.1 row counts in their declared schemas. */
  def tables(spark: SparkSession, scale: Int, skew: Boolean): Seq[(String, DataFrame)] = {
    def ids(n: Long, name: String) =
      spark.range(0, n, 1, 32).withColumnRenamed("id", name)

    val segs = array(Seq("MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE",
      "AUTOMOBILE").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map(lit): _*)
    val types = array(Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO",
      "MEDIUM").map(lit): _*)
    val adjs = array(Seq("large", "hot", "blue", "small", "dark", "quick",
      "pale", "round").map(lit): _*)
    val nouns = array(Seq("ring", "bolt", "wheel", "plate", "cog", "pin",
      "valve", "gear").map(lit): _*)
    val evTypes = array(Seq("view", "click", "signup", "purchase", "error")
      .map(lit): _*)
    val langs = array(Seq("en", "de", "fr", "es", "zh").map(lit): _*)
    def pick(arr: org.apache.spark.sql.Column, seed: org.apache.spark.sql.Column*) =
      element_at(arr, (pmod(h(seed: _*), size(arr).cast("long")) + 1).cast("int"))

    val region = spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      concat(lit("REGION_"), col("id")).as("r_name"))

    val nation = spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

    val nCust = 15000L * scale
    val customer = ids(nCust, "c_custkey").select(col("c_custkey"),
      format_string("Customer#%09d", col("c_custkey")).as("c_name"),
      pmod(h(col("c_custkey"), lit(1)), lit(25L)).cast("int").as("c_nationkey"),
      round(u(col("c_custkey"), lit(2)) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      pick(segs, col("c_custkey"), lit(3)).as("c_mktsegment"))

    val nSupp = 1000L * scale
    val supplier = ids(nSupp, "s_suppkey").select(col("s_suppkey"),
      format_string("Supplier#%09d", col("s_suppkey")).as("s_name"),
      pmod(h(col("s_suppkey"), lit(4)), lit(25L)).cast("int").as("s_nationkey"),
      round(u(col("s_suppkey"), lit(5)) * 11000.0 - 1000.0, 2).as("s_acctbal"))

    val nPart = 20000L * scale
    val part = ids(nPart, "p_partkey").select(col("p_partkey"),
      concat_ws(" ", pick(adjs, col("p_partkey"), lit(6)),
        pick(nouns, col("p_partkey"), lit(7))).as("p_name"),
      concat(lit("Brand#"),
        pmod(h(col("p_partkey"), lit(8)), lit(25L)) + 1).as("p_brand"),
      pick(types, col("p_partkey"), lit(9)).as("p_type"),
      (pmod(h(col("p_partkey"), lit(10)), lit(50L)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u(col("p_partkey"), lit(11)) * 99.9, 2).as("p_retailprice"))

    // orders: dates are whole days over 1995-01-01 .. 2001-08-01 (~2400 d)
    val nOrd = 150000L * scale
    val orders = ids(nOrd, "o_orderkey").select(col("o_orderkey"),
      pmod(h(col("o_orderkey"), lit(12)), lit(nCust)).as("o_custkey"),
      // status skew like TPC-H: ~half F, ~half O, few P
      when(u(col("o_orderkey"), lit(13)) < 0.48, "F")
        .when(u(col("o_orderkey"), lit(13)) < 0.96, "O")
        .otherwise("P").as("o_orderstatus"),
      round(lit(1000.0) + u(col("o_orderkey"), lit(14)) * 499000.0, 2)
        .as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"),
        pmod(h(col("o_orderkey"), lit(15)), lit(2400L)).cast("int")).as("o_orderdate"),
      pick(prios, col("o_orderkey"), lit(16)).as("o_orderpriority"))

    // lineitem: 1..7 lines per order (avg 4) via explode
    val li = orders.select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1),
          (pmod(h(col("o_orderkey"), lit(17)), lit(7L)) + 1).cast("int"))))
    val lineitem = li.select(col("o_orderkey").as("l_orderkey"),
      pmod(h(col("o_orderkey"), col("l_linenumber"), lit(18)), lit(nPart))
        .as("l_partkey"),
      pmod(h(col("o_orderkey"), col("l_linenumber"), lit(19)), lit(nSupp))
        .as("l_suppkey"),
      col("l_linenumber"),
      (pmod(h(col("o_orderkey"), col("l_linenumber"), lit(20)), lit(50L)) + 1).as("l_quantity"),
      round(lit(900.0) +
        u(col("o_orderkey"), col("l_linenumber"), lit(21)) * 104100.0, 2)
        .as("l_extendedprice"),
      (pmod(h(col("o_orderkey"), col("l_linenumber"), lit(22)), lit(11L))
        .cast("double") / 100.0).as("l_discount"),
      (pmod(h(col("o_orderkey"), col("l_linenumber"), lit(23)), lit(9L))
        .cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("R"), lit("N"), lit("A")),
        (pmod(h(col("o_orderkey"), col("l_linenumber"), lit(24)), lit(3L)) + 1)
          .cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pmod(h(col("o_orderkey"), col("l_linenumber"), lit(25)), lit(2L)) + 1)
          .cast("int")).as("l_linestatus"),
      date_add(col("o_orderdate"), (pmod(h(col("o_orderkey"), col("l_linenumber"), lit(26)),
        lit(95L)) + 1).cast("int")).as("l_shipdate"))

    // events: ns ts over 30 days, truncated to micros; Zipf-ish user skew via squaring
    val nEv = 100000L * scale
    val nUsers = 1500L * scale
    val epochNs = lit(1704067200L) * 1000000000L // 2024-01-01 UTC
    val tsNs = epochNs + pmod(h(col("event_id"), lit(27)), lit(30L * 86400)) * 1000000000L +
      pmod(h(col("event_id"), lit(28)), lit(1000000000L))
    val events = ids(nEv, "event_id").select(col("event_id"),
      timestamp_micros(call_function("div", tsNs, lit(1000L))).as("ts"),
      // square a uniform to concentrate events on low user ids (hot
      // users); under `skew`, user 7 additionally owns ~20% of ALL
      // events — the single-partition stress for per-user windows
      (if (skew)
        when(u(col("event_id"), lit(40)) < 0.2, lit(7L))
          .otherwise((pow(u(col("event_id"), lit(29)), 2.0) * nUsers).cast("long"))
      else
        (pow(u(col("event_id"), lit(29)), 2.0) * nUsers).cast("long"))
        .as("user_id"),
      pick(evTypes, col("event_id"), lit(30)).as("event_type"),
      round(pow(u(col("event_id"), lit(31)), 3.0) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}",
        pmod(h(col("event_id"), lit(32)), lit(100L))).as("props"))

    // documents: ~40-90 tokens from the driver files' EXACT 30-word
    // vocabulary (token-frequency audit of sf0.1/documents.parquet —
    // uniform over these 30, including the stopwords "the"/"a" that the
    // Gopher-style gates key on; an earlier vocab without them made
    // every stopword gate empty at sf1, turning q147's scale check
    // vacuous). id%50==49 is an EXACT dup of id-1, id%20==19 (and not
    // %50==49) a NEAR dup (one token appended) — dedup/LSH fodder.
    val vocab = array(Seq("spark", "window", "merge", "table", "column",
      "vector", "stream", "value", "data", "small", "join", "filter", "big",
      "group", "hash", "customer", "sort", "order", "slow", "line", "part",
      "fast", "the", "row", "agg", "key", "query", "a", "scan", "batch")
      .map(lit): _*)
    val nDoc = 5000L * scale
    val base = ids(nDoc, "doc_id")
      .withColumn("seed_id",
        when(pmod(col("doc_id"), lit(50)) === 49 ||
             pmod(col("doc_id"), lit(20)) === 19, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("body", array_join(transform(
        sequence(lit(1), (pmod(h(col("seed_id"), lit(33)), lit(51L)) + 40).cast("int")),
        i => element_at(vocab,
          (pmod(h(col("seed_id"), i, lit(34)), lit(30L)) + 1).cast("int"))), " "))
      .withColumn("text",
        when(pmod(col("doc_id"), lit(20)) === 19 &&
             pmod(col("doc_id"), lit(50)) =!= 49,
          concat(col("body"), lit(" extra"))).otherwise(col("body")))
      // skew: a corpus-wide boilerplate banner (one phrase id in EVERY
      // document) + one token at ~30% of the token stream (28 repeats
      // vs ~65 body tokens)
      .withColumn("text",
        if (skew)
          concat(col("text"), lit(" banner tokens repeated across corpus "),
            array_join(array_repeat(lit("hotword"), 28), " "))
        else col("text"))
    val documents = base.select(col("doc_id"), col("text"),
      pick(langs, col("seed_id"), lit(35)).as("lang"),
      concat(lit("src"), pmod(h(col("seed_id"), lit(36)), lit(20L))).as("source"),
      length(col("text")).cast("long").as("n_chars"))

    // embeddings: 64-dim floats around 10 well-separated label centroids;
    // vec_id % 500 == 0 are semantic OUTLIERS — near-one-hot on a
    // per-outlier-unique dimension (8.0 on dim (vec_id/500) mod 64, tiny
    // hash noise elsewhere), so cosine vs any cluster vector stays well
    // under the 0.3 SemDeDup threshold and, being multiples of 10, they
    // survive the q130 fresh-batch dedup at every scale
    val nVec = 2000L * scale
    val isOutlier = pmod(col("vec_id"), lit(500L)) === 0
    val hotDim = pmod(expr("vec_id div 500"), lit(64L)).cast("int")
    val embeddings = ids(nVec, "vec_id")
      .withColumn("label", pmod(h(col("vec_id"), lit(37)), lit(10L)).cast("int"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), d =>
          when(isOutlier,
            when(d === hotDim, lit(8.0))
              .otherwise(pmod(h(col("vec_id"), d, lit(41)), lit(40L))
                .cast("double") / 1000.0 - 0.02))
          .otherwise(
            (pmod(h(col("label"), d, lit(38)), lit(2000L)).cast("double") / 1000.0
              - 1.0) +
            (pmod(h(col("vec_id"), d, lit(39)), lit(400L)).cast("double") / 1000.0
              - 0.2)).cast("float")).as("embedding"),
        col("label"))

    Tables.names.zip(Seq(region, nation, customer, supplier, part, orders, lineitem, events,
      documents, embeddings)).map { case (name, df) =>
      name -> df.select(Tables.schema(name).fields.map(f => col(f.name).cast(f.dataType)): _*)
    }
  }
}
