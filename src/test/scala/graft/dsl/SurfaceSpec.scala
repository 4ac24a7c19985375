package graft.dsl

import graft.SparkSpec
import graft.operators.Joins
import graft.runtime.TableLayout
import graft.serde.JsonSerde
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tests for produce (A18), typed error recovery (A19), AsyncAPI doc
  * emission (A28), and the skew/layout scale utilities.
  */
class SurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("produce normalizes a message frame for the sink topic (A18)") {
    val app = new GraftApp
    val out = app.produce("metrics")(
      Seq(("m1", "v1")).toDF("key", "value")
        .select(col("key").cast("binary").as("key"), col("value")))
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("topic") == "metrics")
    assert(new String(out(0).getAs[Array[Byte]]("value"), "UTF-8") == "v1")
  }

  test("mapRecover: nearest registered handler wins; unhandled rethrows (A19)") {
    val ds = Seq(1, 2, 3, 4).toDS()
    val out = Recover.mapRecover(ds)(
      i => if (i == 2) throw new IllegalArgumentException("bad 2")
           else if (i == 3) throw new RuntimeException("boom 3")
           else i * 10,
      handlers = Seq(
        classOf[IllegalArgumentException] -> ((_: Throwable) => Some(-1)),
        classOf[RuntimeException] -> ((_: Throwable) => None)))
      .collect().toSeq
    assert(out.map(_.value) == Seq(Some(10), Some(-1), None, Some(40)))
    assert(out(1).errorClass.get == "java.lang.IllegalArgumentException")
    // unhandled exception type fails the job (reference semantics)
    intercept[org.apache.spark.SparkException] {
      Recover.mapRecover(ds)(
        i => if (i == 2) throw new IllegalStateException("x") else i,
        handlers = Seq(classOf[IllegalArgumentException] -> ((_: Throwable) => Some(0))))
        .collect()
    }
  }

  test("AsyncAPI doc renders channels + payload schemas as valid JSON (A28)") {
    val app = new GraftApp().consume(ConsumerSpec(
      topic = "user_clicks",
      sinkTopics = Seq("clicks_out"),
      valueSerde = JsonSerde(StructType(Seq(
        StructField("user_id", LongType, nullable = false),
        StructField("url", StringType))))))
    val doc = AsyncApiDoc.render(app, "graft app", "1.0.0")
    // must be parseable JSON with the expected channels
    val parsed = spark.read.json(Seq(doc).toDS()).collect()
    assert(parsed.nonEmpty)
    assert(doc.contains("\"user_clicks\""))
    assert(doc.contains("\"clicks_out\""))
    assert(doc.contains("\"user_id\": {\"type\": \"integer\"}"))
  }

  test("AsyncAPI HTML docs page embeds the schema, escaped for its attribute") {
    val app = new GraftApp().consume(ConsumerSpec(
      topic = "user's_topic", // apostrophe must not break the single-quoted attr
      sinkTopics = Nil,
      valueSerde = JsonSerde(StructType(Seq(
        StructField("user_id", LongType, nullable = false))))))
    val html = AsyncApiDoc.renderHtml(app, "graft <docs> & more", "1.0.0")
    assert(html.startsWith("<!DOCTYPE html>"))
    assert(html.contains("<asyncapi-component schema='"))
    assert(html.contains("asyncapi-web-component"))
    // attribute-safety: no raw single quote inside the schema attribute
    val attr = html.split("schema='")(1).split("'")(0)
    assert(!attr.contains("'") && attr.contains("&#39;s_topic"))
    assert(html.contains("<title>graft &lt;docs&gt; &amp; more</title>"))
    // vendored-URL override for air-gapped deployments
    val own = AsyncApiDoc.renderHtml(app, "t", "1", "/js/a.js", "/css/a.css")
    assert(own.contains("src=\"/js/a.js\"") && own.contains("href=\"/css/a.css\""))
  }

  test("salted join preserves row multiplicity and join semantics") {
    val big = Seq((1, "a"), (1, "b"), (1, "c"), (2, "d")).toDF("k", "v")
    val small = Seq((1, "X"), (2, "Y"), (3, "Z")).toDF("k", "w")
    val plain = big.join(small, Seq("k")).select("k", "v", "w")
      .as[(Int, String, String)].collect().sorted.toSeq
    val salted = Joins.saltedJoin(big, small, Seq("k"), 4)
      .select("k", "v", "w").as[(Int, String, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("salted join supports left joins but rejects outer-on-replicated-side") {
    val big = Seq((1, "a"), (9, "nomatch")).toDF("k", "v")
    val small = Seq((1, "X"), (3, "Z")).toDF("k", "w")
    val leftJoined = Joins.saltedJoin(big, small, Seq("k"), 4, "left")
      .select("k", "v", "w").collect()
    assert(leftJoined.length == 2) // unmatched big row kept once, not 4x
    assert(leftJoined.count(_.isNullAt(2)) == 1)
    for (jt <- Seq("right", "full", "full_outer", "right_outer"))
      intercept[IllegalArgumentException] {
        Joins.saltedJoin(big, small, Seq("k"), 4, jt)
      }
  }

  test("writeCompacted bounds file count and rows per file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val df = spark.range(1000).toDF("id")
    TableLayout.writeCompacted(df, dir, numFiles = 4, maxRecordsPerFile = 200)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    // 4 partitions x 250 rows, capped at 200/file -> 8 files of <=200 rows.
    assert(files.length == 8, s"got ${files.length} files")
    files.foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 200)
    }
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("writeZOrdered: file zkey ranges are disjoint (range-clustered layout)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString + "/t"
    val df = spark.range(4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    TableLayout.writeZOrdered(df, dir, Seq("x", "y"), numFiles = 4)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length == 4)
    val zkey = graft.functions.Layout.interleaveBitsN(Seq(col("x"), col("y")))
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).select(min(zkey), max(zkey)).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file zkey ranges overlap: $ranges")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == 4096)
  }

  test("bucketed table join plans without exchange on the bucket key") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    TableLayout.saveBucketed(df, "t_bucketed_a", Seq("id"), 4)
    TableLayout.saveBucketed(df.withColumnRenamed("v", "w"), "t_bucketed_b", Seq("id"), 4)
    // Force a non-broadcast join so the bucket layout is what avoids the
    // shuffle (tiny test tables would otherwise broadcast).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("t_bucketed_a").join(spark.table("t_bucketed_b"), "id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected bucket-co-located join without shuffle, got:\n$plan")
      assert(joined.count() == 3)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
