package graft

import java.sql.Timestamp

import graft.dsl.{ConsumerSpec, GraftApp}
import graft.model.KafkaRecordIn
import graft.operators.Joins
import graft.plans.DecodeBarrier
import org.apache.spark.sql.execution.ProjectExec
import org.apache.spark.sql.types.StructType

/** The single registration path: every graft SQL function, both custom
  * join strategies and the decode barrier's strategy reach the shared
  * session (built by [[graft.runtime.Sessions]]) through
  * [[GraftExtensions]] alone, with no per-call registration and no
  * runtime strategy mutation.
  */
class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("every GraftExtensions function resolves on the Sessions-built session") {
    val names = GraftExtensions.functions.map(_._1)
    assert(names.size == 29)
    assert(names.distinct.size == names.size, s"duplicate names: ${names.diff(names.distinct)}")
    val missing = names.filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not resolvable: ${missing.mkString(", ")}")
  }

  test("as-of and range joins plan their custom execs without extraStrategies") {
    val l = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("k", "t")
    val r = Seq(
      (1L, Timestamp.valueOf("2024-01-01 09:00:00"), 7L), // as-of match
      (1L, Timestamp.valueOf("2024-01-01 10:02:00"), 8L)  // range match
    ).toDF("k", "rt", "payload")

    val asof = Joins.asofMerge(l, r, Seq("k"), "t", "rt")
    assert(asof.queryExecution.executedPlan.toString.contains("AsofJoin"))
    assert(asof.select("asof_payload").as[Long].collect().toSeq == Seq(7L))

    val range = Joins.rangeJoinMerge(l, r, Seq("k"), "t", "rt", 0L, 5L * 60 * 1000000)
    assert(range.queryExecution.executedPlan.toString.contains("RangeJoin"))
    assert(range.select("payload").as[Long].collect().toSeq == Seq(8L))

    assert(spark.experimental.extraStrategies.isEmpty)
  }

  test("the Sessions-built session plans the decode barrier as a projection") {
    val app = new GraftApp().consume(ConsumerSpec("t", Seq("out")))
    val rows = Seq(KafkaRecordIn("t", value = Array[Byte](1)), KafkaRecordIn("u"))
      .toDF().collect().toSeq
    val records = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType.fromDDL(KafkaRecordIn.schemaDdl))
    val decoded = app.decoded(app.spec("t"), records)
    val barriers = decoded.queryExecution.optimizedPlan.collect { case b: DecodeBarrier => b }
    assert(barriers.size == 1)
    assert(decoded.queryExecution.sparkPlan.exists {
      case p: ProjectExec => p.output == barriers.head.output && p.child.output == p.output
      case _ => false
    }, decoded.queryExecution.sparkPlan.toString)
    val values = decoded.select("value").as[Array[Byte]].collect().map(_.toSeq).toSeq
    assert(values == Seq(Seq[Byte](1)))
  }
}
