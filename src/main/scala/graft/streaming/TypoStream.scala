package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.expressions.{DeletionVariants, LevenshteinWithin}

/** Ingest-time typo/variant detection — the streaming twin of
  * [[graft.operators.EditDistance]], for "is this incoming key within
  * tau edits of anything we've already ingested?" (new entity aliases,
  * URL variants, vocabulary typos) at arrival time.
  *
  * Shape mirrors [[NearDupStream]]: each string's <=tau-deletion
  * neighborhood is computed NARROWLY (the native [[DeletionVariants]]
  * kernel — no aggregation, so it composes with Append mode), records
  * explode to one row per variant hash, and a transformWithState
  * processor keyed by the 64-bit variant hash holds the strings seen in
  * that bucket. A new arrival verifies against its bucket-mates with
  * the banded [[LevenshteinWithin]] kernel IN the processor (the verify
  * is O(tau·n) per candidate — cheap enough to run at the bucket, so
  * only TRUE pairs ever leave the state store, unlike MinHash where
  * exact verification stays downstream). The same unordered pair can
  * surface from several shared variants (exactly the batch pipeline's
  * pre-`distinct` candidate multiset) — deduplicate downstream where
  * needed.
  *
  * State hygiene at scale: per-bucket membership is capped
  * (`maxPerBucket` — beyond it new arrivals still verify against the
  * stored sample but are not stored).
  */
object TypoStream {

  case class VariantStr(h: Long, s: String)
  case class TypoPair(sA: String, sB: String, dist: Int)

  class VariantBucketProcessor(tau: Int, maxPerBucket: Int)
      extends StatefulProcessor[Long, VariantStr, TypoPair] {
    @transient private var seen: ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[String]("seen", Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(h: Long, rows: Iterator[VariantStr],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[TypoPair] = {
      val stored = ArrayBuffer.empty[String]
      seen.get().foreach(stored += _)
      val out = ArrayBuffer.empty[TypoPair]
      rows.foreach { r =>
        val rs = UTF8String.fromString(r.s)
        stored.foreach { prev =>
          if (prev != r.s) {
            val d = LevenshteinWithin.within(UTF8String.fromString(prev), rs, tau)
            if (d >= 0)
              out += (if (prev < r.s) TypoPair(prev, r.s, d)
                      else TypoPair(r.s, prev, d))
          }
        }
        if (!stored.contains(r.s) && stored.length < maxPerBucket) {
          stored += r.s
          seen.appendValue(r.s)
        }
      }
      out.iterator
    }
  }

  /** Wire the variant-bucket processor onto a streaming (or batch)
    * string frame. Emits verified ED<=tau pairs in Append mode (s_a <
    * s_b; possibly repeated across shared variants — dedup downstream).
    */
  def pairs(strs: DataFrame, strCol: String, tau: Int,
            maxPerBucket: Int = 64): Dataset[TypoPair] = {
    import strs.sparkSession.implicits._
    val variantsCol = ColumnBridge.column(
      DeletionVariants(ColumnBridge.expression(col(strCol).cast("string")), tau))
    strs
      .select(col(strCol).cast("string").as("s"))
      .filter(col("s").isNotNull)
      .select(col("s"), explode(variantsCol).as("v"))
      .select(xxhash64(col("v")).as("h"), col("s"))
      .as[VariantStr]
      .groupByKey(_.h)
      .transformWithState(new VariantBucketProcessor(tau, maxPerBucket),
        TimeMode.None(), OutputMode.Append())
  }
}
