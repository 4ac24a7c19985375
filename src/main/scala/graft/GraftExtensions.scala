package graft

import graft.functions.expressions._
import graft.operators.Dedup
import graft.plans.{AsofJoinStrategy, DecodeBarrierStrategy, RangeJoinStrategy}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{Decimal, LongType}
import org.apache.spark.unsafe.types.UTF8String

import scala.reflect.ClassTag

/** SparkSessionExtensions entry point and the engine's only registration
  * path: installs every SQL function in [[GraftExtensions.functions]] and
  * three planner strategies: as-of join, range join and the kaflow
  * decode barrier. Every session from [[graft.runtime.Sessions]] loads it
  * through `spark.sql.extensions=graft.GraftExtensions`. Extensions apply
  * when a session is created, so a session built any other way has
  * neither the functions nor the custom operators, and cannot plan
  * `GraftApp.processBatch`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    }
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => RangeJoinStrategy)
    ext.injectPlannerStrategy(_ => DecodeBarrierStrategy)
  }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  private def fn[E <: Expression: ClassTag](name: String)(build: Builder)
      : (String, Class[_], Builder) =
    (name, implicitly[ClassTag[E]].runtimeClass, build)

  /** The SQL function table: (name, expression class, builder). */
  val functions: Seq[(String, Class[_], Builder)] = Seq(
    fn[CosineSimilarity]("cosine_similarity") { children =>
      require(children.length == 2, "cosine_similarity(a, b) takes 2 arguments")
      CosineSimilarity(children.head, children(1))
    },
    fn[L2DistanceSq]("l2_distance_sq") { children =>
      require(children.length == 2, "l2_distance_sq(a, b) takes 2 arguments")
      L2DistanceSq(children.head, children(1))
    },
    fn[PolyHash]("poly_hash") {
      case Seq(s) => PolyHash(s, Dedup.M)
      case Seq(s, Literal(m: Long, _)) => PolyHash(s, m)
      // SQL users write plain int literals (`poly_hash(s, 1000003)`
      // parses as IntegerType) — widen rather than reject.
      case Seq(s, Literal(m: Int, _)) => PolyHash(s, m.toLong)
      case _ => throw new IllegalArgumentException(
        "poly_hash(str[, mod]) takes a string and an optional integer literal modulus")
    },
    fn[MinHashSignature]("minhash_signature") { children =>
      withIntArgs("minhash_signature", children, 8, 3)(MinHashSignature.apply)
    },
    fn[SimHash]("simhash") { children =>
      withIntArgs("simhash", children, 16, 3)(SimHash.apply)
    },
    fn[NearestCellFixed]("nearest_cell_fixed") {
      case Seq(v, c) => NearestCellFixed(v, c)
      case _ => throw new IllegalArgumentException(
        "nearest_cell_fixed(vec, cents) takes a long-array vector and a " +
          "array<struct<cell, cv>> centroid list")
    },
    fn[MinCellDistFixed]("min_cell_dist_fixed") {
      case Seq(v, c) => MinCellDistFixed(v, c)
      case _ => throw new IllegalArgumentException(
        "min_cell_dist_fixed(vec, cents) takes a long-array vector and a " +
          "array<struct<cell, cv>> center list")
    },
    fn[ScriptMix]("script_mix") {
      case Seq(t) => ScriptMix(t)
      case _ => throw new IllegalArgumentException(
        "script_mix(text) takes one string column")
    },
    fn[CleanTokens]("clean_tokens") {
      case Seq(s, arr) => CleanTokens(s, stringArrayArg("clean_tokens", arr))
      case _ => throw new IllegalArgumentException(
        "clean_tokens(str, array(stopword, ...)) takes a string column and a literal string array")
    },
    fn[CleanTokensCount]("clean_tokens_count") {
      case Seq(s, arr) => CleanTokensCount(s, stringArrayArg("clean_tokens_count", arr))
      case _ => throw new IllegalArgumentException(
        "clean_tokens_count(str, array(stopword, ...)) takes a string column and a literal string array")
    },
    fn[GopherStats]("gopher_stats") {
      case Seq(s, arr) => GopherStats(s, stringArrayArg("gopher_stats", arr))
      case _ => throw new IllegalArgumentException(
        "gopher_stats(str, array(stopword, ...)) takes a string column and a literal string array")
    },
    fn[PiiScrub]("pii_scrub") {
      case Seq(s) => PiiScrub(s)
      case _ => throw new IllegalArgumentException(
        "pii_scrub(str) takes one string column")
    },
    fn[BpeEncode]("bpe_encode") {
      case Seq(w, Literal(m: UTF8String, _)) =>
        BpeEncode(w, BpeEncode.parseModel(m.toString))
      case _ => throw new IllegalArgumentException(
        "bpe_encode(word, model) takes a string column and a " +
          "'lhs rhs,lhs rhs,…' model literal")
    },
    fn[LevenshteinWithin]("levenshtein_within") {
      case Seq(l, r, Literal(tau: Int, _)) => LevenshteinWithin(l, r, tau)
      case _ => throw new IllegalArgumentException(
        "levenshtein_within(l, r, tau) takes two strings and an int literal tau")
    },
    fn[DeletionVariants]("deletion_variants") {
      case Seq(s, Literal(tau: Int, _)) => DeletionVariants(s, tau)
      case _ => throw new IllegalArgumentException(
        "deletion_variants(s, tau) takes a string and an int literal tau in {1, 2}")
    },
    fn[HashedFeatureScore]("hashed_feature_score") {
      case Seq(s) => HashedFeatureScore(s, 1024, Dedup.M)
      case Seq(s, Literal(b: Int, _)) => HashedFeatureScore(s, b, Dedup.M)
      case _ => throw new IllegalArgumentException(
        "hashed_feature_score(text[, buckets]) takes a string column " +
          "and an optional int literal bucket count")
    },
    fn[SignProject]("sign_project") {
      case Seq(v, Literal(o: Int, _), Literal(d: Int, _)) =>
        SignProject(v, o, d, 42L, 1000L)
      case Seq(v, Literal(o: Int, _), Literal(d: Int, _), Literal(s: Int, _)) =>
        SignProject(v, o, d, s.toLong, 1000L)
      case Seq(v, Literal(o: Int, _), Literal(d: Int, _), Literal(s: Int, _),
          Literal(sc: Int, _)) =>
        SignProject(v, o, d, s.toLong, sc.toLong)
      case _ => throw new IllegalArgumentException(
        "sign_project(vec, dOut, dim[, seed[, scale]]) takes a vector " +
          "column and int literals")
    },
    fn[ScaleVector]("scale_vector") {
      case Seq(v, Literal(s: Long, _)) => ScaleVector(v, s)
      case Seq(v, Literal(s: Int, _)) => ScaleVector(v, s.toLong)
      case _ => throw new IllegalArgumentException(
        "scale_vector(vec, scale) takes a numeric-array column and an integer literal scale")
    },
    fn[CdcChunks]("cdc_chunks") {
      // w accepts Int OR Long literals (`cdc_chunks(t, 3L, 8)` is
      // valid SQL) — widen/narrow rather than fall to the generic
      // error; an out-of-Int-range w still gets the clear message.
      case Seq(s, Literal(w: Int, _), Literal(d: Long, _)) =>
        CdcChunks(s, w, d, Dedup.M)
      case Seq(s, Literal(w: Int, _), Literal(d: Int, _)) =>
        CdcChunks(s, w, d.toLong, Dedup.M)
      case Seq(s, Literal(w: Long, _), Literal(d: Long, _)) if w.isValidInt =>
        CdcChunks(s, w.toInt, d, Dedup.M)
      case Seq(s, Literal(w: Long, _), Literal(d: Int, _)) if w.isValidInt =>
        CdcChunks(s, w.toInt, d.toLong, Dedup.M)
      case _ => throw new IllegalArgumentException(
        "cdc_chunks(text, w, divisor) takes a string column and two integer literals")
    },
    fn[EncodeWavPcm8]("encode_wav_pcm8") {
      case Seq(s) => EncodeWavPcm8(s)
      case _ => throw new IllegalArgumentException(
        "encode_wav_pcm8(samples) takes one array<int> column")
    },
    fn[WavEnergyHash]("wav_energy_hash") {
      case Seq(b) => WavEnergyHash(b)
      case _ => throw new IllegalArgumentException(
        "wav_energy_hash(payload) takes one binary column")
    },
    fn[BloomMightContain]("bloom_might_contain") {
      case Seq(b, v, Literal(k: Int, _)) => BloomMightContain(b, v, k)
      case _ => throw new IllegalArgumentException(
        "bloom_might_contain(blob, id, numHashes) takes a binary column, a bigint column, and an int literal")
    },
    // Aggregates: the analyzer wraps a returned AggregateFunction in an
    // AggregateExpression itself (same path as built-in percentile).
    fn[BoundedTopKAgg]("topk_agg") {
      case Seq(v, id, Literal(k: Int, _)) => BoundedTopKAgg(v, id, k)
      case _ => throw new IllegalArgumentException(
        "topk_agg(value, id, k) takes two columns and an int literal k")
    },
    fn[MisraGriesAgg]("misra_gries") {
      case Seq(v, Literal(k: Int, _)) => MisraGriesAgg(v, k)
      case _ => throw new IllegalArgumentException(
        "misra_gries(item, k) takes a string column and an int literal k")
    },
    fn[CountMinAgg]("count_min") {
      case Seq(v, Literal(d: Int, _), Literal(w: Int, _)) =>
        CountMinAgg(Cast(v, LongType), d, w)
      case _ => throw new IllegalArgumentException(
        "count_min(id, depth, width) takes a long column and two int literals")
    },
    fn[KminSketchAgg]("kmin_sketch") {
      case Seq(v, Literal(k: Int, _)) => KminSketchAgg(Cast(v, LongType), k)
      case _ => throw new IllegalArgumentException(
        "kmin_sketch(hash, k) takes a bigint column and an int literal k")
    },
    fn[QuantileSketchAgg]("quantile_sketch") {
      case Seq(v, Literal(k: Int, _), qs @ _*) if qs.nonEmpty =>
        QuantileSketchAgg(v, k, qs.map {
          case Literal(q: Double, _) => q
          // bare 0.5 parses as a DECIMAL literal in SQL text
          case Literal(q: Decimal, _) => q.toDouble
          case other => throw new IllegalArgumentException(
            s"quantile_sketch: quantiles must be numeric literals, got $other")
        })
      case _ => throw new IllegalArgumentException(
        "quantile_sketch(value, k, q1[, q2...]) takes a column, an int " +
          "literal k, and one or more numeric literal quantiles")
    },
    fn[BloomBuildAgg]("bloom_build") {
      case Seq(v, Literal(logBits: Int, _), Literal(k: Int, _)) => BloomBuildAgg(v, logBits, k)
      case _ => throw new IllegalArgumentException(
        "bloom_build(id, logBits, numHashes) takes a bigint column and two int literals")
    },
    fn[FixedPointVectorSum]("fixed_point_vector_sum") {
      case Seq(v, Literal(s: Long, _)) => FixedPointVectorSum(v, s)
      case Seq(v, Literal(s: Int, _)) => FixedPointVectorSum(v, s.toLong)
      case _ => throw new IllegalArgumentException(
        "fixed_point_vector_sum(vec, scale) takes a vector column and an integer literal scale")
    }
  )

  /** Evaluates a foldable array<string> argument (SQL `array('a', 'b')`
    * parses as CreateArray, not Literal, so match on foldability).
    */
  private def stringArrayArg(name: String, e: Expression): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val isStringArray = e.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    require(e.foldable && isStringArray,
      s"$name expects a literal array<string>, got ${e.dataType.catalogString}")
    val data = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    data.toArray[UTF8String](StringType)
      .map(s => if (s == null) null else s.toString).toSeq
  }

  /** Builder for `fn(str[, n[, k]])` signatures with int-literal options. */
  private def withIntArgs(name: String, children: Seq[Expression],
      defaultN: Int, defaultK: Int)(
      build: (Expression, Int, Int) => Expression): Expression = children match {
    case Seq(s) => build(s, defaultN, defaultK)
    case Seq(s, Literal(n: Int, _)) => build(s, n, defaultK)
    case Seq(s, Literal(n: Int, _), Literal(k: Int, _)) => build(s, n, k)
    case _ => throw new IllegalArgumentException(
      s"$name(str[, n[, k]]) takes a string and optional int literals")
  }
}
