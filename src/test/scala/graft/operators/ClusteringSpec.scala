package graft.operators

import graft.SparkSpec

/** Fixed-point k-means: blob recovery, partitioning invariance (the
  * integer-arithmetic determinism claim), and lexicographic tie-breaks.
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private val pts = Seq(
    (0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 10.0f)),
    (2L, Seq(0.2f, 0.0f)), (3L, Seq(0.1f, 0.1f)),
    (4L, Seq(9.9f, 10.0f)), (5L, Seq(10.0f, 9.8f))).toDF("id", "vec")

  test("two well-separated blobs resolve in two passes") {
    val out = Clustering.kmeansFixed(pts, "id", "vec", k = 2, iters = 2)
      .orderBy("id").collect().map(_.getAs[Long]("cell")).toSeq
    assert(out == Seq(0L, 1L, 0L, 0L, 1L, 1L))
  }

  test("assignment is partitioning-invariant") {
    val a = Clustering.kmeansFixed(pts, "id", "vec", 2, 2)
      .orderBy("id").collect().toSeq
    val b = Clustering.kmeansFixed(pts.repartition(7), "id", "vec", 2, 2)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("identical centroids tie-break to the lowest cell id") {
    val dup = Seq((0L, Seq(1.0f)), (1L, Seq(1.0f)), (2L, Seq(1.0f)))
      .toDF("id", "vec")
    val cells = Clustering.kmeansFixed(dup, "id", "vec", k = 2, iters = 1)
      .collect().map(_.getAs[Long]("cell")).toSet
    assert(cells == Set(0L))
  }

  test("semanticDedup keeps the lowest id of each in-cell near-dup set") {
    // origin blob: [0.2,0] vs [0.1,0.1] have cosine ~0.707 -> drop id 3;
    // the zero vector's cosine is NaN (norm 0), never >= threshold.
    // far blob: all three vectors nearly parallel -> keep only id 1.
    val kept = Clustering.semanticDedup(pts, "id", "vec", k = 2, iters = 2,
        threshold = 0.3)
      .orderBy("id").collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cell")))
    assert(kept.toSeq == Seq((0L, 0L), (1L, 1L), (2L, 0L)))
  }

  test("projected semanticDedup verifies on ORIGINAL vectors and never crosses cells") {
    // 40 vectors in 2 antipodal 8-dim blobs with exact duplicates planted;
    // clustering runs on 4-dim sign projections, the verify must still
    // flag the original-space duplicates (keep-first) while survivors
    // stay unique per cell.
    val rng = new scala.util.Random(5)
    val blobs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) 1.0 else -1.0
      val v = Seq.fill(8)((base + rng.nextDouble() * 0.1).toFloat)
      (i, v)
    }
    // plant exact duplicates of ids 0 and 1 at ids 38/39
    val planted = blobs.take(38) ++ Seq((38L, blobs(0)._2), (39L, blobs(1)._2))
    val df = planted.toDF("id", "vec")
    val kept = Clustering.semanticDedupProjected(df, "id", "vec",
        dim = 8, dOut = 4, k = 2, iters = 2, threshold = 0.99)
      .collect().map(_.getAs[Long]("id")).toSet
    // exact duplicates always land in the same projected cell (identical
    // projections), so keep-first must drop the replanted copies
    assert(!kept.contains(38L) && !kept.contains(39L))
    assert(kept.contains(0L) && kept.contains(1L))
    // losers only ever come from in-cell pairs: survivors of a 0.0
    // threshold within one cell would be 1 per cell; here threshold 0.99
    // keeps near-but-not-duplicate rows
    assert(kept.size >= 2)
  }

  test("incremental semanticDedup: fresh vs history + fresh-smaller only") {
    val history = Seq(
      (0L, Seq(0.0f, 1.0f)), (2L, Seq(1.0f, 0.0f)),
      (4L, Seq(1.0f, 0.05f))). // near-parallel to id 2 — history x history
      toDF("id", "vec")        // pairs must NOT drop it (it's history)
    val fresh = Seq(
      (5L, Seq(1.0f, 0.02f)),  // near id 2 in history -> dropped
      (7L, Seq(0.0f, 2.0f)),   // parallel to history id 0 -> dropped
      (9L, Seq(-1.0f, 1.0f)),  // far from everything -> kept
      (11L, Seq(-1.0f, 0.9f))) // near fresh id 9 (smaller) -> dropped
      .toDF("id", "vec")
    val kept = Clustering.semanticDedupIncremental(history, fresh, "id", "vec",
        k = 2, iters = 2, threshold = 0.9)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(kept == Set(9L), s"got $kept")
  }

  test("knnGraph ranks in-cell neighbors by cosine, never crosses cells") {
    val g = Clustering.knnGraph(pts, "id", "vec", kCells = 2, kNeighbors = 2)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("rn"),
        r.getAs[Long]("dst"))).toSeq.sorted
    // origin cell {0,2,3}: id 0 is the zero vector — its cosines are
    // NaN and the operator filters them explicitly, so id 0 emits no
    // edges and receives none. far cell {1,4,5}: all near-parallel,
    // every vector sees both same-cell neighbors.
    val bySrc = g.groupBy(_._1)
    // no edge may cross the two blobs
    val origin = Set(0L, 2L, 3L); val far = Set(1L, 4L, 5L)
    g.foreach { case (s, _, d) =>
      assert(origin.contains(s) == origin.contains(d),
        s"edge $s->$d crosses cells") }
    // every far-blob vector gets both same-cell neighbors
    assert(far.forall(s => bySrc(s).map(_._3).toSet == (far - s)))
  }

  test("prototypePruning keeps the most-distant rows per cell, exact ranks") {
    val kept = Clustering.prototypePruning(pts, "id", "vec", kCells = 2,
        keepPerCell = 2, iters = 2)
      .collect().map(r => (r.getAs[Long]("cell"), r.getAs[Long]("rn"),
        r.getAs[Long]("id"), r.getAs[Long]("dist"))).toSeq.sorted
    // ranks are 1..2 per cell, distances non-increasing within a cell,
    // and the kept set per cell is the true top-2 by (dist, id) of an
    // exhaustive integer recomputation
    assert(kept.map(t => (t._1, t._2)).toSet ==
      Set((0L, 1L), (0L, 2L), (1L, 1L), (1L, 2L)))
    kept.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.head._4 >= sorted.last._4, s"ranks out of order: $rows")
    }
  }

  test("native NearestCellFixed matches the HOF argmin fold, any list order") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val rows = (0 until 40).map { i =>
      val v = Seq.fill(6)(rnd.nextInt(2001).toLong - 1000L)
      // centroid list in a scrambled order, with a deliberate duplicate
      // centroid (forces the tie-break) and varying cell ids
      val cells = rnd.shuffle(
        (0 until 4).map(c => (c.toLong, Seq.fill(6)(rnd.nextInt(2001).toLong - 1000L))) :+
          (9L, v)) :+ (5L, v) // two cells sit exactly ON the vector: 9 and 5
      (i.toLong, v, cells)
    }
    val df = rows.toDF("id", "v", "cents")
      .withColumn("cents",
        col("cents").cast("array<struct<cell:bigint,cv:array<bigint>>>"))
    val out = df.select(col("id"),
        Clustering.bestCell(col("v"), col("cents")).as("native"),
        Clustering.bestCellViaHof(col("v"), col("cents")).as("hof"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[Long]("native") == r.getAs[Long]("hof"),
        s"row ${r.getAs[Long]("id")}")
      assert(r.getAs[Long]("native") == 5L,
        "ties on the exact vector must resolve to the lowest cell id (5 < 9)")
    }
  }

  test("NearestCellFixed on an empty centroid list equals the HOF fold's init") {
    import org.apache.spark.sql.functions._
    val df = Seq((0L, Seq(1L, 2L))).toDF("id", "v")
      .withColumn("cents",
        array().cast("array<struct<cell:bigint,cv:array<bigint>>>"))
    val r = df.select(
        Clustering.bestCell(col("v"), col("cents")).as("native"),
        Clustering.bestCellViaHof(col("v"), col("cents")).as("hof"))
      .collect().head
    assert(r.getAs[Long]("native") == Long.MaxValue)
    assert(r.getAs[Long]("native") == r.getAs[Long]("hof"))
  }

  test("scaleVector computes floor(x*scale + 0.5) exactly") {
    // binary-exact inputs so the expectation is unambiguous:
    // 0.5*2+0.5=1.5 -> 1; -0.5*2+0.5=-0.5 -> -1; 0.25*2+0.5=1.0 -> 1
    val df = Seq((0L, Seq(0.5f, -0.5f, 0.25f))).toDF("id", "vec")
    val v = df.select(Clustering.scaleVector($"vec", 2L).as("s"))
      .collect().head.getSeq[Long](0)
    assert(v == Seq(1L, -1L, 1L))
  }

  private val labeled = Seq(
    // far blob: labels mixed -> cross-label pairs exist in-cell
    (0L, Seq(0.0f, 1.0f), 0), (2L, Seq(0.1f, 1.0f), 0),
    (3L, Seq(0.0f, 0.9f), 1),
    (1L, Seq(10.0f, 10.0f), 2), (4L, Seq(9.9f, 10.0f), 2),
    (5L, Seq(10.0f, 9.8f), 2)).toDF("id", "vec", "label")

  test("hardNegatives: only different-label in-cell pairs, ranked by cosine") {
    val g = Clustering.hardNegatives(labeled, "id", "vec", "label",
        kCells = 2, kNegatives = 2)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    // cell {0,2,3}: label 1 vs label 0 pairs both ways; cell {1,4,5}:
    // all label 2 -> NO negatives at all
    assert(g === Set((0L, 3L), (2L, 3L), (3L, 0L), (3L, 2L)), s"got $g")
  }

  test("hardNegatives: null-label rows are on neither side") {
    val withNull = Seq((0L, Seq(0.0f, 1.0f), Integer.valueOf(0)),
      (2L, Seq(0.1f, 1.0f), null.asInstanceOf[Integer]),
      (3L, Seq(0.0f, 0.9f), Integer.valueOf(1))).toDF("id", "vec", "label")
    val g = Clustering.hardNegatives(withNull, "id", "vec", "label",
        kCells = 1, kNegatives = 3)
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    assert(g === Set((0L, 3L), (3L, 0L)), s"got $g")
  }

  test("labelDisagreement: majority flag matches a hand count") {
    val d = Clustering.labelDisagreement(labeled, "id", "vec", "label",
        kCells = 2, kNeighbors = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_disagree"), r.getAs[Boolean]("flagged")))).toMap
    // cell {0,2,3}: 0 and 2 each see {the other (same label), 3 (diff)}
    // -> 1 of 2 disagree, not flagged; 3 sees {0, 2} -> 2 of 2, flagged
    assert(d(0L) === ((1L, false)))
    assert(d(2L) === ((1L, false)))
    assert(d(3L) === ((2L, true)))
    // far cell: all label 2, nobody disagrees, nobody flagged
    assert(Seq(1L, 4L, 5L).forall(i => d(i) === ((0L, false))))
  }

  test("semanticContamination flags corpus rows near a bench vector") {
    // bench: two anchors in separate blobs; corpus: a near-copy of each
    // anchor, plus an orthogonal row nothing in the bench resembles
    val bench = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f)), (101L, Seq(0.0f, 1.0f, 0.0f)))
      .toDF("id", "vec")
    val corpus = Seq(
      (0L, Seq(0.99f, 0.01f, 0.0f)),  // ~anchor 100
      (1L, Seq(0.01f, 0.98f, 0.0f)),  // ~anchor 101
      (2L, Seq(0.0f, 0.0f, 1.0f)))    // orthogonal to both
      .toDF("id", "vec")
    val got = Clustering.semanticContamination(corpus, bench, "id", "vec",
        k = 2, iters = 2, threshold = 0.8)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_bench_hits"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(got(0L) === ((1L, true)))
    assert(got(1L) === ((1L, true)))
    assert(got(2L) === ((0L, false)))
    assert(got.size == 3) // every corpus row gets a verdict
  }

  test("semanticContamination: corpus in an empty bench cell gets 0 hits") {
    // one bench point -> every corpus row assigns to its single cell,
    // but with k=2 the dead seed cell can also appear; either way rows
    // below threshold report 0 hits rather than dropping out
    val bench = Seq((100L, Seq(1.0f, 0.0f))).toDF("id", "vec")
    val corpus = Seq((0L, Seq(-1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)))
      .toDF("id", "vec")
    val got = Clustering.semanticContamination(corpus, bench, "id", "vec",
        k = 2, iters = 2, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("n_bench_hits")).toMap
    assert(got(0L) == 0L && got(1L) == 1L)
  }

  test("kCenterSelect: greedy farthest-point picks the extremes, hand-checked") {
    // points on a line: 0.0, 0.1, 0.5, 0.9, 1.0 (ids 0..4)
    val df = Seq(
      (0L, Seq(0.0f)), (1L, Seq(0.1f)), (2L, Seq(0.5f)),
      (3L, Seq(0.9f)), (4L, Seq(1.0f)))
      .toDF("id", "vec")
    val sel = Clustering.kCenterSelect(df, "id", "vec", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
    // seed = id 0 (value 0.0); round 2 = farthest = id 4 (1000^2);
    // round 3: min-dists to {0, 1000}: id1=100^2, id2=500^2, id3=100^2
    //   -> id 2 wins at 250000
    assert(sel.toSeq == Seq((1L, 0L, None), (2L, 4L, Some(1000000L)),
      (3L, 2L, Some(250000L))))
  }

  test("kCenterSelect: coverage radii never increase; null vectors skipped; negative ids loud") {
    val df = (0L until 40L).map(i => (i, Seq((i * 37 % 17).toFloat, (i * 11 % 13).toFloat)))
      .toDF("id", "vec")
      .union(Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("id", "vec"))
    val radii = Clustering.kCenterSelect(df, "id", "vec", k = 5)
      .collect().flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Long]))
    assert(radii.length == 4)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"radii must be non-increasing: ${radii.toSeq}")
    val neg = Seq((-1L, Seq(1.0f))).toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      Clustering.kCenterSelect(neg, "id", "vec", k = 1)
    }
    assert(e.getMessage.contains("non-negative"))
    // k beyond the distinct-vector count: coverage completes early and
    // FEWER rows come back — never duplicate exemplars at d2 = 0
    val tiny = Seq((0L, Seq(0.0f)), (1L, Seq(1.0f)), (2L, Seq(1.0f)))
      .toDF("id", "vec")
    val sel = Clustering.kCenterSelect(tiny, "id", "vec", k = 5).collect()
    assert(sel.length == 2, s"expected early stop, got ${sel.toSeq}")
    assert(sel.map(_.getLong(1)).distinct.length == sel.length)
  }

  test("MinCellDistFixed: parity with a scalar reference incl. padding and empty list") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.functions._
    val vecs = Seq((1L, Seq(3L, 4L)), (2L, Seq(0L, 0L, 5L))).toDF("id", "v")
    val cents = array(
      struct(lit(1L).as("cell"), array(lit(0L), lit(0L)).cast("array<long>").as("cv")),
      struct(lit(2L).as("cell"), array(lit(3L)).cast("array<long>").as("cv")))
    val dists = vecs.select(col("id"), ColumnBridge.column(
        graft.functions.expressions.MinCellDistFixed(
          ColumnBridge.expression(col("v")),
          ColumnBridge.expression(cents))).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // id1: d to (0,0)=25; to (3,)→pad (3,0)=16 -> 16
    // id2: d to (0,0)→pad len3 =25; to (3,0,0)=9+25=34 -> 25
    assert(dists == Map(1L -> 16L, 2L -> 25L))
    val empty = vecs.select(ColumnBridge.column(
        graft.functions.expressions.MinCellDistFixed(
          ColumnBridge.expression(col("v")),
          ColumnBridge.expression(array().cast(
            "array<struct<cell:bigint,cv:array<bigint>>>")))).as("d"))
      .collect().map(_.getLong(0))
    assert(empty.forall(_ == Long.MaxValue))
    // SQL registration (the every-kernel house rule)
    vecs.createOrReplaceTempView("mcd_in")
    val viaSql = spark.sql(
      """SELECT id, min_cell_dist_fixed(v, array(
        |  named_struct('cell', 1L, 'cv', array(0L, 0L)),
        |  named_struct('cell', 2L, 'cv', array(3L)))) AS d
        |FROM mcd_in""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == Map(1L -> 16L, 2L -> 25L))
  }
}
