package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{StrPartition, TrajectorySearch}

/** STR tile pre-filter (reference O8 as a dataflow pre-filter): exact
  * equality with the naive all-pairs join ([[MetricOracles.allPairsNaive]]),
  * tile-level pruning power on clustered data, and the equi-join plan
  * shape. */
class StrPartitionTest extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("STR all-pairs top-k equals the unpartitioned scan at two SFs") {
    for (dir <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val ta = Tables.trajArrays(spark, dir)
      val base = MetricOracles.allPairsNaive(ta, 20, "hausdorff")
        .collect().map(_.toString).toSeq
      val str = StrPartition.allPairsTopKStr(ta, 20, "hausdorff")
        .collect().map(_.toString).toSeq
      assert(str == base, dir)
    }
  }

  test("STR all-pairs works for the Fréchet metric too (bound ≤ Hausdorff ≤ Fréchet)") {
    val ta = Tables.trajArrays(spark, TestSpark.sf0001)
    val base = MetricOracles.allPairsNaive(ta, 10, "frechet")
      .collect().map(_.toString).toSeq
    val str = StrPartition.allPairsTopKStr(ta, 10, "frechet")
      .collect().map(_.toString).toSeq
    assert(str == base)
  }

  /** Three clusters ~500 apart: within-cluster top-k distances are ≤ ~3, so
    * every cross-cluster tile pair must be pruned at the tile level. */
  private def clusteredRows = {
    val rnd = new scala.util.Random(7)
    def traj(cx: Double, cy: Double): (Seq[Double], Seq[Double]) = {
      val n = 5 + rnd.nextInt(10)
      (Seq.fill(n)(cx + rnd.nextDouble()), Seq.fill(n)(cy + rnd.nextDouble()))
    }
    val centers = Seq((0.0, 0.0), (500.0, 0.0), (0.0, 500.0))
    (0L until 60L).map { i =>
      val (cx, cy) = centers((i % 3).toInt)
      val (xs, ys) = traj(cx, cy)
      (i, xs, ys)
    }
  }
  private def clusteredTa = clusteredRows.toDF("user_id", "xs", "ys")

  test("tile pruning fires on clustered data and the result stays exact") {
    val ta = clusteredTa
    val base = MetricOracles.allPairsNaive(ta, 10, "hausdorff")
      .collect().map(_.toString).toSeq
    val str = StrPartition.allPairsTopKStr(ta, 10, "hausdorff")
      .collect().map(_.toString).toSeq
    assert(str == base)

    val (enumerated, total) = StrPartition.candidateStats(ta, 10, "hausdorff")
    // 60 users in 3 far-apart clusters: cross-cluster pairs (3·20·20=1200 of
    // 1770) must never be enumerated once tiles separate the clusters
    assert(enumerated < total / 2,
      s"expected tile-level pruning to fire: $enumerated of $total pairs enumerated")
    assert(enumerated >= 10, s"candidates must cover the answer: $enumerated")
  }

  test("a NaN coordinate does not hide a nearest neighbour in another tile") {
    // user 60 is user 0 (cluster at the origin) plus one point with a NaN x:
    // Hausdorff skips that point, so the pair (0, 60) is at distance 0. Its
    // NaN centroid sorts into the top x-slab, with the cluster at x = 500,
    // so its neighbour sits in another tile, and its tile's union box is
    // NaN — a box that bounds nothing and must prune no tile pair.
    val (_, xs0, ys0) = clusteredRows.head
    val ta = (clusteredRows :+ ((60L, xs0 :+ Double.NaN, ys0 :+ ys0.last)))
      .toDF("user_id", "xs", "ys")
    val base = MetricOracles.allPairsNaive(ta, 10, "hausdorff")
      .collect().map(_.toString).toSeq
    assert(base.head == "[0,60,0.0]", base)
    val str = StrPartition.allPairsTopKStr(ta, 10, "hausdorff")
      .collect().map(_.toString).toSeq
    assert(str == base)
  }

  test("candidate enumeration is an equi-join on tiles, never a nested loop") {
    val ta = clusteredTa
    val plan = StrPartition.candidateFrame(ta, 10, "hausdorff")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
  }

  test("falls back to the unpartitioned scan when data is too small to seed") {
    val tiny = Seq(
      (0L, Seq(0.0, 1.0), Seq(0.0, 1.0)),
      (1L, Seq(5.0, 6.0), Seq(5.0, 6.0)),
      (2L, Seq(9.0, 10.0), Seq(9.0, 10.0))
    ).toDF("user_id", "xs", "ys")
    val base = MetricOracles.allPairsNaive(tiny, 10, "hausdorff")
      .collect().map(_.toString).toSeq
    val str = StrPartition.allPairsTopKStr(tiny, 10, "hausdorff")
      .collect().map(_.toString).toSeq
    assert(str == base)
    assert(str.length == 3) // all 3 pairs, fewer than k
  }

  test("tiled kNN join equals the flat knnJoin at two SFs") {
    // sf0.001 (15 users) exercises the tile-size FALLBACK path; sf0.01
    // (150 users, >=4 per 4x4 tile) exercises the real tiled plan
    for (dir <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val ta = Tables.trajArrays(spark, dir)
      val flat = TrajectorySearch.knnJoin(ta, 3, "hausdorff",
          path = TrajectorySearch.KnnPath.Seeded)
        .collect().map(_.toString).toSeq
      val tiled = StrPartition.knnJoinStr(ta, 3, "hausdorff")
        .collect().map(_.toString).toSeq
      assert(tiled == flat, dir)
    }
  }

  test("tiled kNN join: tile prune fires on clustered data, result stays exact") {
    // four corner clusters, one per 2x2 quantile tile: the x-median falls
    // between the left and right cluster pairs and the per-slab y-medians
    // between bottom and top, so every tile is a pure 15-member cluster
    val rnd = new scala.util.Random(7)
    def traj(cx: Double, cy: Double): (Seq[Double], Seq[Double]) = {
      val n = 5 + rnd.nextInt(10)
      (Seq.fill(n)(cx + rnd.nextDouble()), Seq.fill(n)(cy + rnd.nextDouble()))
    }
    val centers = Seq((0.0, 0.0), (500.0, 0.0), (0.0, 500.0), (500.0, 500.0))
    val ta = (0L until 60L).map { i =>
      val (cx, cy) = centers((i % 4).toInt)
      val (xs, ys) = traj(cx, cy)
      (i, xs, ys)
    }.toDF("user_id", "xs", "ys")
    val flat = TrajectorySearch.knnJoin(ta, 3, "hausdorff",
        path = TrajectorySearch.KnnPath.Seeded)
      .collect().map(_.toString).toSeq
    // 2x2 grid: 60 users split ~15/tile (a 4x4 grid would leave tiles
    // below k+1 members and trip the fallback)
    val tiled = StrPartition.knnJoinStr(ta, 3, "hausdorff", nx = 2, ny = 2)
      .collect().map(_.toString).toSeq
    assert(tiled == flat)

    // 3 clusters ~500 apart, per-query k=3 radii ≈ 3: every cross-cluster
    // DIRECTED tile pair must be pruned
    val stats = StrPartition.knnTileStats(ta, 3, "hausdorff", nx = 2, ny = 2)
    assert(stats.isDefined, "clustered fixture must not fall back")
    val (surviving, total) = stats.get
    assert(surviving < total / 2,
      s"expected directed tile-pair pruning to fire: $surviving of $total")
  }

  test("broadcast hints are size-guarded: past the cap the plan drops data-sized hints, result unchanged") {
    val ta = Tables.trajArrays(spark, TestSpark.sf001)
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    val hinted = StrPartition.knnJoinStr(ta, 3, "hausdorff")
    val hintedRows = hinted.collect().map(_.toString).toSeq
    spark.conf.set("spark.graft.broadcastCapBytes", "0")
    try {
      val unhinted = StrPartition.knnJoinStr(ta, 3, "hausdorff")
      // only the driver-bounded tile-pair list keeps its hint; the fat
      // coordinate frames, slim boxes frame and r_q threshold frame all
      // plan as shuffle equi-joins (AQE may still auto-broadcast small
      // sides at runtime — the point is the HINT no longer forces it)
      assert(hintCount(unhinted) == 1,
        s"expected only the tilePairs hint, got ${hintCount(unhinted)}")
      assert(hintCount(hinted) > 1, "under the cap the data-sided hints apply")
      assert(unhinted.collect().map(_.toString).toSeq == hintedRows,
        "guarded plan must produce identical results")
      // the all-pairs form drops its data-sized hints the same way
      val basePairs = StrPartition.allPairsTopKStr(ta, 10, "hausdorff")
      assert(basePairs.collect().map(_.toString).toSeq ==
        MetricOracles.allPairsNaive(ta, 10, "hausdorff").collect().map(_.toString).toSeq)
    } finally spark.conf.unset("spark.graft.broadcastCapBytes")
  }

  test("tiled kNN join falls back to the flat seeded path on tiny data") {
    val tiny = Seq(
      (0L, Seq(0.0, 1.0), Seq(0.0, 1.0)),
      (1L, Seq(5.0, 6.0), Seq(5.0, 6.0)),
      (2L, Seq(9.0, 10.0), Seq(9.0, 10.0))
    ).toDF("user_id", "xs", "ys")
    assert(StrPartition.knnTileStats(tiny, 3, "hausdorff").isEmpty)
    val flat = TrajectorySearch.knnJoin(tiny, 2, "hausdorff",
        path = TrajectorySearch.KnnPath.Seeded)
      .collect().map(_.toString).toSeq
    val tiled = StrPartition.knnJoinStr(tiny, 2, "hausdorff")
      .collect().map(_.toString).toSeq
    assert(tiled == flat)
  }
}
