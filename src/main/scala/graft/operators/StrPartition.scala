package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{BoxLbKernel, MetricCol}
import graft.util.Memo

/** Reference O8 — STR (Sort-Tile-Recursive) spatial partitioning — carried
  * into the dataflow engine as a PRE-FILTER on the all-pairs trajectory
  * search (the layer SCALE.md promises for the 10⁸-trajectory case).
  *
  * The reference bulk-loads an STR-partitioned R-tree and prunes whole
  * partitions whose boxes are provably beyond the running top-k threshold.
  * The Spark-first analog has no driver-resident tree: tile boundaries come
  * from DISTRIBUTED approximate quantiles of trajectory centroids
  * (`approxQuantile` / `percentile_approx` — the same bounded-sketch sampling
  * STR bulk-loading does), each trajectory gets a tile id, and the pair
  * ENUMERATION becomes an equi-join on surviving tile pairs instead of a
  * quadratic scan. Driver state is nx·ny tile summaries — bounded scalars.
  *
  * Exactness of the tile-level prune: tile summaries carry the UNION of the
  * member trajectories' whole MBRs, so for any pair (A ∈ tile i, B ∈ tile j)
  *
  *   metric(A,B) ≥ Hausdorff(A,B) ≥ min-point-dist(A,B)
  *               ≥ boxdist(MBR(A), MBR(B)) ≥ boxdist(union_i, union_j)
  *
  * (a union box contains every member box, and growing boxes can only shrink
  * their separation). A tile pair with union separation > r — the k-th exact
  * distance of the seed pairs — therefore cannot contain a top-k pair and is
  * never enumerated. The chain holds only for tame boxes (finite, no
  * overflowing coordinate), so a non-tame union box prunes nothing
  * ([[boxDist]]). Within surviving tile pairs the per-pair sliced-box bound
  * (`graft_boxlb`) and the early-abandoning exact kernel decide, so the
  * result is exactly the unpruned top-k (StrPartitionTest and the
  * adversarial property in TrajectorySearchTest check it against the naive
  * all-pairs join, and that tile pruning fires on clustered data).
  *
  * This is the one all-pairs top-k operator: t2 and t11 both run it. On the
  * bench fixture every user spans the same date range, so union boxes all
  * overlap and no tile pair is pruned — the scan then degrades gracefully to
  * the bound-then-refine scan with partitioned enumeration. The pruning
  * power appears exactly when data is spatially clustered — the
  * 10⁸-trajectory OSM/taxi case the reference targets.
  */
object StrPartition {

  /** Centroid + whole-trajectory MBR per row (build-time, once per USER —
    * never in a pair loop). */
  private def withMbr(ta: DataFrame): DataFrame =
    ta.withColumn("mnx", expr("array_min(xs)"))
      .withColumn("mxx", expr("array_max(xs)"))
      .withColumn("mny", expr("array_min(ys)"))
      .withColumn("mxy", expr("array_max(ys)"))
      .withColumn("cx", (col("mnx") + col("mxx")) / 2)
      .withColumn("cy", (col("mny") + col("mxy")) / 2)

  /** Fold a sorted cut array into a codegen-friendly bucket index:
    * bucket = #cuts strictly below the value. */
  private def bucketOf(v: Column, cuts: Seq[Double]): Column =
    cuts.foldLeft(lit(0))((acc, c) => acc + when(v > lit(c), 1).otherwise(0))

  /** Assign each trajectory an STR tile id in [0, nx·ny): nx x-slabs cut at
    * distributed approximate quantiles of centroid-x, then ny y-cuts per
    * slab at per-slab `percentile_approx` of centroid-y — the two sorted
    * passes of STR bulk-loading, as two bounded-sketch aggregations. Driver
    * state: (nx-1) + nx·(ny-1) doubles. Degenerate distributions simply
    * yield duplicate cuts / empty tiles, which are harmless. */
  def assignTiles(ta0: DataFrame, nx: Int, ny: Int): DataFrame = {
    val ta = withMbr(ta0)
    val xCuts: Seq[Double] =
      if (nx <= 1) Seq.empty
      else ta.stat.approxQuantile("cx", (1 until nx).map(_.toDouble / nx).toArray, 0.001).toSeq
    val slabbed = ta.withColumn("slab", bucketOf(col("cx"), xCuts))
    val yProbs = (1 until ny).map(_.toDouble / ny)
    val yCutsBySlab: Map[Int, Seq[Double]] =
      if (ny <= 1) Map.empty
      else slabbed.groupBy(col("slab"))
        .agg(percentile_approx(col("cy"), typedLit(yProbs), lit(10000)).as("cuts"))
        .collect()
        // a slab whose centroids are all null (empty trajectories) has no cuts
        .map(r => r.getInt(0) -> Option(r.getSeq[Double](1)).getOrElse(Nil))
        .toMap
    val yBucket = yCutsBySlab.foldLeft(lit(0)) { case (acc, (slab, cuts)) =>
      when(col("slab") === slab, bucketOf(col("cy"), cuts)).otherwise(acc)
    }
    slabbed.withColumn("tile", col("slab") * ny + yBucket)
      .drop("slab", "cx", "cy")
  }

  /** Tile grid and seed size of the all-pairs scan. */
  private val Nx = 4
  private val Ny = 4
  private val SeedFactor = 3

  private type Box = (Double, Double, Double, Double)

  /** Separation distance between two boxes (driver-side tile arithmetic).
    * 0 — prune nothing — unless every coordinate of both is finite and
    * within [[BoxLbKernel.TameLimit]]: a union box holding a NaN, ±Inf or
    * overflowing member coordinate bounds nothing, since the metric kernels
    * skip points at infinite distance. */
  private def boxDist(a: Box, b: Box): Double = {
    def tame(x: Box) = Seq(x._1, x._2, x._3, x._4).forall(v => math.abs(v) <= BoxLbKernel.TameLimit)
    if (!tame(a) || !tame(b)) return 0.0
    val dx = math.max(0.0, math.max(a._1 - b._2, b._1 - a._2))
    val dy = math.max(0.0, math.max(a._3 - b._4, b._3 - a._4))
    math.sqrt(dx * dx + dy * dy)
  }

  /** Bounded tile summaries (tile, union MBR, member count): ≤ nx·ny rows.
    * A tile of empty trajectories only has a null union, read as NaN. */
  private def tileSummaries(taT: DataFrame): Array[(Int, Box, Long)] =
    taT.groupBy(col("tile"))
      .agg(min(col("mnx")), max(col("mxx")), min(col("mny")), max(col("mxy")), count(lit(1)))
      .collect()
      .map { r =>
        def c(i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
        (r.getInt(0), (c(1), c(2), c(3), c(4)), r.getLong(5))
      }

  /** The prepared all-pairs scan: the snapped tile frame, the seed
    * threshold r, the surviving ORDERED tile pairs (diagonal once, each
    * surviving off-diagonal pair in both orders so `u1 < u2` enumerates every
    * cross pair exactly once), and the snapped pairs (r1, r2, u1, u2) the
    * bound keeps at r — the refine's input, so a warm call never
    * re-enumerates the tile pairs. */
  private case class TiledScan(taT: DataFrame, r: Double, tilePairs: Seq[(Int, Int)],
                               survivors: DataFrame, hintFat: Boolean, hintSlim: Boolean)

  /** Slim tiled frame (user_id, tile, boxes, whole MBR) — the STR index
    * artifact. Pass it pre-built (e.g. via `sources.IndexStore`) to skip the
    * quantile passes on a warm session; `allPairsTopKStr` accepts a frame
    * that already carries a `tile` column and skips assignment. */
  def tiledFrame(ta0: DataFrame, nx: Int, ny: Int): DataFrame =
    assignTiles(TrajectorySearch.ensureBoxes(ta0), nx, ny)
      .select(col("user_id"), col("tile"), col("boxes"),
        col("mnx"), col("mxx"), col("mny"), col("mxy"))

  /** The prepared scan, registered under the caller's key: the seed pass
    * is a build-once index step like the tile assignment itself, so a warm
    * session answering many top-k calls pays it once (the reference's
    * construct-once / query-many loop). */
  private def prepareScan(ta0: DataFrame, k: Int, metric: String,
                          cacheKey: Option[String] = None): TiledScan =
    Memo.get(ta0.sparkSession, "strScan", cacheKey, k, metric)(buildScan(ta0, k, metric, _))

  /** Pair-side projections of the scan frame: the slim one for the pair
    * scan (row id, user, tile, boxes) and the coordinates by row id. */
  private def slim(taT: DataFrame, side: String): DataFrame =
    taT.select(col("rid").as(s"r$side"), col("user_id").as(s"u$side"),
      col("tile").as(s"t$side"), col("boxes").as(s"boxes$side"))
  private def fat(taT: DataFrame, side: String): DataFrame =
    taT.select(col("rid").as(s"r$side"), col("xs").as(s"xs$side"), col("ys").as(s"ys$side"))

  private def buildScan(ta0: DataFrame, k: Int, metric: String, m: Memo.Frames): TiledScan = {
    val s = ta0.sparkSession
    graft.functions.SlicedBoxLb.register(s)
    val ta = TrajectorySearch.ensureBoxes(ta0)
    // one snapped row per input row under a row id: copies of a duplicated
    // user_id stay apart, and the coordinates ride along for the seed and
    // refine joins — the pair scan itself projects them away
    val taT0 = m.snap((if (ta.columns.contains("tile")) ta else assignTiles(ta, Nx, Ny))
      .select(monotonically_increasing_id().as("rid"), col("user_id"), col("tile"),
        col("boxes"), col("mnx"), col("mxx"), col("mny"), col("mxy"), col("xs"), col("ys"))
      .repartition(s.sparkContext.defaultParallelism, col("user_id")))
    val tiles = tileSummaries(taT0)
    // too few within-tile pairs to seed k: scan ONE tile, the whole table,
    // whose within-tile seed is the global best-bound seed
    val oneTile = tiles.map { case (_, _, n) => n * (n - 1) / 2 }.sum < k
    val taT = if (oneTile) taT0.withColumn("tile", lit(0)) else taT0

    // size-guard the broadcast hints (same guard as bruteKnnJoin)
    val st = TrajectorySearch.trajStats(ta)
    val hintFat = st.estArrayBytes <= TrajectorySearch.broadcastCap(s)
    val hintSlim = st.estSlimBytes <= TrajectorySearch.broadcastCap(s)

    // SEED from within-tile pairs (spatial neighbors → tight r): best-bound
    // SeedFactor·k pairs get the exact kernel; k-th exact distance = r.
    // Stream one side across all cores, broadcast the slim other side while
    // it fits: a 16-key shuffle join would serialize the scan onto ≤ nx·ny
    // tasks
    val exact = round(MetricCol(metric, col("xs1"), col("ys1"), col("xs2"), col("ys2")), 6)
    val seeds = slim(taT, "1")
      .join(hinted(slim(taT, "2"), hintSlim), col("t1") === col("t2") && col("u1") < col("u2"))
      .select(col("r1"), col("r2"), col("u1"), col("u2"),
        TrajectorySearch.slicedBoxLb("boxes1", "boxes2").as("lb"))
      .orderBy(col("lb"), col("u1"), col("u2")).limit(SeedFactor * k)
      .join(hinted(fat(taT, "1"), hintFat), "r1").join(hinted(fat(taT, "2"), hintFat), "r2")
      .select(exact.as("d"))
      .orderBy(col("d")).limit(k)
      .collect() // ≤ k rows
    // fewer than k seed pairs, or a NaN k-th (NaN ranks last): no bound —
    // nothing is pruned and every pair is computed exactly
    val r = seeds.lastOption.map(_.getDouble(0))
      .filter(d => seeds.length == k && !d.isNaN).getOrElse(Double.MaxValue)

    // tile-level prune (driver arithmetic over ≤ nx·ny summaries)
    val tilePairs =
      if (oneTile) Seq((0, 0))
      else {
        val ids = tiles.map(_._1)
        val boxOf = tiles.map(t => t._1 -> t._2).toMap
        (for {
          i <- ids; j <- ids
          if i < j && boxDist(boxOf(i), boxOf(j)) <= r + 1e-6
          p <- Seq((i, j), (j, i))
        } yield p).toSeq ++ ids.map(i => (i, i))
      }
    val survivors = m.snap(candidates(taT, tilePairs, hintSlim)
      .filter(col("lb") <= r + 1e-6)
      .select(col("r1"), col("r2"), col("u1"), col("u2")))
    TiledScan(taT, r, tilePairs, survivors, hintFat, hintSlim)
  }

  /** Candidate pairs (r1, r2, u1, u2, lb) enumerated via the tile-pair
    * equi-join — the quadratic scan replaced by `Σ |tile_i|·|tile_j|` over
    * surviving tile pairs. */
  private def candidates(taT: DataFrame, tilePairs: Seq[(Int, Int)],
                         hintSlim: Boolean): DataFrame = {
    val s = taT.sparkSession
    import s.implicits._
    val tp = broadcast(tilePairs.toDF("ti", "tj"))
    // equi-joins on tile id, but keyed JOINS must not key the PARTITIONING:
    // the streamed side stays partitioned by user (all cores busy) while
    // the tile-pair list and, while it fits the size guard, the slim other
    // side broadcast — past the guard this becomes a shuffle join on tile
    // id; the enumeration bound Σ|tile_i|·|tile_j| is the same either way
    slim(taT, "1").join(tp, col("t1") === col("ti"))
      .join(hinted(slim(taT, "2"), hintSlim),
        col("t2") === col("tj") && col("u1") < col("u2"))
      .select(col("r1"), col("r2"), col("u1"), col("u2"),
        TrajectorySearch.slicedBoxLb("boxes1", "boxes2").as("lb"))
  }

  /** The all-pairs top-k (t2, t11): the k smallest-distance pairs (u1 < u2)
    * by (distance, u1, u2), one row per pair of input rows.
    *
    *  1. TILES: STR tile ids ([[assignTiles]], 4×4), unless the frame
    *     carries them; a table too small to seed k within-tile pairs is one
    *     tile.
    *  2. SEED: the 3·k within-tile pairs with the smallest sliced-box bound
    *     get the exact kernel; the k-th exact distance r bounds the
    *     answer's k-th distance.
    *  3. PRUNE: tile pairs whose union boxes lie > r apart are never
    *     enumerated; enumerated pairs with `graft_boxlb` > r are dropped.
    *  4. REFINE: the surviving pairs get the early-abandoning exact kernel.
    *
    * Every discarded pair has distance ≥ its bound > r, and ≥ k seed pairs
    * sit at ≤ r, so the result is exactly the unpruned top-k. The margins
    * (bound r + 1e-6, abandon r + 1e-5) sit well above the 6-dp rounding,
    * so every pair that could tie at rounded r is computed exactly. The
    * prepared scan (steps 1-3) is registered under `cacheKey`. */
  def allPairsTopKStr(ta0: DataFrame, k: Int, metric: String = "hausdorff",
                      cacheKey: Option[String] = None): DataFrame = {
    val scan = prepareScan(ta0, k, metric, cacheKey)
    // Codegen static call — a UDF here would box 4 × |traj| doubles per pair
    val refine = round(MetricCol(metric,
      col("xs1"), col("ys1"), col("xs2"), col("ys2"), lit(scan.r + 1e-5)), 6)
    scan.survivors
      .join(hinted(fat(scan.taT, "1"), scan.hintFat), "r1")
      .join(hinted(fat(scan.taT, "2"), scan.hintFat), "r2")
      .select(col("u1"), col("u2"), refine.as(metric))
      .orderBy(col(metric), col("u1"), col("u2"))
      .limit(k)
  }

  /** (enumerated candidate pairs, total pairs) for the same plan — lets
    * tests assert that tile pruning actually fires on clustered data. */
  def candidateStats(ta0: DataFrame, k: Int, metric: String = "hausdorff"): (Long, Long) = {
    val n = ta0.count()
    (candidateFrame(ta0, k, metric).count(), n * (n - 1) / 2)
  }

  /** The candidate-enumeration frame for plan-shape assertions (equi-join on
    * tile ids — never a cartesian/nested-loop product). */
  def candidateFrame(ta0: DataFrame, k: Int, metric: String = "hausdorff"): DataFrame = {
    val scan = prepareScan(ta0, k, metric)
    candidates(scan.taT, scan.tilePairs, scan.hintSlim)
  }

  /** Prepared tiled-kNN scan: slim checkpointed tile frame, per-query
    * thresholds, surviving directed tile pairs. `None` when any tile is too
    * small to seed k within-tile candidates (fallback regime). `hintFat` /
    * `hintSlim` record whether the coordinate / boxes+threshold frames fit
    * [[TrajectorySearch.BruteBroadcastMaxBytes]] — past it the hint would
    * override autoBroadcastJoinThreshold and OOM the driver at exactly the
    * 10⁸-trajectory scale this path targets, so the joins run as plain
    * shuffle equi-joins keyed by tile / user_id / q_user instead. */
  private case class KnnScan(taT: DataFrame, rq: DataFrame,
                             tilePairs: Seq[(Int, Int)], tileCount: Int,
                             hintFat: Boolean, hintSlim: Boolean)

  /** `broadcast(df)` only when the measured size estimate allows the hint
    * (the family's one guard, [[TrajectorySearch.hinted]]). */
  private def hinted(df: DataFrame, hint: Boolean): DataFrame =
    TrajectorySearch.hinted(df, hint)

  /** [[prepareScan]]'s contract for the tiled kNN join's seed pass. */
  private def prepareKnnScan(ta0: DataFrame, k: Int, metric: String, nx: Int, ny: Int,
                             seedFactor: Int, cacheKey: Option[String] = None): Option[KnnScan] =
    Memo.get(ta0.sparkSession, "strKnnScan", cacheKey, k, metric, nx, ny, seedFactor)(
      buildKnnScan(ta0, k, metric, nx, ny, seedFactor, _))

  private def buildKnnScan(ta0: DataFrame, k: Int, metric: String, nx: Int, ny: Int,
                           seedFactor: Int, m: Memo.Frames): Option[KnnScan] = {
    import org.apache.spark.sql.expressions.Window
    val s = ta0.sparkSession
    graft.functions.SlicedBoxLb.register(s)
    val ta = TrajectorySearch.ensureBoxes(ta0)
    val taT = m.snap((if (ta.columns.contains("tile")) ta.select(col("user_id"),
        col("tile"), col("boxes"), col("mnx"), col("mxx"), col("mny"), col("mxy"))
      else tiledFrame(ta, nx, ny))
      .repartition(s.sparkContext.defaultParallelism, col("user_id")))

    val tiles = tileSummaries(taT)
    // every query must find k within-tile candidates, else seeds underflow
    if (tiles.exists(_._3 < k + 1)) return None

    // size-guard the broadcast hints (same guard as bruteKnnJoin): past the
    // cap the hint is a driver OOM, not a plan — fall to shuffle equi-joins
    val st = TrajectorySearch.trajStats(ta)
    val hintFat = st.estArrayBytes <= TrajectorySearch.broadcastCap(s)
    val hintSlim = st.estSlimBytes <= TrajectorySearch.broadcastCap(s)

    val fat = ta.select(col("user_id"), col("xs"), col("ys"))
    val qFat = ta.select(col("user_id").as("q_user"), col("xs").as("qxs"), col("ys").as("qys"))
    val exact = round(MetricCol(metric, col("xs"), col("ys"), col("qxs"), col("qys")), 6)

    // 1. within-tile bound pass: stream queries, broadcast the slim
    // candidate side while it fits (a tile-keyed shuffle join serializes
    // onto <= nx*ny tasks — acceptable only in the unhinted huge regime,
    // where nx*ny is sized up with the data)
    val withinLb = qSlimOf(taT).join(hinted(cSlimOf(taT), hintSlim),
        col("tq") === col("tc") && col("q_user") =!= col("user_id"))
      .select(col("q_user"), col("user_id"),
        TrajectorySearch.slicedBoxLb("qboxes", "boxes").as("lb"))
    val seeds = Rank.topKPerGroup(withinLb, Seq(col("q_user")),
        Seq(col("lb"), col("user_id")), seedFactor * k)
      .select(col("q_user"), col("user_id"))

    // 2. per-query threshold r_q = k-th smallest exact seed distance
    val wSeed = Window.partitionBy(col("q_user")).orderBy(col("dist"), col("user_id"))
    // consumed by the tile-radius collect AND the refine
    val rq = m.snap(seeds
      .join(hinted(fat, hintFat), "user_id").join(hinted(qFat, hintFat), "q_user")
      .select(col("q_user"), col("user_id"), exact.as("dist"))
      .withColumn("srn", row_number().over(wSeed))
      .filter(col("srn") <= k)
      .groupBy(col("q_user")).agg(max(col("dist")).as("r")))

    // 3. tile radii + surviving directed tile pairs (driver arithmetic over
    // <= (nx*ny)^2 bounded summaries)
    val tileR = rq.join(taT.select(col("user_id").as("q_user"), col("tile")), "q_user")
      .groupBy(col("tile")).agg(max(col("r")).as("rt"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val tilePairs = for {
      (ti, bi, _) <- tiles.toSeq
      (tj, bj, _) <- tiles.toSeq
      // every occupied tile has ≥ k+1 members, so every member query seeds
      // a threshold and every tile gets a radius; if that invariant ever
      // broke, the safe direction is NO pruning for that tile's queries
      if ti == tj || boxDist(bi, bj) <= tileR.getOrElse(ti, Double.MaxValue) + 1e-6
    } yield (ti, tj)
    Some(KnnScan(taT, rq, tilePairs, tiles.length, hintFat, hintSlim))
  }

  private def qSlimOf(taT: DataFrame): DataFrame =
    taT.select(col("user_id").as("q_user"), col("tile").as("tq"), col("boxes").as("qboxes"))
  private def cSlimOf(taT: DataFrame): DataFrame =
    taT.select(col("user_id"), col("tile").as("tc"), col("boxes"))

  /** STR-tiled k-nearest-neighbor JOIN — the tile pre-filter applied to the
    * per-query bound seeding of `TrajectorySearch.knnJoin` (the flat seeded
    * path's 10^8-trajectory form, where even the slim all-pairs bound scan
    * is the bottleneck):
    *
    *  1. SEED WITHIN TILES: each query's `seedFactor*k` best-bound
    *     candidates come from its OWN tile (spatial neighbors -> tight
    *     thresholds); the k-th exact seed distance is the per-query
    *     threshold r_q. A subset threshold is a valid upper bound on the
    *     global k-th distance, so pruning with it is exact.
    *  2. TILE RADII: R_t = max r_q over queries in tile t (one bounded
    *     aggregate; nx*ny driver scalars).
    *  3. DIRECTED TILE-PAIR PRUNE: queries in tile t enumerate candidates
    *     only from tiles t' with boxdist(union_t, union_t') <= R_t - any
    *     pruned candidate c has d(q,c) >= boxdist > R_t >= r_q, and q
    *     already holds k seeds at <= r_q, so c cannot enter q's top-k.
    *  4. REFINE: surviving (q, c) pairs get the sliced-box bound, the
    *     per-query `lb <= r_q` filter, the early-abandoning exact kernel,
    *     and the two-stage bounded rank - identical to the flat path.
    *
    * Identical results to `TrajectorySearch.knnJoin` (asserted at two SFs
    * and on clustered synthetic data where the tile prune provably fires).
    * Falls back to the flat seeded path when any tile is too small to seed
    * k candidates (tiny data). The broadcast hints on the coordinate /
    * boxes / threshold frames are SIZE-GUARDED (`TrajStats` vs
    * `BruteBroadcastMaxBytes`, measured once per prepared scan): past the
    * cap the joins plan as shuffle equi-joins keyed by tile / user_id /
    * q_user - the enumeration bound over surviving |tile_q|*|tile_c| is the
    * same either way, and the driver never ships a 10^8-row build side. */
  def knnJoinStr(ta0: DataFrame, k: Int, metric: String = "hausdorff",
                 nx: Int = 4, ny: Int = 4, seedFactor: Int = 3,
                 cacheKey: Option[String] = None): DataFrame = {
    val s = ta0.sparkSession
    val ta = TrajectorySearch.ensureBoxes(ta0)
    prepareKnnScan(ta, k, metric, nx, ny, seedFactor, cacheKey) match {
      case None =>
        TrajectorySearch.knnJoin(ta, k, metric, seedFactor,
          TrajectorySearch.KnnPath.Seeded)
      case Some(scan) =>
        import s.implicits._
        val fat = ta.select(col("user_id"), col("xs"), col("ys"))
        val qFat = ta.select(col("user_id").as("q_user"), col("xs").as("qxs"), col("ys").as("qys"))
        // 4. enumeration over surviving directed pairs, per-query bound
        // filter, early-abandon refine, bounded two-stage rank
        // tilePairs is driver-bounded ((nx*ny)^2 rows) — always hinted;
        // the data-sized sides reuse the scan's measured guards
        val tp = broadcast(scan.tilePairs.toDF("tq", "tc"))
        val cand = qSlimOf(scan.taT).join(tp, "tq")
          .join(hinted(cSlimOf(scan.taT).withColumnRenamed("tc", "tc2"), scan.hintSlim),
            col("tc") === col("tc2") && col("q_user") =!= col("user_id"))
          .select(col("q_user"), col("user_id"),
            TrajectorySearch.slicedBoxLb("qboxes", "boxes").as("lb"))
        val refine = round(MetricCol(metric,
          col("xs"), col("ys"), col("qxs"), col("qys"), col("r") + 1e-5), 6)
        val refined = cand.join(hinted(scan.rq, scan.hintSlim), "q_user")
          .filter(col("lb") <= col("r") + 1e-6)
          .join(hinted(fat, scan.hintFat), "user_id")
          .join(hinted(qFat, scan.hintFat), "q_user")
          .select(col("q_user"), col("user_id"), refine.as("dist"))
        Rank.topKPerGroup(refined, Seq(col("q_user")),
            Seq(col("dist"), col("user_id")), k)
          .select(col("q_user"), col("user_id"), col("dist"))
          .orderBy(col("q_user"), col("dist"), col("user_id"))
    }
  }

  /** (surviving directed tile pairs, total directed tile pairs) of
    * [[knnJoinStr]]'s prune on this data — lets tests assert the tile-level
    * prune fires on clustered data. `None` in the fallback regime. */
  def knnTileStats(ta0: DataFrame, k: Int, metric: String = "hausdorff",
                   nx: Int = 4, ny: Int = 4, seedFactor: Int = 3): Option[(Int, Int)] =
    prepareKnnScan(ta0, k, metric, nx, ny, seedFactor)
      .map(scan => (scan.tilePairs.size, scan.tileCount * scan.tileCount))
}
