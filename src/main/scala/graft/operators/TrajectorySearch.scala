package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

import graft.Tables
import graft.functions.{BoxLbKernel, MetricCol}
import graft.geo.Metrics
import graft.util.Memo
import graft.util.Snap

/** Reference O15 — the flagship query of the DFT system: the k most
  * similar trajectories to a query trajectory, or to each of a query set,
  * under Hausdorff or discrete Fréchet distance. [[topKPruned]] (t7/t8),
  * [[topKBatchPruned]] (t9) and the ε-gate [[epsilonGate]] (t28) share one
  * partition-local branch-and-bound search ([[searchQuerySet]]), the
  * bound-then-refine pattern implemented for vectors in
  * VectorOps.cosineSelfJoin. */
object TrajectorySearch {

  /** Time-sliced MBR lower bound (reference O4/O11 carried to pairs): with
    * A partitioned into time slices {Aᵢ} and B into {Bⱼ}, every a ∈ Aᵢ has
    * `min_b d(a,b) ≥ min_j boxdist(Aᵢ, Bⱼ)`, so the directed Hausdorff
    * `h(A,B) = max_a min_b d(a,b) ≥ max_i min_j boxdist(Aᵢ, Bⱼ)`, and
    * `LB = max(h⃗_bound(A,B), h⃗_bound(B,A)) ≤ Hausdorff(A,B) ≤ Fréchet(A,B)`.
    * Evaluated by the codegen'd native expression `graft_boxlb`
    * (functions.SlicedBoxLb) over the flat box arrays — a HOF formulation
    * of the same bound runs interpreted and is ~100× slower per pair, which
    * an all-pairs join cannot afford. */
  def slicedBoxLb(boxes1: String, boxes2: String): org.apache.spark.sql.Column =
    expr(s"graft_boxlb($boxes1, $boxes2)")

  /** Slim all-pairs bound frame (u1, u2, lb) over every pair — a
    * measurement surface (pruning probes, [[allPairsSurvivorCount]]), not a
    * search path: the pair scan runs over (user_id, boxes) only, with the
    * codegen'd `graft_boxlb` bound in the join projection and the streamed
    * side repartitioned so the scan parallelizes across all cores. */
  def allPairsLb(ta0: DataFrame): DataFrame = {
    val ta = ensureBoxes(ta0)
    graft.functions.SlicedBoxLb.register(ta.sparkSession)
    // explicit partition count: AQE would coalesce this ~50 KB shuffle to
    // ONE partition and serialize the whole quadratic scan
    val sa = ta.select(col("user_id").as("u1"), col("boxes").as("boxes1"))
      .repartition(ta.sparkSession.sparkContext.defaultParallelism, col("u1"))
    val sb = ta.select(col("user_id").as("u2"), col("boxes").as("boxes2"))
    // size-guarded hint: past the cap the non-equi scan plans as a
    // partitioned cartesian instead of a forced driver-OOM broadcast
    sa.join(hinted(sb, trajStats(ta).estSlimBytes <= broadcastCap(ta.sparkSession)),
        col("u1") < col("u2"))
      .select(col("u1"), col("u2"), slicedBoxLb("boxes1", "boxes2").as("lb"))
  }

  /** `broadcast(df)` only while the size estimate fits [[broadcastCap]] —
    * a hint overrides autoBroadcastJoinThreshold, so past the cap it is a
    * driver OOM, not a plan. The ONE size-guarded hint helper of the
    * trajectory-search family (StrPartition reuses it). */
  private[operators] def hinted(df: DataFrame, hint: Boolean): DataFrame =
    if (hint) broadcast(df) else df

  /** The k smallest-distance pairs over ALL trajectory pairs (t2 surface):
    * [[StrPartition.allPairsTopKStr]], the one all-pairs operator. */
  def allPairsTopK(ta0: DataFrame, k: Int, metric: String = "hausdorff"): DataFrame =
    StrPartition.allPairsTopKStr(ta0, k, metric)

  /** [[allPairsTopK]] with the prepared scan registered under `cacheKey`. */
  def allPairsTopKAuto(ta0: DataFrame, k: Int, metric: String = "hausdorff",
                       cacheKey: Option[String] = None): DataFrame =
    StrPartition.allPairsTopKStr(ta0, k, metric, cacheKey)

  /** Reference-workload batch form of O15 (t9): the [[topKPruned]] search
    * for every id of a query set, in one lookup job plus one search job per
    * chunk of queries ([[searchQuerySet]]). Rows `(q_user, user_id, dist)`
    * ordered by (q_user, dist, user_id), NaN last; ids listed twice count
    * once, and an id absent from the table has no rows. */
  def topKBatchPruned(ta0: DataFrame, queryUsers: Seq[Long], k: Int,
                      metric: String = "hausdorff"): DataFrame =
    localFrame(ta0.sparkSession, topKSearch(ta0, queryUsers, k, metric)
      .map { case (q, h) => Row(q, h.user, h.dist) },
      "q_user" -> LongType, "user_id" -> LongType, "dist" -> DoubleType)

  /** Physical path of [[knnJoin]]. `Auto` (the default) picks from measured
    * table stats — see [[choosePath]] for the crossover. */
  sealed abstract class KnnPath
  object KnnPath {
    /** Measure the table, pick the regime (default): the flat
      * brute/seeded crossover from [[choosePath]], plus — past
      * [[TiledMinUsers]] in the seeded regime — the [[clusterStat]]
      * occupancy statistic, which detects spatially clustered data and
      * dispatches the Tiled plan ([[chooseAutoPath]]). */
    case object Auto extends KnnPath
    /** Force the symmetric all-pairs kernel scan (short-trajectory regime). */
    case object Brute extends KnnPath
    /** Force the relational bound-seeded plan (long-trajectory / large-N regime). */
    case object Seeded extends KnnPath
    /** Force the STR-tiled plan ([[StrPartition.knnJoinStr]]) — the
      * 10⁸-trajectory form: enumeration bounded by surviving tile pairs. */
    case object Tiled extends KnnPath
  }

  /** Brute wins only while a kernel call (O(n̄·m̄) point ops) costs less than
    * the bound bookkeeping it would save — and the crossover is in POINTS,
    * not users: both paths enumerate all N·(N−1)/2 pairs, so they scale the
    * same way in N (ScaleSmoke, sf0.1 ×1/×3: brute 4.0→41.7 s, seeded
    * 12.6→174.7 s — brute stays ~4× ahead at 13-point trajectories at any
    * measured N). Against points (ScaleSmoke crossover, 1 500 clustered
    * trajectories): 13 pts ≈ tie (6.0 vs 5.0 s), 32 pts seeded wins 4.5×
    * (25.7 vs 5.7 s), 64/128 pts seeded wins 2–4×. 32 is the measured
    * boundary: below it brute's margin depends on how much the data lets
    * the bound prune; above it seeded wins on every fixture tried. */
  private[graft] val BruteMaxMedianPoints = 32.0
  /** Brute's second requirement: its build side (the full coordinate
    * table) must be broadcast-sized — past this the hint is a driver OOM,
    * not a plan, so the dispatcher falls to seeded, whose per-query
    * thresholds at least bound the KERNEL work. (At a pair count where even
    * the slim bound scan is the bottleneck, neither flat path is right —
    * the STR tile enumeration (StrPartition.allPairsTopKStr) replaces the
    * pair scan itself; see SCALE.md.) */
  private[graft] val BruteBroadcastMaxBytes = 64L << 20

  /** The broadcast-hint cap in force for a session: a deployment sizes this
    * to its driver/executor memory via `spark.graft.broadcastCapBytes`;
    * defaults to [[BruteBroadcastMaxBytes]]. Every data-sized broadcast()
    * hint in the trajectory-search family is gated on it — a hint overrides
    * autoBroadcastJoinThreshold, so past the cap it is a driver OOM, not a
    * plan. */
  private[graft] def broadcastCap(s: SparkSession): Long =
    s.conf.getOption("spark.graft.broadcastCapBytes").map(_.toLong)
      .getOrElse(BruteBroadcastMaxBytes)

  /** Measured stats of a trajectory-array table: one tiny aggregate over the
    * persisted one-row-per-user frame (never the raw events). */
  private[graft] case class TrajStats(users: Long, medianPoints: Double) {
    /** Estimated bytes of the brute join's broadcast build side: two double
      * arrays per user plus per-row struct overhead. */
    def estArrayBytes: Long = (users * (16.0 * medianPoints + 100.0)).toLong
    /** Estimated bytes of a SLIM frame (user_id + flat `boxes` array:
      * ≤ TrajSlices slices × 4 doubles, plus struct overhead) — the build
      * side of the tiled path's bound/threshold joins. Also a conservative
      * bound on the one-row-per-query threshold frame r_q. */
    def estSlimBytes: Long = users * (32L * Tables.TrajSlices + 100L)
  }

  private[graft] def trajStats(ta: DataFrame): TrajStats = {
    val r = ta.agg(count(lit(1)), median(size(col("xs")))).head()
    TrajStats(r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1)) // null: empty table
  }

  /** [[trajStats]] memoized per (session, caller key): a deterministic
    * stat of an immutable-per-session table, so a warm session answering
    * repeated Auto dispatches must not re-pay its aggregation job each
    * call (measured 0.7–1.2 s per call on the bench box; guide §1.2 —
    * don't compute things you throw away). */
  private[graft] def trajStatsCached(ta: DataFrame, cacheKey: Option[String]): TrajStats =
    Memo.get(ta.sparkSession, "trajStats", cacheKey)(_ => trajStats(ta))

  /** Data-driven regime choice for [[knnJoin]] (the reference's O11 bound
    * seeding made a measured decision, not a flag): brute only when the
    * kernel is cheap (short trajectories, [[BruteMaxMedianPoints]] —
    * measured crossover) AND the coordinate table broadcasts
    * ([[BruteBroadcastMaxBytes]]); anything else — long trajectories, or a
    * table too big to ship to every task — takes the bound-seeded path
    * whose exact kernels run on per-query survivors only. */
  private[graft] def choosePath(st: TrajStats,
                                cap: Long = BruteBroadcastMaxBytes): KnnPath =
    if (st.medianPoints <= BruteMaxMedianPoints && st.estArrayBytes <= cap)
      KnnPath.Brute
    else KnnPath.Seeded

  /** Below this, the tiled path's extra passes (quantile cuts, tile
    * summaries, per-tile radii) dominate: measured ~parity at 150 users
    * (sf0.01) vs a 3.4× win at 1 500 (sf0.1, BASELINE.md scale spot-check),
    * so the dispatcher only considers Tiled past the midpoint. */
  private[graft] val TiledMinUsers = 1000L
  /** Past this user count Tiled wins REGARDLESS of points or clustering —
    * within-tile seeding + bound-pruned refine beats even the cheap-kernel
    * brute scan once the quadratic pair space is large enough. Measured on
    * the UNIFORM 13-point fixture (worst case for tiling — zero tile-pair
    * pruning): ×1 1 500 users tiled 2.4–2.7 s vs brute 3.3 s (~parity);
    * ×3 4 500 users 13.3 s vs 41.7 s (3.1×); ×10 15 000 users 27.1 s vs
    * 131–178 s (5–6×). 3 000 sits between the parity point and the first
    * clear win. */
  private[graft] val TiledFlatKnee = 3000L
  /** Occupancy-histogram granularity for [[clusterStat]]. */
  private[graft] val ClusterGrid = 8
  /** Tiled engages when ≥ this fraction of grid cells hold NO centroid:
    * uniform data occupies nearly every cell (empty fraction ≈ 0), while
    * separated clusters leave most of the bounding box vacant (3–4 distant
    * clusters → ≥ 0.9 empty). 0.5 splits the regimes with a wide margin on
    * both sides. */
  private[graft] val ClusterEmptyFrac = 0.5

  /** Spatial-clustering statistic the flat TrajStats cannot see: the
    * fraction of EMPTY cells in a [[ClusterGrid]]² uniform grid over the
    * global centroid bounding box. Computed entirely from the slim `boxes`
    * slice-MBR arrays (never the coordinate arrays): per-trajectory centroid
    * = center of the union of its slice boxes, one bounding-box aggregate +
    * one ≤ grid²-row distinct-cell count. Deterministic — no sampling. */
  private[graft] def clusterStat(ta0: DataFrame): Double = {
    val ta = ensureBoxes(ta0)
    def mins(off: Int) =
      s"transform(sequence(0, size(boxes) DIV 4 - 1), i -> boxes[i * 4 + $off])"
    // two slim jobs (bbox, then occupied-cell count) — re-scanning the
    // boxes projection twice beats managing checkpoint storage for a stat
    val cent = ta.select(
      expr(s"(array_min(${mins(0)}) + array_max(${mins(1)})) / 2").as("cx"),
      expr(s"(array_min(${mins(2)}) + array_max(${mins(3)})) / 2").as("cy"))
    val b = cent.agg(min(col("cx")), max(col("cx")), min(col("cy")), max(col("cy"))).head()
    val (mnx, mxx, mny, mxy) = (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    val w = math.max(mxx - mnx, 1e-12)
    val h = math.max(mxy - mny, 1e-12)
    val g = ClusterGrid
    val occupied = cent.select(
        (least(floor((col("cx") - mnx) / w * g), lit(g - 1)) * g +
         least(floor((col("cy") - mny) / h * g), lit(g - 1))).as("cell"))
      .distinct().count()
    1.0 - occupied.toDouble / (g.toLong * g)
  }

  /** Full `Auto` dispatch, in measured order of dominance:
    *  1. past [[TiledFlatKnee]] users, Tiled unconditionally — it beats
    *     both flat paths there even on uniform data (no stat jobs needed);
    *  2. otherwise the flat brute/seeded points-crossover;
    *  3. in the seeded regime past [[TiledMinUsers]], the clustering
    *     statistic upgrades Seeded → Tiled (clustered mid-size tables
    *     benefit from tile-pair pruning before the flat knee). The stat's
    *     two slim jobs are charged only to tables big enough that they are
    *     noise next to the pair scan they may replace — and with a
    *     `cacheKey` they are paid once per (session, table), not per call. */
  private[graft] def chooseAutoPath(ta: DataFrame, st: TrajStats, cap: Long,
                                    cacheKey: Option[String] = None): KnnPath =
    if (st.users >= TiledFlatKnee) KnnPath.Tiled
    else choosePath(st, cap) match {
      case KnnPath.Brute => KnnPath.Brute
      case _ =>
        // memoized like [[trajStatsCached]]: a warm session answering
        // repeated Auto kNN calls must not re-pay its two jobs each time
        val stat = Memo.get(ta.sparkSession, "clusterStat", cacheKey)(_ => clusterStat(ta))
        if (st.users >= TiledMinUsers && stat >= ClusterEmptyFrac)
          KnnPath.Tiled
        else KnnPath.Seeded
    }

  /** k-nearest-neighbor JOIN under a trajectory metric: for EVERY
    * trajectory, its k most similar others — the reference workload (O15)
    * as a single self-join operator rather than a query loop.
    *
    * Two physical paths, same answer (equivalence-tested); the default
    * `KnnPath.Auto` picks per-invocation from measured stats ([[choosePath]]):
    *  - `Seeded`: relational per-query bound seeding ([[batchPrunedOf]])
    *    with every trajectory as a query. The right
    *    regime when the kernel dominates (LONG trajectories) or the pair
    *    count is large: exact distances run only on per-query bound
    *    survivors. At 10⁸ trajectories the slim boxes frame outgrows a
    *    broadcast and the STR tile pre-filter (StrPartition) supplies the
    *    pair enumeration instead; seed/threshold/refine stages are unchanged.
    *  - `Brute`: symmetric brute force — exact kernel ONCE per unordered
    *    pair (u1 < u2, d(a,b) = d(b,a)), checkpointed, mirrored, then the
    *    two-stage bounded rank. The right regime when trajectories are SHORT
    *    and the table small (fixture: ~13 points → a kernel call costs less
    *    than the bound bookkeeping it would save — measured 17.5 s seeded vs
    *    3.5 s brute at sf0.1's 1500 users). The broadcast hint is applied
    *    only under [[BruteBroadcastMaxBytes]]; a forced Brute on a bigger
    *    table plans without the hint instead of OOMing the driver.
    */
  def knnJoin(ta0: DataFrame, k: Int, metric: String = "hausdorff",
              seedFactor: Int = 3, path: KnnPath = KnnPath.Auto,
              cacheKey: Option[String] = None): DataFrame = {
    val ta = ensureBoxes(ta0)
    path match {
      case KnnPath.Seeded => batchPrunedOf(ta, k, metric, seedFactor)
      case KnnPath.Tiled => StrPartition.knnJoinStr(ta, k, metric, seedFactor = seedFactor)
      case _ =>
        val st = trajStatsCached(ta, cacheKey)
        val cap = broadcastCap(ta.sparkSession)
        val chosen =
          if (path == KnnPath.Brute) KnnPath.Brute
          else chooseAutoPath(ta, st, cap, cacheKey)
        chosen match {
          case KnnPath.Brute =>
            bruteKnnJoin(ta, k, metric, hintBroadcast = st.estArrayBytes <= cap)
          case KnnPath.Tiled =>
            StrPartition.knnJoinStr(ta, k, metric, seedFactor = seedFactor)
          case _ => batchPrunedOf(ta, k, metric, seedFactor)
        }
    }
  }

  /** The brute half-join's checkpoint-BUILD frame (pre-snap), exposed so
    * the plan guard and plans/r14 dumps can pin the kernel stage's shape —
    * the final query plan only shows the checkpointed ExistingRDD. */
  private[graft] def bruteHalfBuild(ta: DataFrame, metric: String,
                                    hintBroadcast: Boolean): DataFrame = {
    // explicit fan-out of the STREAMED side (the allPairsLb rule): the
    // per-user array table is physically a FEW small partitions (AQE
    // coalesces its build shuffle), so without this the entire |users|²/2
    // kernel scan runs in ONE task — measured 1 partition / one 1.5 s
    // serial task at sf0.1; fanned, the same scan is ~34 parallel tasks
    // (r14 A/B, OPTIMIZATION_r14.md "t21"). The shuffle moved is the slim array
    // table itself, once.
    val a = ta.select(col("user_id").as("u1"), col("xs").as("xs1"), col("ys").as("ys1"))
      .repartition(ta.sparkSession.sparkContext.defaultParallelism, col("u1"))
    val b0 = ta.select(col("user_id").as("u2"), col("xs").as("xs2"), col("ys").as("ys2"))
    val b = if (hintBroadcast) broadcast(b0) else b0
    // one kernel evaluation per unordered pair
    a.join(b, col("u1") < col("u2"))
      .select(col("u1"), col("u2"),
        round(MetricCol(metric, col("xs1"), col("ys1"), col("xs2"), col("ys2")), 6).as("dist"))
  }

  private def bruteKnnJoin(ta: DataFrame, k: Int, metric: String,
                           hintBroadcast: Boolean): DataFrame = {
    // the 24-byte (u1, u2, d) rows are materialized so the mirror does not
    // re-run the kernels; nothing owns this per-call snapshot, so it is local
    val half = Snap.local(bruteHalfBuild(ta, metric, hintBroadcast))
    val sym = half.unionAll(
        half.select(col("u2").as("u1"), col("u1").as("u2"), col("dist")))
      .select(col("u1").as("q_user"), col("u2").as("user_id"), col("dist"))
    Rank.topKPerGroup(sym, Seq(col("q_user")), Seq(col("dist"), col("user_id")), k)
      .select(col("q_user"), col("user_id"), col("dist"))
      .orderBy(col("q_user"), col("dist"), col("user_id"))
  }

  /** Conservative per-row bytes of the one-row-per-query r_q threshold
    * frame (q_user + r + row overhead) for its broadcast-hint gate. */
  private[graft] val RqRowBytes = 128L

  /** Bound-seeded kNN self-join, fully relational (no driver threshold):
    * per query row, the `seedFactor·k` best-bound candidates are the seeds,
    * their k-th exact distance is the query's threshold r_q, and candidates
    * with `lb ≤ r_q` are refined by the early-abandoning kernel. */
  private def batchPrunedOf(ta: DataFrame, k: Int,
                            metric: String, seedFactor: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.SlicedBoxLb.register(ta.sparkSession)

    // size-guard EVERY data-sized hint (the StrPartition.hinted pattern):
    // the query side IS the corpus, so `fat`/`qFat`/`qSlim` are
    // corpus-sized — an unconditional hint would OOM every
    // executor at 10⁸ trajectories. Past the cap the equi-joins on
    // user_id/q_user plan as shuffle joins (the bounded seeds/survivor
    // frames become the small sides the planner broadcasts on its own),
    // and the non-equi bound pass runs partitioned instead of shipped.
    val cap = broadcastCap(ta.sparkSession)
    val st = trajStats(ta)
    val hintFat = st.estArrayBytes <= cap
    val hintSlim = st.estSlimBytes <= cap
    val hintRq = st.users * RqRowBytes <= cap

    val qSlim = ta.select(col("user_id").as("q_user"), col("boxes").as("qboxes"))
    val qFat = ta.select(col("user_id").as("q_user"), col("xs").as("qxs"), col("ys").as("qys"))
    val fat = ta.select(col("user_id"), col("xs"), col("ys"))
    val exact = round(MetricCol(metric, col("xs"), col("ys"), col("qxs"), col("qys")), 6)

    // slim bound pass: (q_user, user_id, lb)
    val lbs = ta.select(col("user_id"), col("boxes"))
      .join(hinted(qSlim, hintSlim), col("user_id") =!= col("q_user"))
      .select(col("q_user"), col("user_id"), slicedBoxLb("boxes", "qboxes").as("lb"))

    // two-stage seed selection — the pre-pruning candidate set per query is
    // the whole table, so the best-bound pick must not be a single-reducer
    // window (Rank.topKPerGroup)
    val seeds = Rank.topKPerGroup(lbs, Seq(col("q_user")),
        Seq(col("lb"), col("user_id")), seedFactor * k)
      .select(col("q_user"), col("user_id"))

    // per-query threshold r_q = k-th smallest exact seed distance (or the
    // max seed distance when a query has fewer than k candidates)
    val wSeed = Window.partitionBy(col("q_user")).orderBy(col("dist"), col("user_id"))
    val rq = seeds
      .join(hinted(fat, hintFat), "user_id").join(hinted(qFat, hintFat), "q_user")
      .select(col("q_user"), col("user_id"), exact.as("dist"))
      .withColumn("srn", row_number().over(wSeed))
      .filter(col("srn") <= k)
      .groupBy(col("q_user")).agg(max(col("dist")).as("r"))

    val refine = round(MetricCol(metric,
      col("xs"), col("ys"), col("qxs"), col("qys"), col("r") + 1e-5), 6)
    val refined = lbs.join(hinted(rq, hintRq), "q_user")
      .filter(col("lb") <= col("r") + 1e-6)
      .join(hinted(fat, hintFat), "user_id").join(hinted(qFat, hintFat), "q_user")
      .select(col("q_user"), col("user_id"), refine.as("dist"))
    // survivors per query are bound-pruned but can still be large at scale —
    // final top-k is the same two-stage selection
    Rank.topKPerGroup(refined, Seq(col("q_user")),
        Seq(col("dist"), col("user_id")), k)
      .select(col("q_user"), col("user_id"), col("dist"))
      .orderBy(col("q_user"), col("dist"), col("user_id"))
  }

  /** Survivor count of the sliced-box bound at threshold r over all pairs —
    * exposed for tests asserting that pruning actually fires. */
  def allPairsSurvivorCount(ta0: DataFrame, r: Double): Long =
    allPairsLb(ta0).filter(col("lb") <= r).count()

  /** Certified expanding-box point kNN over a tile-clustered
    * [[graft.sources.GraftTable]] (t27): scan the half-width-r box around
    * the query point with conjunctive manifest pruning, take the top-k by
    * 6-dp-rounded distance, and STOP once the kth exact distance proves no
    * point outside the box can enter the rounded ranking (max exact ≤
    * r − 1e-6: outside points are > r away, so they rank strictly behind);
    * otherwise double r. Driver work per step is one ≤k-row collect
    * (bounded by construction), steps are O(log domain), and at 100 TB a
    * probe reads a few tiles' files — the reference's index-seeded kNN
    * (O9 leaf descent + O11 bound seeding) with the manifest as the index.
    * The point table must carry integral tile columns `txCol`/`tyCol`
    * (= ⌊x⌋/⌊y⌋) declared as stats columns. Result: (user_id, event_id, d)
    * ordered by (d, user_id, event_id) — EXACT (t27 proves it against the
    * raw-parquet oracle). */
  def pointKnnOverTable(s: SparkSession, tdir: String, qx: Double, qy: Double,
                        k: Int, txCol: String = "tx", tyCol: String = "ty"): DataFrame = {
    val gt = graft.sources.GraftTable
    val v = gt.currentVersion(tdir)
      .getOrElse(throw new IllegalStateException(s"no table at $tdir"))
    val files = gt.manifest(tdir, v).files
    // The certificate below reasons over the tile DOMAIN from manifest
    // stats; a stats-less file would silently shrink that domain and let
    // the `full` early-exit fire while the file still holds unseen points
    // (kept by scanWhereAll's conservative pruning but cut by the x/y box
    // row filter) — a truncated kNN answer. Fail fast on the documented
    // contract instead: every file must carry tile-column stats.
    def bound(c: String) = {
      val bs = files.map(f => f.stats.getOrElse(c, throw new IllegalArgumentException(
        s"pointKnnOverTable requires tile-column stats for '$c' on every manifest file " +
          s"(declare it among the table's stats columns at write time); " +
          s"file ${f.path} of $tdir@v$v carries none")))
      (bs.map(_._1).min, bs.map(_._2).max)
    }
    val cols = Seq("user_id" -> LongType, "event_id" -> LongType, "d" -> DoubleType)
    if (files.isEmpty) return localFrame(s, Nil, cols: _*)
    val (txLo, txHi) = bound(txCol); val (tyLo, tyHi) = bound(tyCol)
    val dist2 = (col("x") - qx) * (col("x") - qx) + (col("y") - qy) * (col("y") - qy)
    def candidates(r: Double) =
      gt.scanWhereAll(s, tdir, Some(v), Seq(
          (txCol, math.floor(qx - r).toLong, math.floor(qx + r).toLong),
          (tyCol, math.floor(qy - r).toLong, math.floor(qy + r).toLong)))
        .filter(col("x").between(qx - r, qx + r) && col("y").between(qy - r, qy + r))
        .select(col("user_id"), col("event_id"),
          round(sqrt(dist2), 6).as("d"), sqrt(dist2).as("dx"))
        .orderBy(col("d"), col("user_id"), col("event_id"))
        .limit(k)
    var r = 2.0
    var out: DataFrame = null
    while (out == null) {
      // tiles span [t, t+1): full coverage needs the box past txHi+1, not
      // merely touching tile txHi — then terminate unconditionally
      val full = qx - r <= txLo && qx + r >= txHi + 1 &&
        qy - r <= tyLo && qy + r >= tyHi + 1
      val got = candidates(r).collect() // ≤ k rows — bounded by construction
      val certified = got.length >= k &&
        got.map(_.getAs[Double]("dx")).max <= r - 1e-6
      if (full || certified) {
        // the ≤k collected rows ARE the answer, already ordered — rebuild
        // locally instead of re-running the pruned scan + sort on consume
        out = localFrame(s, got.toSeq.map(g => Row(g.getLong(g.fieldIndex("user_id")),
          g.getLong(g.fieldIndex("event_id")), g.getDouble(g.fieldIndex("d")))), cols: _*)
      }
      else r *= 2
    }
    out
  }

  /** Spatial INGEST GATE (t28): admit each BATCH trajectory iff no CORPUS
    * trajectory lies within `tau` under `metric` — the trajectory-space
    * member of the incremental-admission family (d14 gates lexical
    * near-dups, v11 semantic ones; this gates route duplicates — the
    * same path re-recorded — that token/embedding hashing cannot see).
    * The ε mode of [[searchQuerySet]], the batch its query set (cross
    * pairs only; 2 jobs for a one-chunk batch). One `(user_id, n_close,
    * admitted)` row per batch row, by user_id: an id's rows share its close
    * pairs' count over all its rows; a null batch id is `(null, 0, 1)`. */
  def epsilonGate(corpus0: DataFrame, batch0: DataFrame, tau: Double,
                  metric: String = "hausdorff"): DataFrame = {
    val (frechet, batch) = (MetricCol.isFrechet(metric), lookup(ensureBoxes(batch0), _ => true))
    val close = searchQuerySet(ensureBoxes(corpus0), batch, Within(tau), frechet).toMap
    localFrame(corpus0.sparkSession, batch.map(_._1).sorted.map { u =>
      val n = u.flatMap(close.get).getOrElse(0L)
      Row(u.map(Long.box).orNull, n, if (n == 0L) 1L else 0L)
    }, "user_id" -> LongType, "n_close" -> LongType, "admitted" -> LongType)
  }

  /** Frames built by Tables.trajArrays carry `boxes`; synthetic xs/ys
    * frames get them derived on the fly. */
  private[operators] def ensureBoxes(ta: DataFrame): DataFrame =
    if (ta.columns.contains("boxes")) ta else graft.Tables.withSliceBoxes(ta)

  /** Reference O11/O13 single search (t7/t8): the 1-query case of
    * [[searchQuerySet]], rows `(user_id, dist)` ordered by (dist, user_id),
    * NaN last. */
  def topKPruned(ta0: DataFrame, queryUser: Long, k: Int, metric: String): DataFrame =
    localFrame(ta0.sparkSession, topKSearch(ta0, Seq(queryUser), k, metric)
      .map { case (_, h) => Row(h.user, h.dist) },
      "user_id" -> LongType, "dist" -> DoubleType)

  /** [[searchQuerySet]]'s top-k mode over the query ids' rows of `ta0`. */
  private def topKSearch(ta0: DataFrame, queryUsers: Seq[Long], k: Int,
                         metric: String): Seq[(Long, Hit)] = {
    require(k >= 0, s"k must be non-negative, got $k")
    val (frechet, ta, ids) = (MetricCol.isFrechet(metric), ensureBoxes(ta0), queryUsers.toSet)
    if (k == 0 || ids.isEmpty) Nil
    else searchQuerySet(ta, lookup(ta, _.exists(ids)), TopK(k), frechet)
      .flatMap { case (u, top) => top.map(u -> _) }
  }

  /** Reference O11/O13 search over a query set, run the way DFT (and
    * REPOSE) runs its top-k and its threshold (ε) queries: per non-null
    * query id ascending, its [[TopK]] or [[Within]] result. An id's rows
    * (from the caller's [[lookup]] job) form one query. One search job per
    * [[chunked]] chunk of queries ships it to every partition of `ta` (a
    * frame with `boxes`), which copies its rows once and per query ranks
    * the candidates by the sliced-box bound ([[graft.functions.BoxLbKernel]])
    * and runs the exact kernel (`Metrics.hausdorffBounded`/`frechetBounded`)
    * in bound order against a threshold thr: the k-th held rounded
    * distance (∞ until k are held), or τ. The kernel abandons past
    * thr + 1e-5, the scan stops at the first bound past thr + 1e-6, and
    * ≤ k hits or one count per query return to the driver's merge. The
    * jobs run over the table's planned RDD (`queryExecution.toRdd`).
    *
    * Exactness (TrajectorySearchTest checks row-for-row equality with the
    * unpruned relational searches and gate on adversarial tables).
    * Distances are compared after the 6-dp rounding of `round(x, 6)`, and
    * both margins sit well above its 1e-6 granularity (for distances whose
    * double spacing is finer than the margins, i.e. below ~1e9):
    *  - stop: every later candidate has exact distance ≥ its bound >
    *    thr + 1e-6, so it rounds strictly above thr: it can neither enter
    *    the top-k, not even on a `user_id` tie-break, nor be within τ;
    *  - abandon: an abandoned kernel returns a value > thr + 1e-5 that is
    *    ≤ the exact distance (or the exact distance is NaN, which ranks
    *    last and is never within τ), so either way the candidate is out;
    *    below the bound the kernel is exact.
    * The box bound is ≤ the kernel's value even in floating point
    * ([[graft.functions.BoxLbKernel.compute]]), and a NaN thr (empty
    * trajectories rank last) never stops or abandons the scan.
    */
  private def searchQuerySet[R](ta: DataFrame, queryRows: Seq[(Option[Long], QueryTraj)],
                                mode: Mode[R], frechet: Boolean): Seq[(Long, R)] = {
    val queries = queryRows.collect { case (Some(u), t) => (u, t) }.groupBy(_._1).toSeq
      .sortBy(_._1).map { case (u, ts) => Query(u, ts.map(_._2).toArray) }
    val (c, rows) = (new SearchCols(ta), ta.queryExecution.toRdd)
    chunked(queries, broadcastCap(ta.sparkSession)).flatMap { chunk =>
      chunk.map(_.user).zip(rows.mapPartitions(it => Iterator(searchPartition(it, c, chunk, mode, frechet)))
        .fold(chunk.map(_ => mode.zero))(_.zip(_).map { case (a, b) => mode.merge(a, b) }))
    }
  }

  /** The search's one lookup job: (user_id, trajectory) of each row of `ta`
    * (a frame with `boxes`) whose id `keep` accepts, a null id as None. */
  private def lookup(ta: DataFrame, keep: Option[Long] => Boolean): Seq[(Option[Long], QueryTraj)] = {
    val c = new SearchCols(ta)
    ta.queryExecution.toRdd.mapPartitions(_.flatMap { r =>
      Some(if (r.isNullAt(c.user)) None else Some(r.getLong(c.user))).filter(keep).map(_ -> c.traj(r))
    }).collect().toSeq // bounded by the query set
  }

  private def localFrame(s: SparkSession, rows: Seq[Row], cols: (String, DataType)*) =
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(cols.map { case (n, t) => StructField(n, t) }))

  /** Column ordinals of a trajectory table's internal rows. */
  private final class SearchCols(ta: DataFrame) extends Serializable {
    val Seq(user, xs, ys, boxes) = Seq("user_id", "xs", "ys", "boxes").map(ta.schema.fieldIndex)
    def traj(r: InternalRow): QueryTraj = QueryTraj(r.getArray(xs).toDoubleArray(),
      r.getArray(ys).toDoubleArray(), r.getArray(boxes).toDoubleArray())
  }

  private final case class QueryTraj(xs: Array[Double], ys: Array[Double], boxes: Array[Double])

  /** A query id and its rows. */
  private final case class Query(user: Long, trajs: Array[QueryTraj]) {
    /** Estimated bytes it adds to a search task: 16 per point and 8 per
      * `boxes` entry of each row, plus a row overhead. */
    def estBytes: Long = trajs.map(t => 16L * t.xs.length + 8L * t.boxes.length + 100L).sum
  }

  /** `qs` in consecutive chunks whose estimated bytes fit `cap`, so what a
    * search task ships stays bounded however large the query set; a query
    * over the cap is a chunk of its own. */
  private def chunked(qs: Seq[Query], cap: Long): Seq[Seq[Query]] =
    qs.foldLeft(Vector.empty[(Long, Vector[Query])]) { (chunks, q) =>
      chunks.lastOption match {
        case Some((used, chunk)) if used + q.estBytes <= cap =>
          chunks.init :+ (used + q.estBytes, chunk :+ q)
        case _ => chunks :+ (q.estBytes, Vector(q))
      }
    }.map(_._2)

  private final case class Hit(user: Long, dist: Double)

  /** (dist, user_id) ascending, NaN last — the order of `orderBy(dist,
    * user_id)` on rounded distances, which are never -0.0. */
  private object HitOrder extends Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int = {
      val d = java.lang.Double.compare(a.dist, b.dist)
      if (d != 0) d else java.lang.Long.compare(a.user, b.user)
    }
  }

  /** What [[searchQuerySet]] keeps per query: an `R` per partition from a [[Scan]], merged. */
  private sealed abstract class Mode[R] extends Serializable {
    val othersOnly: Boolean // a query's own id is not its candidate
    val zero: R
    def merge(a: R, b: R): R
    def scan(): Scan[R]
  }
  /** One query's scan of a partition: its threshold and what a hit does. */
  private abstract class Scan[R] { def thr: Double; def offer(h: Hit): Unit; def result: R }

  /** The k nearest rows of other ids, by [[HitOrder]] (NaN last). */
  private final case class TopK(k: Int) extends Mode[Array[Hit]] {
    val (othersOnly, zero) = (true, Array.empty[Hit])
    def merge(a: Array[Hit], b: Array[Hit]) = (a ++ b).sorted(HitOrder).take(k)
    def scan() = new Scan[Array[Hit]] {
      private val top = new Array[Hit](k) // ascending, first `held` slots used
      private var held = 0
      def thr = if (held == k) top(k - 1).dist else Double.PositiveInfinity
      def offer(hit: Hit) = if (held < k || HitOrder.lt(hit, top(k - 1))) {
        var j = math.min(held, k - 1)
        while (j > 0 && HitOrder.lt(hit, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
        top(j) = hit
        held = math.min(held + 1, k)
      }
      def result = top.take(held)
    }
  }

  /** The count of rows of any id within `tau`. */
  private final case class Within(tau: Double) extends Mode[Long] {
    val (othersOnly, zero) = (false, 0L)
    def merge(a: Long, b: Long) = a + b
    def scan() = new Scan[Long] {
      private var n = 0L
      def thr = tau
      def offer(hit: Hit) = if (hit.dist <= tau) n += 1
      def result = n
    }
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on the shortest decimal
    * form, NaN and ±Inf passed through. */
  private def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One partition's result for each query of `qs`, in order ([[searchQuerySet]]). */
  private def searchPartition[R](it: Iterator[InternalRow], c: SearchCols, qs: Seq[Query],
                                 mode: Mode[R], frechet: Boolean): Seq[R] = {
    // rows are reused by the scan: copy each once, for every query
    val rows = it.filter(!_.isNullAt(c.user)).map(_.copy()).toArray
    qs.map { q =>
      val qBoxes = q.trajs.map(t => UnsafeArrayData.fromPrimitiveArray(t.boxes))
      val cands = (for {
        r <- rows.indices if !mode.othersOnly || rows(r).getLong(c.user) != q.user
        t <- q.trajs.indices
      } yield (BoxLbKernel.compute(rows(r).getArray(c.boxes), qBoxes(t)), r, t))
        .sortBy(_._1)(Ordering.Double.TotalOrdering)
      val acc = mode.scan()
      // takeWhile reads thr after each offer
      cands.iterator.takeWhile(cand => !(cand._1 > acc.thr + 1e-6)).foreach { case (_, r, t) =>
        val (row, qt, bound) = (rows(r), q.trajs(t), acc.thr + 1e-5)
        val (xs, ys) = (row.getArray(c.xs).toDoubleArray(), row.getArray(c.ys).toDoubleArray())
        acc.offer(Hit(row.getLong(c.user), round6(
          if (frechet) Metrics.frechetBounded(xs, ys, qt.xs, qt.ys, bound)
          else Metrics.hausdorffBounded(xs, ys, qt.xs, qt.ys, bound))))
      }
      acc.result
    }
  }

  /** Candidate count after bound pruning at threshold r — exposed for tests
    * and for explain-level visibility of pruning power. The sliced-box
    * bound `d_box ≤ min-point-distance ≤ Hausdorff ≤ Fréchet` of every
    * candidate against ONE query user, relationally. */
  def prunedCandidateCount(ta0: DataFrame, queryUser: Long, r: Double): Long = {
    graft.functions.SlicedBoxLb.register(ta0.sparkSession)
    val ta = ensureBoxes(ta0)
    val q = ta.filter(col("user_id") === queryUser).select(col("boxes").as("qboxes"))
    ta.filter(col("user_id") =!= queryUser)
      .crossJoin(broadcast(q))
      .filter(slicedBoxLb("boxes", "qboxes") <= r)
      .count()
  }
}
