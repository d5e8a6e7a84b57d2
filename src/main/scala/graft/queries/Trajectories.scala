package graft.queries


import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{DeclaredQuery, Tables}
import graft.Fns.{bsumS, cents, centsS}
import graft.functions.MetricCol

/** Trajectory queries t1–t6 (SURVEY §2.7) — the reference-parity surface:
  * trajectory construction (O7), Hausdorff (O5) / discrete Fréchet (O6)
  * similarity, spatial range (O16), point kNN (O9 analog), ε-distance join
  * (O17).
  *
  * Scale design: t2/t3 run the metric kernels over per-user point ARRAYS
  * (one row per user, built by a single shuffle) so the pair join moves
  * O(users²) rows, not O(points²); t6 turns the all-pairs theta join into a
  * grid-cell equi-join (the dataflow analog of the reference's STR spatial
  * partitioning) — at cluster scale both are shuffle-partitioned equi-joins,
  * never a driver-side index.
  */
object Trajectories {

  /** Douglas–Peucker simplification stats: (points kept, realized max
    * error) per trajectory — geo.Simplify run once per row (t12). */
  private val dpStats =
    udf { (xs: Seq[Double], ys: Seq[Double], eps: Double) =>
      val xa = xs.toArray; val ya = ys.toArray
      val kept = graft.geo.Simplify.douglasPeucker(xa, ya, eps)
      (kept.length, graft.geo.Simplify.maxError(xa, ya, kept))
    }

  /** t29's fixed geofence: a non-convex (top-notched) pentagon with integer
    * vertices inside the pts fixture's (x=days, y=value) domain. Declared
    * BEFORE `queries` — the oracle string interpolates it at init. */
  private[queries] val fencePolygon: Seq[(Double, Double)] =
    Seq((5.0, 40.0), (15.0, 40.0), (15.0, 160.0), (10.0, 90.0), (5.0, 160.0))

  import graft.Fns.ptsViewS

  val queries: Seq[DeclaredQuery] = Seq(

    DeclaredQuery("t1_traj_stats",
      s"""WITH pts AS ${ptsViewS("purchase")}
         |SELECT user_id, COUNT(*) AS n_points,
         |       ROUND(MAX(x)-MIN(x),6) AS x_extent,
         |       ROUND(SUM(COALESCE(SQRT((x-px)*(x-px)+(y-py)*(y-py)), 0.0)),6) AS path_len
         |FROM (SELECT user_id, x, y,
         |             LAG(x) OVER w AS px, LAG(y) OVER w AS py
         |      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)) t
         |GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        Tables.pts(s, dir)
          .select(col("user_id"), col("x"), col("y"),
            lag(col("x"), 1).over(w).as("px"), lag(col("y"), 1).over(w).as("py"))
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_points"),
            round(max(col("x")) - min(col("x")), 6).as("x_extent"),
            round(sum(coalesce(
              sqrt((col("x") - col("px")) * (col("x") - col("px")) +
                   (col("y") - col("py")) * (col("y") - col("py"))), lit(0.0))), 6).as("path_len"))
          .orderBy(col("user_id"))
    },

    DeclaredQuery("t2_hausdorff_pairs",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |d AS (SELECT a.user_id u1, b.user_id u2, a.event_id ea, b.event_id eb,
         |             SQRT((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)) AS dist
         |      FROM pts a JOIN pts b ON a.user_id < b.user_id),
         |hab AS (SELECT u1,u2, MAX(md) AS h FROM
         |        (SELECT u1,u2,ea, MIN(dist) AS md FROM d GROUP BY u1,u2,ea) q1 GROUP BY u1,u2),
         |hba AS (SELECT u1,u2, MAX(md) AS h FROM
         |        (SELECT u1,u2,eb, MIN(dist) AS md FROM d GROUP BY u1,u2,eb) q2 GROUP BY u1,u2)
         |SELECT hab.u1, hab.u2, ROUND(GREATEST(hab.h, hba.h),6) AS hausdorff
         |FROM hab JOIN hba ON hab.u1=hba.u1 AND hab.u2=hba.u2
         |ORDER BY ROUND(GREATEST(hab.h, hba.h),6) ASC, hab.u1, hab.u2 LIMIT 20""".stripMargin) {
      (s, dir) =>
        // Bound-then-refine all-pairs search over STR tiles (the one
        // all-pairs operator, StrPartition.allPairsTopKStr): the time-sliced
        // MBR lower bound filters the tile-pair enumeration; the exact
        // Hausdorff kernel runs only on surviving pairs. Shares its prepared
        // scan with t11 (same cacheKey, k and metric).
        graft.operators.TrajectorySearch.allPairsTopKAuto(
          Tables.trajArrays(s, dir, "purchase"), 20, "hausdorff",
          cacheKey = Some(s"$dir#purchase"))
    },

    // Discrete Fréchet DP is not practically expressible in SQL — oracle-
    // exempt (SURVEY §2.8); property-tested against the naive recursion and
    // cross-checked hausdorff <= frechet in MetricPropertiesTest.
    DeclaredQuery.noOracle("t3_frechet_pairs") {
      (s, dir) =>
        val ta = Tables.trajArrays(s, dir, "purchase").filter(col("user_id") <= 20)
        val a = ta.select(col("user_id").as("u1"), col("xs").as("xs1"), col("ys").as("ys1"))
        val b = ta.select(col("user_id").as("u2"), col("xs").as("xs2"), col("ys").as("ys2"))
        a.join(b, col("u1") < col("u2"))
          .select(col("u1"), col("u2"),
            round(MetricCol("frechet", col("xs1"), col("ys1"), col("xs2"), col("ys2")), 6)
              .as("frechet"))
          .orderBy(col("u1"), col("u2"))
    },

    DeclaredQuery("t4_box_range_count",
      s"""WITH pts AS ${ptsViewS("purchase")}
         |SELECT user_id, COUNT(*) AS n_in_box FROM pts
         |WHERE x BETWEEN 5.0 AND 15.0 AND y BETWEEN 50.0 AND 150.0
         |GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        Tables.pts(s, dir)
          .filter(col("x").between(5.0, 15.0) && col("y").between(50.0, 150.0))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_in_box"))
          .orderBy(col("user_id"))
    },

    DeclaredQuery("t5_point_knn",
      s"""WITH pts AS ${ptsViewS("purchase")}
         |SELECT user_id, event_id,
         |       ROUND(SQRT((x-15.0)*(x-15.0)+(y-100.0)*(y-100.0)),6) AS d
         |FROM pts
         |ORDER BY ROUND(SQRT((x-15.0)*(x-15.0)+(y-100.0)*(y-100.0)),6), user_id, event_id
         |LIMIT 10""".stripMargin) {
      (s, dir) =>
        Tables.pts(s, dir)
          .select(col("user_id"), col("event_id"),
            round(sqrt((col("x") - 15.0) * (col("x") - 15.0) +
                       (col("y") - 100.0) * (col("y") - 100.0)), 6).as("d"))
          .orderBy(col("d"), col("user_id"), col("event_id"))
          .limit(10)
    },

    DeclaredQuery("t6_distance_join",
      s"""WITH pts_err AS ${ptsViewS("error")}
         |SELECT a.user_id AS u1, COUNT(*) AS n_close
         |FROM pts_err a JOIN pts_err b ON a.user_id < b.user_id
         |WHERE ROUND(SQRT((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)),6) <= 1.0
         |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin) {
      (s, dir) =>
        // Declarative ε-distance join: the graft_within predicate is the
        // whole query; graft.plans.RewriteDistanceJoin recognizes it on the
        // inner-join condition and rewrites the O(n²) theta join into the
        // 3×3-neighborhood grid-cell equi-join (cell = eps + rounding slack,
        // each qualifying pair meets in exactly one cell) — SURVEY §4.3c,
        // plan-asserted non-cartesian in ExplainPlanTest.
        graft.plans.GraftRules.install(s)
        val p = Tables.pts(s, dir, "error")
        val a = p.select(col("user_id").as("ua"), col("x").as("xa"), col("y").as("ya"))
        val b = p.select(col("user_id").as("ub"), col("x").as("xb"), col("y").as("yb"))
        a.join(b, col("ua") < col("ub") &&
            expr("graft_within(xa, ya, xb, yb, 1.0)"))
          .groupBy(col("ua").as("u1"))
          .agg(count(lit(1)).as("n_close"))
          .orderBy(col("u1"))
    },

    // Reference O15 flagship API: top-k most similar trajectories to a
    // query trajectory (user 0), Hausdorff metric.
    DeclaredQuery("t7_topk_search",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |q AS (SELECT * FROM pts WHERE user_id = 0),
         |o AS (SELECT * FROM pts WHERE user_id <> 0),
         |d AS (SELECT o.user_id u, o.event_id eo, q.event_id eq,
         |             SQRT((o.x-q.x)*(o.x-q.x)+(o.y-q.y)*(o.y-q.y)) AS dist
         |      FROM o, q),
         |hoq AS (SELECT u, MAX(md) AS h FROM
         |        (SELECT u, eo, MIN(dist) AS md FROM d GROUP BY u, eo) q1 GROUP BY u),
         |hqo AS (SELECT u, MAX(md) AS h FROM
         |        (SELECT u, eq, MIN(dist) AS md FROM d GROUP BY u, eq) q2 GROUP BY u)
         |SELECT hoq.u AS user_id, ROUND(GREATEST(hoq.h, hqo.h),6) AS dist
         |FROM hoq JOIN hqo ON hoq.u = hqo.u
         |ORDER BY ROUND(GREATEST(hoq.h, hqo.h),6), hoq.u LIMIT 10""".stripMargin) {
      (s, dir) => graft.operators.TrajectorySearch.topKPruned(
        Tables.trajArrays(s, dir, "purchase"), 0L, 10, "hausdorff")
    },

    // Same search under discrete Fréchet — oracle-exempt like t3.
    DeclaredQuery.noOracle("t8_topk_search_frechet") {
      (s, dir) => graft.operators.TrajectorySearch.topKPruned(
        Tables.trajArrays(s, dir, "purchase"), 0L, 10, "frechet")
    },

    // DTW completes the metric family (sum-of-deviation vs the max-based
    // Hausdorff/Fréchet). DP is not SQL-expressible — oracle-exempt like
    // t3; DP ≡ naive recursion property-tested in MetricPropertiesTest.
    DeclaredQuery.noOracle("t10_dtw_pairs") {
      (s, dir) =>
        val ta = Tables.trajArrays(s, dir, "purchase").filter(col("user_id") <= 20)
        val a = ta.select(col("user_id").as("u1"), col("xs").as("xs1"), col("ys").as("ys1"))
        val b = ta.select(col("user_id").as("u2"), col("xs").as("xs2"), col("ys").as("ys2"))
        a.join(b, col("u1") < col("u2"))
          .select(col("u1"), col("u2"),
            round(MetricCol.dtw(
              col("xs1"), col("ys1"), col("xs2"), col("ys2")), 6).as("dtw"))
          .orderBy(col("u1"), col("u2"))
    },

    // LCSS (Vlachos et al. ICDE'02) — the gap-tolerant member of the metric
    // family: unmatched outlier points cost nothing. Output is the integer
    // ε-match count plus the derived similarity. DP → oracle-exempt like
    // t3/t10; DP ≡ naive recursion property-tested in MetricPropertiesTest.
    // ε = (2 days, 25 value units) — roughly half the per-user point spacing
    // and half a value-σ, chosen so the fixture's match counts are
    // non-degenerate (neither 0 nor min(n,m) everywhere).
    DeclaredQuery.noOracle("t14_lcss_pairs") {
      (s, dir) =>
        val ta = Tables.trajArrays(s, dir, "purchase").filter(col("user_id") <= 20)
        val a = ta.select(col("user_id").as("u1"), col("xs").as("xs1"), col("ys").as("ys1"),
          size(col("xs")).as("n1"))
        val b = ta.select(col("user_id").as("u2"), col("xs").as("xs2"), col("ys").as("ys2"),
          size(col("xs")).as("n2"))
        a.join(b, col("u1") < col("u2"))
          .select(col("u1"), col("u2"),
            MetricCol.lcssCount(
              col("xs1"), col("ys1"), col("xs2"), col("ys2"), lit(2.0), lit(25.0)).as("lcss"),
            least(col("n1"), col("n2")).as("minlen"))
          .withColumn("sim", round(col("lcss") / col("minlen"), 6))
          .orderBy(col("u1"), col("u2"))
    },

    // ERP (Chen/Ng VLDB'04) — edit distance with REAL penalty: substitution
    // costs d(a,b), gap costs d(·, origin). The only edit-family member
    // that is a true metric (triangle inequality — property-tested), hence
    // the one a metric-space index can prune. Same pair set as t14/t15;
    // oracle-exempt (DP), deterministic left-to-right double folds.
    DeclaredQuery.noOracle("t16_erp_pairs") {
      (s, dir) =>
        val ta = Tables.trajArrays(s, dir, "purchase").filter(col("user_id") <= 20)
        val a = ta.select(col("user_id").as("u1"), col("xs").as("xs1"), col("ys").as("ys1"))
        val b = ta.select(col("user_id").as("u2"), col("xs").as("xs2"), col("ys").as("ys2"))
        a.join(b, col("u1") < col("u2"))
          .select(col("u1"), col("u2"),
            round(MetricCol.erp(
              col("xs1"), col("ys1"), col("xs2"), col("ys2")), 6).as("erp"))
          .orderBy(col("u1"), col("u2"))
    },

    // EDR (Chen/Özsu/Oria SIGMOD'05) — integer edit distance with ε-match
    // substitutions: noise-robust like LCSS but penalizes gaps. Same ε and
    // pair set as t14; oracle-exempt (DP), property-tested.
    DeclaredQuery.noOracle("t15_edr_pairs") {
      (s, dir) =>
        val ta = Tables.trajArrays(s, dir, "purchase").filter(col("user_id") <= 20)
        val a = ta.select(col("user_id").as("u1"), col("xs").as("xs1"), col("ys").as("ys1"))
        val b = ta.select(col("user_id").as("u2"), col("xs").as("xs2"), col("ys").as("ys2"))
        a.join(b, col("u1") < col("u2"))
          .select(col("u1"), col("u2"),
            MetricCol.edr(
              col("xs1"), col("ys1"), col("xs2"), col("ys2"), lit(2.0), lit(25.0)).as("edr"))
          .orderBy(col("u1"), col("u2"))
    },

    // Reference O8 (STR partitioner) as a tile-level pre-filter on the
    // all-pairs search: the same operator and answer as t2 (same oracle),
    // with the tiles read from a stored index artifact. The pair
    // enumeration is an equi-join on surviving STR tile pairs — the scan
    // shape that survives 10⁸ spatially clustered trajectories. On this
    // fixture all tile union-MBRs overlap (every user spans the same date
    // range) so no tile pair is pruned; StrPartitionTest shows the prune
    // firing on clustered data.
    DeclaredQuery("t11_str_topk_pairs",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |d AS (SELECT a.user_id u1, b.user_id u2, a.event_id ea, b.event_id eb,
         |             SQRT((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)) AS dist
         |      FROM pts a JOIN pts b ON a.user_id < b.user_id),
         |hab AS (SELECT u1,u2, MAX(md) AS h FROM
         |        (SELECT u1,u2,ea, MIN(dist) AS md FROM d GROUP BY u1,u2,ea) q1 GROUP BY u1,u2),
         |hba AS (SELECT u1,u2, MAX(md) AS h FROM
         |        (SELECT u1,u2,eb, MIN(dist) AS md FROM d GROUP BY u1,u2,eb) q2 GROUP BY u1,u2)
         |SELECT hab.u1, hab.u2, ROUND(GREATEST(hab.h, hba.h),6) AS hausdorff
         |FROM hab JOIN hba ON hab.u1=hba.u1 AND hab.u2=hba.u2
         |ORDER BY ROUND(GREATEST(hab.h, hba.h),6) ASC, hab.u1, hab.u2 LIMIT 20""".stripMargin) {
      (s, dir) => {
        // the tile assignment (quantile boundaries + per-user tile and whole
        // MBR) is a build-once index artifact like the arrays themselves;
        // warm sessions join it back instead of re-running the quantile
        // passes (boxes/coordinates stay in the trajArrays artifact)
        val ta = Tables.trajArrays(s, dir, "purchase")
        val tiles = graft.sources.IndexStore
          .materialize(s, dir, "str_tiles_purchase_4x4_v1") {
            graft.operators.StrPartition.tiledFrame(ta, 4, 4)
              .drop("boxes")
          }._1
        // seed threshold + surviving tile pairs memoized per (session, dir)
        // and shared with t2: a warm session probes the tiles directly
        graft.operators.StrPartition.allPairsTopKStr(
          ta.join(tiles, "user_id"), 20, "hausdorff",
          cacheKey = Some(s"$dir#purchase"))
      }
    },

    // Batch form of O15: the reference workload is query SETS, not single
    // queries — top-10 per query for queries {0..4}, searched together by
    // the partition-local t7 search: one lookup job, one search job.
    DeclaredQuery("t9_topk_batch",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |q AS (SELECT * FROM pts WHERE user_id IN (0,1,2,3,4)),
         |d AS (SELECT q.user_id qu, o.user_id u, o.event_id eo, q.event_id eq,
         |             SQRT((o.x-q.x)*(o.x-q.x)+(o.y-q.y)*(o.y-q.y)) AS dist
         |      FROM pts o JOIN q ON o.user_id <> q.user_id),
         |hoq AS (SELECT qu, u, MAX(md) AS h FROM
         |        (SELECT qu, u, eo, MIN(dist) AS md FROM d GROUP BY qu,u,eo) q1 GROUP BY qu,u),
         |hqo AS (SELECT qu, u, MAX(md) AS h FROM
         |        (SELECT qu, u, eq, MIN(dist) AS md FROM d GROUP BY qu,u,eq) q2 GROUP BY qu,u),
         |hh AS (SELECT hoq.qu, hoq.u, ROUND(GREATEST(hoq.h, hqo.h),6) AS dist
         |       FROM hoq JOIN hqo ON hoq.qu=hqo.qu AND hoq.u=hqo.u),
         |rk AS (SELECT qu, u, dist,
         |              row_number() OVER (PARTITION BY qu ORDER BY dist, u) AS rn FROM hh)
         |SELECT qu AS q_user, u AS user_id, dist FROM rk WHERE rn <= 10
         |ORDER BY q_user, dist, user_id""".stripMargin) {
      (s, dir) => graft.operators.TrajectorySearch.topKBatchPruned(
        Tables.trajArrays(s, dir, "purchase"), Seq(0L, 1L, 2L, 3L, 4L), 10, "hausdorff")
    },

    // Spatial density histogram — the grid heatmap every trajectory store
    // serves (visit counts + distinct visitors per cell). One hash
    // aggregation over the long-form point stream: no arrays, no windows;
    // the heaviest-cell ranking is a TakeOrdered, not a global sort.
    DeclaredQuery("t13_grid_density",
      s"""WITH pts AS ${ptsViewS("purchase")}
         |SELECT CAST(FLOOR(x/5) AS BIGINT) AS gx, CAST(FLOOR(y/20) AS BIGINT) AS gy,
         |       COUNT(*) AS n_visits, COUNT(DISTINCT user_id) AS n_users
         |FROM pts GROUP BY 1, 2
         |ORDER BY n_visits DESC, gx, gy LIMIT 20""".stripMargin) {
      (s, dir) =>
        Tables.pts(s, dir, "purchase")
          .groupBy(floor(col("x") / 5).cast("long").as("gx"),
            floor(col("y") / 20).cast("long").as("gy"))
          .agg(count(lit(1)).as("n_visits"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("n_visits").desc, col("gx"), col("gy"))
          .limit(20)
    },

    // Douglas–Peucker trajectory simplification (geo.Simplify — published
    // 1973 algorithm; the compression pass a trajectory store runs at
    // ingest). Per-user kernel work, embarrassingly parallel; the recursive
    // split is not SQL-expressible, so the query is oracle-exempt —
    // SimplifyTest proves the invariants (endpoints kept, subsequence,
    // realized error ≤ ε, naive-recursion equivalence, determinism).
    DeclaredQuery.noOracle("t12_dp_simplify") {
      (s, dir) =>
        Tables.trajArrays(s, dir, "purchase")
          .select(col("user_id"), size(col("xs")).cast("long").as("n_points"),
            dpStats(col("xs"), col("ys"), lit(10.0)).as("st"))
          .select(col("user_id"), col("n_points"),
            col("st._1").cast("long").as("n_kept"),
            round(col("st._2"), 6).as("max_err"))
          .orderBy(col("user_id"))
    },

    // Co-movement (convoy-style) detection: pairs of users whose
    // trajectories are close (≤ ε) at ≥ k ALIGNED time steps — alignment by
    // per-user position index (row_number over (ts_us, event_id): exact,
    // tie-free). The join condition composes the pos equality with
    // graft_within, so RewriteDistanceJoin grid-blocks WITHIN each time
    // step: join keys become (pos, cellx, celly) and the per-step pair
    // space is bounded by spatial density, never users² — the shape that
    // survives millions of concurrent trajectories. Counts are integers;
    // top-100 keeps output bounded at any SF.
    DeclaredQuery("t17_comovement",
      s"""WITH p AS (SELECT user_id, x, y,
         |             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS pos
         |           FROM ${ptsViewS("view")} v)
         |SELECT a.user_id AS u1, b.user_id AS u2, COUNT(*) AS n_close
         |FROM p a JOIN p b ON a.pos = b.pos AND a.user_id < b.user_id
         |WHERE ROUND(SQRT((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)),6) <= 2.0
         |GROUP BY a.user_id, b.user_id HAVING COUNT(*) >= 2
         |ORDER BY n_close DESC, u1, u2 LIMIT 100""".stripMargin) {
      (s, dir) =>
        graft.plans.GraftRules.install(s)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val p = Tables.pts(s, dir, "view")
          .select(col("user_id"), col("x"), col("y"), row_number().over(w).as("pos"))
        val a = p.select(col("user_id").as("ua"), col("x").as("xa"),
          col("y").as("ya"), col("pos").as("pa"))
        val b = p.select(col("user_id").as("ub"), col("x").as("xb"),
          col("y").as("yb"), col("pos").as("pb"))
        a.join(b, col("pa") === col("pb") && col("ua") < col("ub") &&
            expr("graft_within(xa, ya, xb, yb, 2.0)"))
          .groupBy(col("ua").as("u1"), col("ub").as("u2"))
          .agg(count(lit(1)).as("n_close"))
          .filter(col("n_close") >= 2)
          .orderBy(col("n_close").desc, col("u1"), col("u2"))
          .limit(100)
    },

    // Stay-segment detection (stop/stay-point mining, Zheng et al. survey
    // family): maximal runs of ≥2 consecutive SLOW steps (step distance
    // ≤ 20 under the repo's round-6 predicate convention) per user —
    // gaps-and-islands over the per-user order. Every window/groupBy keys
    // on user_id, so the three passes ride ONE hash partitioning; run ids
    // are pure integer arithmetic (pos − rank among slow rows).
    DeclaredQuery("t18_stay_segments",
      s"""WITH p AS (SELECT user_id, ts_us, event_id, x, y,
         |             ROW_NUMBER() OVER w AS pos,
         |             LAG(x) OVER w AS px, LAG(y) OVER w AS py
         |           FROM ${ptsViewS("purchase")} v
         |           WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |st AS (SELECT user_id, pos FROM p
         |       WHERE px IS NOT NULL
         |         AND ROUND(SQRT((x-px)*(x-px)+(y-py)*(y-py)),6) <= 20.0),
         |runs AS (SELECT user_id,
         |           pos - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY pos) AS grp
         |         FROM st),
         |seg AS (SELECT user_id, grp, COUNT(*) AS len
         |        FROM runs GROUP BY user_id, grp HAVING COUNT(*) >= 2)
         |SELECT user_id, COUNT(*) AS n_stays, CAST(MAX(len) AS BIGINT) AS longest,
         |       ${bsumS("len")} AS slow_steps
         |FROM seg GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val p = Tables.pts(s, dir, "purchase")
          .select(col("user_id"), col("x"), col("y"),
            row_number().over(w).as("pos"),
            lag(col("x"), 1).over(w).as("px"),
            lag(col("y"), 1).over(w).as("py"))
        val slow = p.filter(col("px").isNotNull &&
          round(sqrt((col("x") - col("px")) * (col("x") - col("px")) +
            (col("y") - col("py")) * (col("y") - col("py"))), 6) <= 20.0)
        val wd = Window.partitionBy(col("user_id")).orderBy(col("pos"))
        slow.select(col("user_id"), (col("pos") - row_number().over(wd)).as("grp"))
          .groupBy(col("user_id"), col("grp"))
          .agg(count(lit(1)).as("len"))
          .filter(col("len") >= 2)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_stays"), max(col("len")).cast("long").as("longest"),
            sum(col("len")).as("slow_steps"))
          .orderBy(col("user_id"))
    },

    // Origin–destination flow matrix: per (user, day) the FIRST and LAST
    // purchase point, flows counted between their t13 grid cells. Day is
    // exact integer µs division; first/last resolve by the tie-free
    // (ts_us, event_id) order — two window ranks over the SAME hash
    // partitioning (user_id, day), then a co-partitioned self-join of the
    // two single-row-per-key frames.
    DeclaredQuery("t19_od_matrix",
      s"""WITH p AS (SELECT user_id,
         |             (ts_us - 1704067200000000) // 86400000000 AS day,
         |             ts_us, event_id, x, y
         |           FROM ${ptsViewS("purchase")} v),
         |w AS (SELECT *,
         |        ROW_NUMBER() OVER (PARTITION BY user_id, day
         |                           ORDER BY ts_us, event_id) AS ra,
         |        ROW_NUMBER() OVER (PARTITION BY user_id, day
         |                           ORDER BY ts_us DESC, event_id DESC) AS rd
         |      FROM p),
         |o AS (SELECT user_id, day, CAST(FLOOR(x/5) AS BIGINT) AS gx0,
         |             CAST(FLOOR(y/20) AS BIGINT) AS gy0 FROM w WHERE ra = 1),
         |d AS (SELECT user_id, day, CAST(FLOOR(x/5) AS BIGINT) AS gx1,
         |             CAST(FLOOR(y/20) AS BIGINT) AS gy1 FROM w WHERE rd = 1)
         |SELECT o.gx0, o.gy0, d.gx1, d.gy1, COUNT(*) AS n_flows
         |FROM o JOIN d ON o.user_id = d.user_id AND o.day = d.day
         |GROUP BY o.gx0, o.gy0, d.gx1, d.gy1
         |ORDER BY n_flows DESC, gx0, gy0, gx1, gy1 LIMIT 30""".stripMargin) {
      (s, dir) =>
        // ONE aggregation pass instead of two window ranks + a self-join
        // (guide §2.4 — remove shuffles outright): first/last point per
        // (user, day) are min_by/max_by over the tie-free (ts_us, event_id)
        // struct order — DeclarativeAggregates with map-side partials, so
        // the plan is scan → partial agg → ONE exchange → final agg →
        // cell rollup; the r13-before plan paid the same exchange plus two
        // full window sorts and a sort-merge self-join of the ranked frame.
        // min_by/max_by over a struct compare lexicographically, and
        // (ts_us, event_id) is unique per user, so the picked points are
        // exactly the ra=1/rd=1 rows of the window form (oracle unchanged).
        val p = Tables.pts(s, dir, "purchase")
          .withColumn("day", expr("(ts_us - 1704067200000000) DIV 86400000000"))
        val ord = struct(col("ts_us"), col("event_id"))
        val od = p.groupBy(col("user_id"), col("day"))
          .agg(min_by(struct(col("x"), col("y")), ord).as("o"),
            max_by(struct(col("x"), col("y")), ord).as("d"))
        od.select(
            floor(col("o.x") / 5).cast("long").as("gx0"),
            floor(col("o.y") / 20).cast("long").as("gy0"),
            floor(col("d.x") / 5).cast("long").as("gx1"),
            floor(col("d.y") / 20).cast("long").as("gy1"))
          .groupBy(col("gx0"), col("gy0"), col("gx1"), col("gy1"))
          .agg(count(lit(1)).as("n_flows"))
          .orderBy(col("n_flows").desc, col("gx0"), col("gy0"), col("gx1"), col("gy1"))
          .limit(30)
    },

    // k-nearest-neighbor JOIN under Hausdorff (k=3) — the reference's O15
    // workload as ONE self-join operator: every trajectory gets its 3 most
    // similar others, via the fully relational per-query bound seeding of
    // TrajectorySearch.knnJoin (slim box-bound pair scan → per-query seed
    // threshold r_q as a windowed aggregate → early-abandon refine of
    // lb ≤ r_q survivors → two-stage rank). No driver-side threshold or
    // query loop anywhere.
    DeclaredQuery("t21_knn_join",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |d AS (SELECT a.user_id u1, b.user_id u2, a.event_id ea, b.event_id eb,
         |             SQRT((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)) AS dist
         |      FROM pts a JOIN pts b ON a.user_id <> b.user_id),
         |hab AS (SELECT u1, u2, MAX(md) AS h FROM
         |        (SELECT u1, u2, ea, MIN(dist) AS md FROM d GROUP BY u1, u2, ea) q1
         |        GROUP BY u1, u2),
         |hba AS (SELECT u1, u2, MAX(md) AS h FROM
         |        (SELECT u1, u2, eb, MIN(dist) AS md FROM d GROUP BY u1, u2, eb) q2
         |        GROUP BY u1, u2),
         |hd AS (SELECT hab.u1 AS q_user, hab.u2 AS user_id,
         |              ROUND(GREATEST(hab.h, hba.h), 6) AS dist
         |       FROM hab JOIN hba ON hab.u1 = hba.u1 AND hab.u2 = hba.u2)
         |SELECT q_user, user_id, dist,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY q_user
         |                               ORDER BY dist, user_id) AS BIGINT) AS rk
         |FROM hd
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_user ORDER BY dist, user_id) <= 3
         |ORDER BY q_user, rk""".stripMargin) {
      (s, dir) =>
        // KnnPath.Auto: the dispatcher measures the table (median points per
        // trajectory, trajectory count) and picks the regime — brute on this
        // fixture's ~13-point trajectories, seeded past the documented
        // crossover (TrajectorySearch.choosePath); both paths are
        // equivalence-tested
        val wq = Window.partitionBy(col("q_user")).orderBy(col("dist"), col("user_id"))
        graft.operators.TrajectorySearch.knnJoin(
            Tables.trajArrays(s, dir, "purchase"), 3, "hausdorff",
            cacheKey = Some(s"$dir#purchase"))
          .withColumn("rk", row_number().over(wq).cast("long"))
          .orderBy(col("q_user"), col("rk"))
    },

    // The SAME kNN join through the STR-TILED path (StrPartition
    // .knnJoinStr): per-query thresholds seeded WITHIN tiles, directed
    // tile-pair pruning at per-tile radii, refine on survivors — the
    // 10⁸-trajectory form where even the flat all-pairs bound scan is the
    // bottleneck. Same oracle as t21 (identical answer through a third
    // physical plan); on this spatially uniform fixture no tile pair
    // prunes and it degrades to partitioned enumeration + per-query bound
    // refine (prune fires on clustered data in StrPartitionTest).
    DeclaredQuery("t25_knn_join_str",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |d AS (SELECT a.user_id u1, b.user_id u2, a.event_id ea, b.event_id eb,
         |             SQRT((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)) AS dist
         |      FROM pts a JOIN pts b ON a.user_id <> b.user_id),
         |hab AS (SELECT u1, u2, MAX(md) AS h FROM
         |        (SELECT u1, u2, ea, MIN(dist) AS md FROM d GROUP BY u1, u2, ea) q1
         |        GROUP BY u1, u2),
         |hba AS (SELECT u1, u2, MAX(md) AS h FROM
         |        (SELECT u1, u2, eb, MIN(dist) AS md FROM d GROUP BY u1, u2, eb) q2
         |        GROUP BY u1, u2),
         |hd AS (SELECT hab.u1 AS q_user, hab.u2 AS user_id,
         |              ROUND(GREATEST(hab.h, hba.h), 6) AS dist
         |       FROM hab JOIN hba ON hab.u1 = hba.u1 AND hab.u2 = hba.u2)
         |SELECT q_user, user_id, dist
         |FROM hd
         |QUALIFY ROW_NUMBER() OVER (PARTITION BY q_user
         |                           ORDER BY dist, user_id) <= 3
         |ORDER BY q_user, dist, user_id""".stripMargin) {
      (s, dir) =>
        // scan memoized per (session, dir): the within-tile seed pass is a
        // build-once index step (t11's prepared-scan precedent)
        graft.operators.StrPartition.knnJoinStr(
          Tables.trajArrays(s, dir, "purchase"), 3, "hausdorff",
          cacheKey = Some(s"$dir#purchase#knn"))
    },

    // Closest approach between trajectory PAIRS (reference O3 lifted to
    // whole paths): min over all segment pairs of the segment–segment
    // distance — 0 when the paths cross. The continuous-path companion to
    // t2's point-set Hausdorff: sampling-robust proximity (two paths can
    // pass arbitrarily close BETWEEN sample points). The oracle replicates
    // the kernel term-for-term: the strict-orientation crossing test, then
    // min of the four endpoint→segment projection-clamp distances.
    DeclaredQuery("t24_closest_approach",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |seg AS (SELECT user_id, ROW_NUMBER() OVER w AS sid,
         |               x AS ax, y AS ay, LEAD(x) OVER w AS bx, LEAD(y) OVER w AS by
         |        FROM pts WHERE user_id <= 20
         |        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
         |        QUALIFY bx IS NOT NULL
         |        -- degenerate 1-point users → the kernel's zero-length
         |        -- (p,p) segment (Metrics clamps the segment index), so
         |        -- the pair is kept instead of dropped
         |        UNION ALL
         |        SELECT user_id, 1, MIN(x), MIN(y), MIN(x), MIN(y)
         |        FROM pts WHERE user_id <= 20
         |        GROUP BY user_id HAVING COUNT(*) = 1),
         |pp AS (SELECT a.user_id u1, b.user_id u2, a.sid s1, b.sid s2,
         |              a.ax, a.ay, a.bx, a.by,
         |              b.ax AS cx, b.ay AS cy, b.bx AS dx, b.by AS dy
         |       FROM seg a JOIN seg b ON a.user_id < b.user_id),
         |o AS (SELECT *,
         |        (bx-ax)*(cy-ay)-(by-ay)*(cx-ax) AS o1,
         |        (bx-ax)*(dy-ay)-(by-ay)*(dx-ax) AS o2,
         |        (dx-cx)*(ay-cy)-(dy-cy)*(ax-cx) AS o3,
         |        (dx-cx)*(by-cy)-(dy-cy)*(bx-cx) AS o4
         |      FROM pp),
         |oi AS (SELECT *, CASE WHEN ((o1 > 0 AND o2 < 0) OR (o1 < 0 AND o2 > 0))
         |                       AND ((o3 > 0 AND o4 < 0) OR (o3 < 0 AND o4 > 0))
         |                 THEN 1 ELSE 0 END AS inter FROM o),
         |e4 AS (SELECT u1, u2, s1, s2, inter, ax AS px, ay AS py,
         |              cx AS sax, cy AS say, dx AS sbx, dy AS sby FROM oi
         |  UNION ALL SELECT u1, u2, s1, s2, inter, bx, by, cx, cy, dx, dy FROM oi
         |  UNION ALL SELECT u1, u2, s1, s2, inter, cx, cy, ax, ay, bx, by FROM oi
         |  UNION ALL SELECT u1, u2, s1, s2, inter, dx, dy, ax, ay, bx, by FROM oi),
         |c1 AS (SELECT u1, u2, s1, s2, inter, px, py, sax, say,
         |              sbx - sax AS vx, sby - say AS vy FROM e4),
         |c2 AS (SELECT *, vx*vx + vy*vy AS len2 FROM c1),
         |c3 AS (SELECT *, CASE WHEN len2 = 0 THEN 0.0
         |                      ELSE GREATEST(0.0, LEAST(1.0,
         |                             ((px-sax)*vx + (py-say)*vy) / len2)) END AS t
         |       FROM c2),
         |c4 AS (SELECT u1, u2, s1, s2, inter,
         |              SQRT((px-(sax+t*vx))*(px-(sax+t*vx))
         |                   + (py-(say+t*vy))*(py-(say+t*vy))) AS dist
         |       FROM c3),
         |sp AS (SELECT u1, u2, s1, s2,
         |              CASE WHEN MAX(inter) = 1 THEN 0.0 ELSE MIN(dist) END AS d
         |       FROM c4 GROUP BY u1, u2, s1, s2)
         |SELECT u1, u2, ROUND(MIN(d), 6) AS closest
         |FROM sp GROUP BY u1, u2 ORDER BY u1, u2""".stripMargin) {
      (s, dir) =>
        val ta = Tables.trajArrays(s, dir, "purchase").filter(col("user_id") <= 20)
        val a = ta.select(col("user_id").as("u1"), col("xs").as("xs1"), col("ys").as("ys1"))
        val b = ta.select(col("user_id").as("u2"), col("xs").as("xs2"), col("ys").as("ys2"))
        a.join(b, col("u1") < col("u2"))
          .select(col("u1"), col("u2"),
            round(MetricCol.closestApproach(
              col("xs1"), col("ys1"), col("xs2"), col("ys2")), 6).as("closest"))
          .orderBy(col("u1"), col("u2"))
    },

    // Spatial HOTSPOT detection (Getis-Ord Gi* flavored, integer-exact):
    // grid cells whose 3×3-neighborhood point count sits >2σ above the mean
    // neighborhood count. e11's all-integer discipline in 2-D: the
    // neighborhood sum spreads each cell's count to its 9 neighbor keys
    // (explode + re-aggregate — co-partitioned equi work, no self-join
    // range scan), and the 2σ test cross-multiplies to pure int64 via the
    // moment identity — no float anywhere.
    DeclaredQuery("t23_hotspots",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |cells AS (SELECT CAST(FLOOR(x/2) AS BIGINT) AS gx,
         |                 CAST(FLOOR(y/10) AS BIGINT) AS gy, COUNT(*) AS n
         |          FROM pts GROUP BY 1, 2),
         |nb AS (SELECT gx + dx.d AS cx, gy + dy.d AS cy, CAST(SUM(n) AS BIGINT) AS s
         |       FROM cells, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
         |       GROUP BY 1, 2),
         |occ AS (SELECT nb.cx, nb.cy, nb.s FROM nb
         |        JOIN cells c ON c.gx = nb.cx AND c.gy = nb.cy),
         |m AS (SELECT COUNT(*) AS k, CAST(SUM(s) AS BIGINT) AS ss,
         |             CAST(SUM(s*s) AS BIGINT) AS sq FROM occ)
         |SELECT occ.cx AS gx, occ.cy AS gy, occ.s AS neighborhood_n
         |FROM occ, m
         |WHERE occ.s * m.k - m.ss > 0
         |  AND (occ.s * m.k - m.ss) * (occ.s * m.k - m.ss) > 4 * (m.k * m.sq - m.ss * m.ss)
         |ORDER BY neighborhood_n DESC, gx, gy""".stripMargin) {
      (s, dir) =>
        val cells = Tables.pts(s, dir, "purchase")
          .groupBy(floor(col("x") / 2).cast("long").as("gx"),
            floor(col("y") / 10).cast("long").as("gy"))
          .agg(count(lit(1)).as("n"))
        val nb = cells
          .select(col("gx"), col("gy"), col("n"),
            explode(expr("array(-1L, 0L, 1L)")).as("dx"))
          .select(col("gx"), col("gy"), col("n"), col("dx"),
            explode(expr("array(-1L, 0L, 1L)")).as("dy"))
          .groupBy((col("gx") + col("dx")).as("cx"), (col("gy") + col("dy")).as("cy"))
          .agg(sum(col("n")).as("s"))
        // only OCCUPIED cells are candidates (the oracle's semi join); the
        // halo cells exist solely as neighbor accumulators
        val occ = nb.join(cells.select(col("gx"), col("gy")),
          col("cx") === col("gx") && col("cy") === col("gy"), "left_semi")
        val m = occ.agg(count(lit(1)).as("k"), sum(col("s")).as("ss"),
          // square in the widened type — s*s in int64 wraps once a
          // neighborhood count passes ~3·10⁹ (same fix as e11)
          sum(col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)")).as("sq"))
        occ.crossJoin(broadcast(m))
          .filter {
            // decimal(38,0) like e11: (s·k)² wraps int64 once neighborhood
            // counts reach cluster scale; DuckDB computes in HUGEINT
            val dev = (col("s") * col("k") - col("ss")).cast("decimal(38,0)")
            val varN = col("k").cast("decimal(38,0)") * col("sq") -
              col("ss").cast("decimal(38,0)") * col("ss").cast("decimal(38,0)")
            col("s") * col("k") - col("ss") > 0 && dev * dev > lit(4) * varN
          }
          .select(col("cx").as("gx"), col("cy").as("gy"), col("s").as("neighborhood_n"))
          .orderBy(col("neighborhood_n").desc, col("gx"), col("gy"))
    },

    // CORRIDOR range query (reference O2/O16 composed): for every other
    // user, how many of their points lie within distance 10 of user 0's
    // trajectory POLYLINE — segment distance, not point-set distance, so
    // the corridor covers the path BETWEEN samples. The 1-row query
    // trajectory broadcasts (the reference broadcasts its query the same
    // way); per-point work is the O(|segments|) kernel, embarrassingly
    // parallel; the oracle replicates the projection-clamp formula
    // term-for-term so the IEEE expression trees are identical.
    DeclaredQuery("t22_corridor_count",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |q AS (SELECT x, y, ts_us, event_id FROM pts WHERE user_id = 0),
         |seg AS (SELECT ax, ay, bx, by FROM
         |          (SELECT x AS ax, y AS ay,
         |                  LEAD(x) OVER (ORDER BY ts_us, event_id) AS bx,
         |                  LEAD(y) OVER (ORDER BY ts_us, event_id) AS by
         |           FROM q QUALIFY bx IS NOT NULL)
         |        -- degenerate 1-point query → the kernel's zero-length
         |        -- (p,p) segment (Metrics clamps the segment index), so the
         |        -- oracle mirrors it instead of dropping the query
         |        UNION ALL
         |        SELECT MIN(x), MIN(y), MIN(x), MIN(y) FROM q
         |        HAVING COUNT(*) = 1),
         |p AS (SELECT user_id, event_id, x, y FROM pts WHERE user_id <> 0),
         |c1 AS (SELECT p.user_id, p.event_id, p.x, p.y, s.ax, s.ay,
         |              s.bx - s.ax AS vx, s.by - s.ay AS vy
         |       FROM p, seg s),
         |c2 AS (SELECT *, vx*vx + vy*vy AS len2 FROM c1),
         |c3 AS (SELECT *, CASE WHEN len2 = 0 THEN 0.0
         |                      ELSE GREATEST(0.0, LEAST(1.0,
         |                             ((x-ax)*vx + (y-ay)*vy) / len2)) END AS t
         |       FROM c2),
         |c4 AS (SELECT user_id, event_id,
         |              SQRT((x-(ax+t*vx))*(x-(ax+t*vx)) + (y-(ay+t*vy))*(y-(ay+t*vy))) AS dist
         |       FROM c3),
         |d AS (SELECT user_id, event_id, MIN(dist) AS md FROM c4 GROUP BY user_id, event_id)
         |SELECT user_id, COUNT(*) AS n_points,
         |       CAST(SUM(CASE WHEN ROUND(md, 6) <= 10.0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_in_corridor
         |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        val q = Tables.trajArrays(s, dir, "purchase")
          .filter(col("user_id") === 0)
          .select(col("xs").as("qxs"), col("ys").as("qys"))
        Tables.pts(s, dir, "purchase")
          .filter(col("user_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("user_id"),
            round(MetricCol.polylineDist(
              col("x"), col("y"), col("qxs"), col("qys")), 6).as("md"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_points"),
            sum(when(col("md") <= 10.0, 1).otherwise(0)).cast("long").as("n_in_corridor"))
          .orderBy(col("user_id"))
    },

    // Radius of gyration per user (González/Hidalgo/Barabási 2008's mobility
    // statistic): rms distance of a user's points from their centroid.
    // ONE aggregation pass via the moment identity Σ(n·xi−Σx)² = n²Σxi²−n(Σx)²
    // — no join-back of the centroid. Coordinates fixed-point FIRST
    // (x micro-days, y centi-units) so every sum is an exact integer in any
    // aggregation order; moments accumulate in decimal(38,0) (DuckDB HUGEINT
    // parity — int64 would wrap once n·Σx² passes 2^63 at cluster scale);
    // ONE final double expression, written identically in both engines.
    DeclaredQuery("t20_radius_gyration",
      s"""WITH f AS (SELECT user_id,
         |             CAST(FLOOR(x*1000000 + 0.5) AS BIGINT) AS xf,
         |             ${centsS("y")} AS yf
         |           FROM ${ptsViewS("purchase")} v),
         |m AS (SELECT user_id, COUNT(*) AS n,
         |        SUM(xf) AS sx, SUM(yf) AS sy,
         |        SUM(xf*xf) AS qx, SUM(yf*yf) AS qy
         |      FROM f GROUP BY user_id)
         |SELECT user_id, CAST(n AS BIGINT) AS n_points,
         |       ROUND(SQRT((CAST(n*qx - sx*sx AS DOUBLE)/1e12
         |                   + CAST(n*qy - sy*sy AS DOUBLE)/1e4)
         |                  / CAST(n*n AS DOUBLE)), 6) AS rg
         |FROM m ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        val dec = "decimal(38,0)"
        val f = Tables.pts(s, dir, "purchase")
          .select(col("user_id"),
            floor(col("x") * lit(1000000) + lit(0.5)).cast("long").as("xf"),
            cents(col("y")).as("yf"))
        f.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("xf").cast(dec)).as("sx"), sum(col("yf").cast(dec)).as("sy"),
            sum(col("xf").cast(dec) * col("xf").cast(dec)).as("qx"),
            sum(col("yf").cast(dec) * col("yf").cast(dec)).as("qy"))
          .select(col("user_id"), col("n").cast("long").as("n_points"),
            round(sqrt(
              ((col("n").cast(dec) * col("qx") - col("sx") * col("sx")).cast("double") / lit(1e12)
                + (col("n").cast(dec) * col("qy") - col("sy") * col("sy")).cast("double") / lit(1e4))
                / (col("n") * col("n")).cast("double")), 6).as("rg"))
          .orderBy(col("user_id"))
    },

    // t4's box-range query served FROM A VERSIONED TABLE with spatial
    // manifest pruning: the point corpus lives in a GraftTable clustered by
    // integer tile (tx=floor(x), ty=floor(y)) with per-file tile min/max
    // stats, and the scan opens ONLY files whose tile ranges overlap the
    // query box (scanWhereAll conjunction) before the exact row predicate
    // runs. The 100 TB story: a petabyte trajectory corpus range-clustered
    // at ingest answers a box query by reading the overlapping files — the
    // table-layer analog of the reference's global STR index pruning (O10),
    // with the manifest as the driver-side index. Same oracle as t4: the
    // pruned table scan must land exactly the raw-parquet answer.
    DeclaredQuery("t26_box_range_table",
      s"""WITH pts AS ${ptsViewS("purchase")}
         |SELECT user_id, COUNT(*) AS n_in_box FROM pts
         |WHERE x BETWEEN 5.0 AND 15.0 AND y BETWEEN 50.0 AND 150.0
         |GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        val tdir = ptsTable(s, dir)
        graft.sources.GraftTable
          .scanWhereAll(s, tdir, None, Seq(("tx", 5L, 15L), ("ty", 50L, 150L)))
          .filter(col("x").between(5.0, 15.0) && col("y").between(50.0, 150.0))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_in_box"))
          .orderBy(col("user_id"))
    },

    // t5's point kNN served FROM THE TABLE by a certified expanding-box
    // manifest search — the reference's index-seeded kNN (O9 leaf descent +
    // O11 bound seeding) re-expressed against manifest tile stats: scan the
    // box of half-width r around the query point (files pruned by
    // scanWhereAll), take the top-k, and STOP once the kth exact distance
    // certifies that no point outside the box can enter the result
    // (max exact ≤ r − 1e-6: any outside point is > r away, so after 6dp
    // rounding it still ranks strictly behind every returned candidate);
    // otherwise double r. Driver work per step is one ≤k-row collect
    // (bounded by construction); steps are O(log domain). At 100 TB the
    // certified search reads a few tiles' files — never the corpus — and
    // the answer is EXACT, proven by t5's own oracle.
    DeclaredQuery("t27_point_knn_table",
      s"""WITH pts AS ${ptsViewS("purchase")}
         |SELECT user_id, event_id,
         |       ROUND(SQRT((x-15.0)*(x-15.0)+(y-100.0)*(y-100.0)),6) AS d
         |FROM pts
         |ORDER BY ROUND(SQRT((x-15.0)*(x-15.0)+(y-100.0)*(y-100.0)),6), user_id, event_id
         |LIMIT 10""".stripMargin) {
      (s, dir) =>
        graft.operators.TrajectorySearch.pointKnnOverTable(
          s, ptsTable(s, dir), qx = 15.0, qy = 100.0, k = 10)
    },

    // Spatial INGEST GATE — the trajectory-space member of the incremental
    // admission family (d14 gates lexical near-dups, v11 semantic ones;
    // this gates ROUTE duplicates, the same path re-recorded, which
    // token/embedding hashing cannot see): admit each batch trajectory
    // (user_id % 5 = 0) iff no corpus trajectory (the rest) lies within
    // Hausdorff 11.0. Cross pairs only: TrajectorySearch.epsilonGate is
    // the ε mode of t7–t9's partition-local query-set search, the batch
    // its query set (one lookup job, one search job over the corpus). The
    // DuckDB oracle computes the full cross Hausdorff relationally — the
    // gate must land the exact admit/reject partition.
    DeclaredQuery("t28_traj_ingest_gate",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |d AS (SELECT a.user_id cu, b.user_id bu, a.event_id ea, b.event_id eb,
         |             SQRT((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)) AS dist
         |      FROM pts a JOIN pts b
         |        ON (a.user_id % 5 <> 0) AND (b.user_id % 5 = 0)),
         |hab AS (SELECT cu,bu, MAX(md) AS h FROM
         |        (SELECT cu,bu,ea, MIN(dist) AS md FROM d GROUP BY cu,bu,ea) q1 GROUP BY cu,bu),
         |hba AS (SELECT cu,bu, MAX(md) AS h FROM
         |        (SELECT cu,bu,eb, MIN(dist) AS md FROM d GROUP BY cu,bu,eb) q2 GROUP BY cu,bu),
         |hh AS (SELECT hab.cu, hab.bu, GREATEST(hab.h, hba.h) AS h
         |       FROM hab JOIN hba ON hab.cu=hba.cu AND hab.bu=hba.bu),
         |cl AS (SELECT bu, COUNT(*) AS n_close FROM hh
         |       WHERE ROUND(h,6) <= 11.0 GROUP BY bu),
         |b AS (SELECT DISTINCT user_id FROM pts WHERE user_id % 5 = 0)
         |SELECT b.user_id, CAST(COALESCE(n_close, 0) AS BIGINT) AS n_close,
         |       CAST(CASE WHEN COALESCE(n_close, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS admitted
         |FROM b LEFT JOIN cl ON b.user_id = cl.bu
         |ORDER BY b.user_id""".stripMargin) {
      (s, dir) =>
        val ta = Tables.trajArrays(s, dir, "purchase")
        graft.operators.TrajectorySearch.epsilonGate(
          ta.filter(col("user_id") % 5 =!= 0),
          ta.filter(col("user_id") % 5 === 0),
          tau = 11.0)
    },

    // Point-in-polygon (ray casting) — the polygon member of the spatial
    // predicate surface (t4's box, t22's corridor): per-user count of
    // points inside a fixed non-convex polygon, by exact integer crossing
    // parity of the +x ray (geo.Polygon — cross-product sign test, no
    // division, both engines evaluate the identical IEEE expression tree
    // generated from ONE vertex list). The predicate is a pure codegen'd
    // projection riding the scan — no explode/join — so at 100 TB the only
    // shuffle is the per-user aggregate; a geofence test over a petabyte
    // of GPS points is exactly this plan. crossings_sum is the stronger
    // per-edge checksum (parity alone would mask paired errors); boundary
    // convention pinned in TrajectoryExprTest.
    DeclaredQuery("t29_polygon_count",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |c AS (SELECT user_id,
         |        ${graft.geo.Polygon.crossingsSql(fencePolygon, "x", "y")} AS nc
         |      FROM pts)
         |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pts,
         |       ${bsumS("CASE WHEN nc % 2 = 1 THEN 1 ELSE 0 END")} AS n_inside,
         |       ${bsumS("nc")} AS crossings_sum
         |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, dir) =>
        Tables.pts(s, dir, "purchase")
          .select(col("user_id"),
            graft.geo.Polygon.crossings(fencePolygon, col("x"), col("y")).as("nc"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_pts"),
            sum(when(col("nc") % 2 === 1, lit(1L)).otherwise(lit(0L))).as("n_inside"),
            sum(col("nc")).as("crossings_sum"))
          .orderBy(col("user_id"))
    },

    // Polygon-RELATION spatial join (round-11 directive #1): points × a
    // geofence TABLE (geo.Fences — 100 non-convex pentagons), the t29
    // predicate promoted to a join via the shared
    // operators.GeofenceJoin builder (round-12 directive #2): each fence
    // explodes to the ≤4 grid cells its bbox overlaps — the cell pitch
    // DERIVED from the fence-extent aggregate, not a constant — each
    // point maps to its ONE home cell, and the pair space is a broadcast
    // HASH equi-join on (cx, cy) — never point × fence. Blocking is
    // prune-only (see GeofenceJoin's invariant), refine is the exact
    // edge-array ray-cast fold (Polygon.crossingsEdges, codegen'd). At
    // 100 TB: the fence side is tiny and broadcast, the point side NEVER
    // shuffles before the per-fence partial aggregate. The oracle
    // computes the UNBLOCKED point × edge crossing sums relationally from
    // the same VALUES text, so the blocked join must land the exact
    // per-fence point sets (plan-guarded: no cartesian).
    DeclaredQuery("t30_geofence_join",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |fe AS (SELECT * FROM ${graft.geo.Fences.edgesSql}),
         |nc AS (SELECT p.event_id, p.user_id, f.fence_id,
         |         SUM(CASE WHEN f.y2 > f.y1 AND p.y >= f.y1 AND p.y < f.y2
         |                   AND ((p.y - f.y1)*(f.x2 - f.x1) - (p.x - f.x1)*(f.y2 - f.y1)) > 0.0 THEN 1
         |                  WHEN f.y2 < f.y1 AND p.y >= f.y2 AND p.y < f.y1
         |                   AND ((p.y - f.y1)*(f.x2 - f.x1) - (p.x - f.x1)*(f.y2 - f.y1)) < 0.0 THEN 1
         |                  ELSE 0 END) AS nc
         |       FROM pts p CROSS JOIN fe f
         |       GROUP BY p.event_id, p.user_id, f.fence_id),
         |agg AS (SELECT fence_id, CAST(COUNT(*) AS BIGINT) AS n_inside,
         |               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |               ${bsumS("event_id % 10007")} AS id_checksum
         |        FROM nc WHERE nc % 2 = 1 GROUP BY fence_id)
         |SELECT f.fence_id, CAST(COALESCE(n_inside, 0) AS BIGINT) AS n_inside,
         |       CAST(COALESCE(n_users, 0) AS BIGINT) AS n_users,
         |       CAST(COALESCE(id_checksum, 0) AS BIGINT) AS id_checksum
         |FROM (SELECT DISTINCT fence_id FROM fe) f LEFT JOIN agg USING (fence_id)
         |ORDER BY fence_id""".stripMargin) {
      (s, dir) =>
        val fences = s.createDataFrame(graft.geo.Fences.all)
        val counts = graft.operators.GeofenceJoin
          .attribute(Tables.pts(s, dir), fences)
          .groupBy(col("fence_id"))
          .agg(count(lit(1)).as("n_inside"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("event_id") % 10007).as("id_checksum"))
        fences.select(col("fence_id"))
          .join(counts, Seq("fence_id"), "left")
          .select(col("fence_id"),
            coalesce(col("n_inside"), lit(0L)).as("n_inside"),
            coalesce(col("n_users"), lit(0L)).as("n_users"),
            coalesce(col("id_checksum"), lit(0L)).as("id_checksum"))
          .orderBy(col("fence_id"))
    },

    // Geofence DWELL TIME — the time-in-zone analytics query t30's
    // membership counts stop short of: per fence, how long users spent
    // inside (each point carries the µs gap to its user's NEXT point —
    // point-sample dwell attribution, the standard telemetry convention;
    // a user's last point contributes 0). One user-PARTITIONED window on
    // the scan (parallel — never a global sort), then exactly t30's
    // broadcast cell-blocked join + ray-cast refine, then one per-fence
    // aggregate. All integer µs arithmetic — the oracle replays it
    // relationally over the same VALUES edge table.
    DeclaredQuery("t31_geofence_dwell",
      s"""WITH pts AS ${ptsViewS("purchase")},
         |pd AS (SELECT user_id, event_id, x, y,
         |         COALESCE(LEAD(ts_us) OVER (PARTITION BY user_id
         |                                    ORDER BY ts_us, event_id) - ts_us, 0) AS dt
         |       FROM pts),
         |fe AS (SELECT * FROM ${graft.geo.Fences.edgesSql}),
         |nc AS (SELECT p.event_id, p.user_id, p.dt, f.fence_id,
         |         SUM(CASE WHEN f.y2 > f.y1 AND p.y >= f.y1 AND p.y < f.y2
         |                   AND ((p.y - f.y1)*(f.x2 - f.x1) - (p.x - f.x1)*(f.y2 - f.y1)) > 0.0 THEN 1
         |                  WHEN f.y2 < f.y1 AND p.y >= f.y2 AND p.y < f.y1
         |                   AND ((p.y - f.y1)*(f.x2 - f.x1) - (p.x - f.x1)*(f.y2 - f.y1)) < 0.0 THEN 1
         |                  ELSE 0 END) AS nc
         |       FROM pd p CROSS JOIN fe f
         |       GROUP BY p.event_id, p.user_id, p.dt, f.fence_id),
         |agg AS (SELECT fence_id, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |               ${bsumS("dt")} AS dwell_us
         |        FROM nc WHERE nc % 2 = 1 GROUP BY fence_id)
         |SELECT f.fence_id, CAST(COALESCE(n_users, 0) AS BIGINT) AS n_users,
         |       CAST(COALESCE(dwell_us, 0) AS BIGINT) AS dwell_us
         |FROM (SELECT DISTINCT fence_id FROM fe) f LEFT JOIN agg USING (fence_id)
         |ORDER BY fence_id""".stripMargin) {
      (s, dir) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val fences = s.createDataFrame(graft.geo.Fences.all)
        val pd = Tables.pts(s, dir)
          .select(col("user_id"), col("event_id"), col("x"), col("y"),
            coalesce(lead(col("ts_us"), 1).over(w) - col("ts_us"), lit(0L)).as("dt"))
        val counts = graft.operators.GeofenceJoin.attribute(pd, fences)
          .groupBy(col("fence_id"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            sum(col("dt")).as("dwell_us"))
        fences.select(col("fence_id"))
          .join(counts, Seq("fence_id"), "left")
          .select(col("fence_id"),
            coalesce(col("n_users"), lit(0L)).as("n_users"),
            coalesce(col("dwell_us"), lit(0L)).as("dwell_us"))
          .orderBy(col("fence_id"))
    }
  )

  /** Build-once tile-clustered point table for t26 (the docsTable pattern):
    * v0 = the purchase-event points with integer tile columns, range-
    * clustered on (tx, ty) so per-file manifest tile stats are tight — a
    * box query then skips non-overlapping files entirely. Guarded like
    * d16's docsTable: a warm session finds v0 and reads it. */
  private def ptsTable(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.sources.GraftTable.getOrCreate(s,
      graft.sources.IndexStore.artifactPath(s, dir, "pts_table"),
      statsCols = Seq("tx", "ty")) {
      Tables.pts(s, dir, "purchase")
        .withColumn("tx", floor(col("x")).cast("long"))
        .withColumn("ty", floor(col("y")).cast("long"))
        .repartitionByRange(8, col("tx"), col("ty"))
    }
}
