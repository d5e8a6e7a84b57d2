package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{MetricCol, SlicedBoxLb}
import graft.geo.Metrics

/** The native trajectory expressions (graft_boxlb and the MetricCol
  * kernels) must equal their JVM kernels exactly and must actually participate in
  * codegen (no silent interpreted fallback). */
class TrajectoryExprTest extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def flatBoxes(xs: Seq[Double], ys: Seq[Double], k: Int): Seq[Double] = {
    val n = xs.length
    (0 until k).flatMap { i =>
      val from = i * n / k
      val until = (i + 1) * n / k
      if (until <= from) Nil
      else {
        val sx = xs.slice(from, until)
        val sy = ys.slice(from, until)
        Seq(sx.min, sx.max, sy.min, sy.max)
      }
    }
  }

  test("graft_boxlb equals a scala reference bound and lower-bounds hausdorff") {
    SlicedBoxLb.register(spark)
    val rnd = new scala.util.Random(5)
    def traj(n: Int) =
      (Seq.fill(n)(rnd.nextDouble() * 30), Seq.fill(n)(rnd.nextDouble() * 200))
    val trajs = (0L until 30L).map { id =>
      val (xs, ys) = traj(3 + rnd.nextInt(40)); (id, xs, ys, flatBoxes(xs, ys, 8))
    }
    def refLb(a: Seq[Double], b: Seq[Double]): Double = {
      def boxdist(i: Int, j: Int): Double = {
        val dx = math.max(0.0, math.max(a(i * 4) - b(j * 4 + 1), b(j * 4) - a(i * 4 + 1)))
        val dy = math.max(0.0, math.max(a(i * 4 + 2) - b(j * 4 + 3), b(j * 4 + 2) - a(i * 4 + 3)))
        math.sqrt(dx * dx + dy * dy)
      }
      val (n, m) = (a.length / 4, b.length / 4)
      math.max(
        (0 until n).map(i => (0 until m).map(j => boxdist(i, j)).min).max,
        (0 until m).map(j => (0 until n).map(i => boxdist(i, j)).min).max)
    }
    val df = trajs.toDF("id", "xs", "ys", "boxes")
    val a = df.select($"id".as("i1"), $"xs".as("xs1"), $"ys".as("ys1"), $"boxes".as("b1"))
    val b = df.select($"id".as("i2"), $"xs".as("xs2"), $"ys".as("ys2"), $"boxes".as("b2"))
    val rows = a.join(broadcast(b), $"i1" < $"i2")
      .select($"i1", $"i2", expr("graft_boxlb(b1, b2)").as("lb"),
        MetricOracles.hausdorffUdf($"xs1", $"ys1", $"xs2", $"ys2").as("h"))
      .collect()
    assert(rows.length == 30 * 29 / 2)
    val byId = trajs.map(t => t._1 -> t).toMap
    rows.foreach { r =>
      val expected = refLb(byId(r.getLong(0))._4, byId(r.getLong(1))._4)
      assert(math.abs(r.getDouble(2) - expected) < 1e-12, s"pair ${r.getLong(0)},${r.getLong(1)}")
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-9, "lb must lower-bound hausdorff")
    }
  }

  /** One generated kernel input: two trajectories, an abandon bound, the
    * LCSS/EDR ε box and a point for the polyline distance. */
  private case class PairCase(xa: Seq[Double], ya: Seq[Double], xb: Seq[Double],
                              yb: Seq[Double], bound: Double, ex: Double, ey: Double,
                              px: Double, py: Double)

  private val pairCases: Gen[PairCase] = {
    // coarse steps make equal coordinates and duplicate points common
    val coord = Gen.frequency(12 -> Gen.choose(0, 8).map(_ * 0.5),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))
    val traj = for {
      n <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.const(1), 5 -> Gen.choose(2, 12))
      pts <- Gen.listOfN(n, Gen.zip(coord, coord))
      // now and then a point repeats right after itself
      dup <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
      all = if (dup && pts.nonEmpty) pts.head +: pts else pts
    } yield (all.map(_._1), all.map(_._2))
    for {
      (xa, ya) <- traj
      (xb, yb) <- traj
      bound <- Gen.oneOf(Gen.const(0.0), Gen.choose(0.0, 6.0), Gen.const(Double.MaxValue))
      ex <- Gen.choose(0, 4).map(_ * 0.5)
      ey <- Gen.choose(0, 4).map(_ * 0.5)
      px <- coord
      py <- coord
    } yield PairCase(xa, ya, xb, yb, bound, ex, ey, px, py)
  }

  test("graft_hausdorff_bounded equals Metrics.hausdorffBounded through the SQL path") {
    // Every MetricKernel entry point (the two SQL names included), with and
    // without whole-stage codegen and with the interpreted fallback off,
    // is bit-identical to a direct call of its Metrics kernel.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    MetricCol.register(spark)
    val coords = ArrayType(DoubleType)
    val schema = StructType(Seq("xa", "ya", "xb", "yb").map(StructField(_, coords)) ++
      Seq("bound", "ex", "ey", "px", "py").map(StructField(_, DoubleType)))
    val (xa, ya, xb, yb) = ($"xa", $"ya", $"xb", $"yb")
    val cols = Seq(
      expr("graft_hausdorff_bounded(xa, ya, xb, yb, bound)"),
      expr("graft_frechet_bounded(xa, ya, xb, yb, bound)"),
      MetricCol("hausdorff", xa, ya, xb, yb, $"bound"),
      MetricCol("frechet", xa, ya, xb, yb, $"bound"),
      MetricCol("hausdorff", xa, ya, xb, yb),
      MetricCol("frechet", xa, ya, xb, yb),
      MetricCol.dtw(xa, ya, xb, yb),
      MetricCol.lcssCount(xa, ya, xb, yb, $"ex", $"ey"),
      MetricCol.edr(xa, ya, xb, yb, $"ex", $"ey"),
      MetricCol.erp(xa, ya, xb, yb),
      MetricCol.closestApproach(xa, ya, xb, yb),
      MetricCol.polylineDist($"px", $"py", xa, ya))
    def expected(c: PairCase): Seq[Any] = {
      val (a, b, d, e) = (c.xa.toArray, c.ya.toArray, c.xb.toArray, c.yb.toArray)
      Seq[Any](Metrics.hausdorffBounded(a, b, d, e, c.bound), Metrics.frechetBounded(a, b, d, e, c.bound),
        Metrics.hausdorffBounded(a, b, d, e, c.bound), Metrics.frechetBounded(a, b, d, e, c.bound),
        Metrics.hausdorff(a, b, d, e), Metrics.discreteFrechet(a, b, d, e),
        Metrics.dtw(a, b, d, e), Metrics.lcssCount(a, b, d, e, c.ex, c.ey),
        Metrics.edr(a, b, d, e, c.ex, c.ey), Metrics.erp(a, b, d, e),
        Metrics.closestApproach(a, b, d, e), Metrics.polylineDist(c.px, c.py, a, b))
    }
    def same(x: Any, y: Any): Boolean = (x, y) match {
      case (p: Double, q: Double) => java.lang.Double.compare(p, q) == 0
      case (p: Int, q: Int) => p == q
      case _ => false
    }
    def evaluated(cases: Seq[PairCase], conf: (String, String)): Seq[Seq[Any]] = {
      val prev = spark.conf.getOption(conf._1)
      spark.conf.set(conf._1, conf._2)
      try {
        val rows = cases.zipWithIndex.map { case (c, i) =>
          Row(c.xa, c.ya, c.xb, c.yb, c.bound, c.ex, c.ey, c.px, c.py, i.toLong) }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
            schema.add("i", LongType))
          .select(cols :+ $"i": _*).collect().sortBy(_.getLong(cols.length))
          .map(r => cols.indices.map(r.get)).toSeq
      } finally prev match {
        case Some(v) => spark.conf.set(conf._1, v)
        case None => spark.conf.unset(conf._1)
      }
    }
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAllNoShrink(Gen.listOfN(40, pairCases)) { cases =>
      val want = cases.map(expected)
      val bad = for {
        conf <- Seq("spark.sql.codegen.fallback" -> "false",
          "spark.sql.codegen.wholeStage" -> "false")
        (got, (w, c)) <- evaluated(cases, conf).zip(want.zip(cases))
        k <- cols.indices if !same(got(k), w(k))
      } yield s"$conf, column $k: ${got(k)} != ${w(k)} for $c"
      cases.foreach { c =>
        val pts = c.xa ++ c.ya ++ c.xb ++ c.yb
        Seq("empty" -> (c.xa.isEmpty || c.xb.isEmpty), "1-point" -> (c.xa.size == 1),
          "NaN" -> pts.exists(_.isNaN), "Inf" -> pts.exists(_.isInfinite),
          "duplicate point" -> (c.xa.zip(c.ya).distinct.size < c.xa.size),
          "bound 0" -> (c.bound == 0.0), "bound max" -> (c.bound == Double.MaxValue),
          "finite bound" -> (c.bound > 0.0 && c.bound < 10.0))
          .foreach { case (what, hit) => if (hit) seen(what) += 1 }
      }
      bad.isEmpty :| bad.take(3).mkString("\n")
    }
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(8).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(20261017L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    for (what <- Seq("empty", "1-point", "NaN", "Inf", "duplicate point", "bound 0",
        "bound max", "finite bound"))
      assert(seen(what) > 0, s"no generated case covered '$what': $seen")
  }

  test("both expressions compile under codegen (fallback disabled)") {
    SlicedBoxLb.register(spark)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val ta = Tables.trajArrays(spark, TestSpark.sf0001)
      val a = ta.select($"user_id".as("u1"), $"boxes".as("b1"), $"xs".as("xs1"), $"ys".as("ys1"))
      val b = ta.select($"user_id".as("u2"), $"boxes".as("b2"), $"xs".as("xs2"), $"ys".as("ys2"))
      val n = a.join(broadcast(b), $"u1" < $"u2")
        .select(expr("graft_boxlb(b1, b2)").as("lb"),
          MetricCol("hausdorff", $"xs1", $"ys1", $"xs2", $"ys2", lit(1e18)).as("h"))
        .filter($"lb" >= 0 && $"h" >= $"lb" - 1e-9)
        .count()
      val users = ta.count()
      assert(n == users * (users - 1) / 2, "bound must hold for every pair under codegen")
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("polygon ray casting: parity matches an independent caster; boundary rule pinned") {
    import graft.geo.Polygon
    // independent reference: classic division-form ray caster
    def refInside(vs: Seq[(Double, Double)], px: Double, py: Double): Boolean = {
      var in = false
      var j = vs.length - 1
      for (i <- vs.indices) {
        val (xi, yi) = vs(i); val (xj, yj) = vs(j)
        if ((yi > py) != (yj > py) &&
            px < (xj - xi) * (py - yi) / (yj - yi) + xi) in = !in
        j = i
      }
      in
    }
    val P = Seq((5.0, 40.0), (15.0, 40.0), (15.0, 160.0), (10.0, 90.0), (5.0, 160.0))
    val rnd = new scala.util.Random(29)
    val planted = Seq(
      (10.0, 50.0, true),   // deep inside
      (10.0, 155.0, false), // inside the top notch
      (7.0, 120.0, true),   // left lobe
      (13.0, 120.0, true),  // right lobe
      (20.0, 100.0, false), // right of the polygon
      (2.0, 100.0, false),  // left of the polygon
      (10.0, 30.0, false))  // below
    planted.foreach { case (x, y, want) =>
      assert(refInside(P, x, y) == want, s"reference caster sanity at ($x,$y)") }
    val rand = Seq.fill(400)((rnd.nextDouble() * 30, rnd.nextDouble() * 200))
    val rows = (planted.map(p => (p._1, p._2)) ++ rand).zipWithIndex
      .map { case ((x, y), i) => (i.toLong, x, y) }
    val got = rows.toDF("id", "x", "y")
      .select(col("id"), Polygon.inside(P, col("x"), col("y")).as("in"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    rows.foreach { case (id, x, y) =>
      assert(got(id) == refInside(P, x, y), s"parity mismatch at ($x,$y)") }
    // the generated SQL text must agree with the Column form row-for-row
    // (the two are emitted from one vertex list — this pins the generator)
    val drift = rows.toDF("id", "x", "y")
      .select(Polygon.crossings(P, col("x"), col("y")).as("a"),
        expr(Polygon.crossingsSql(P, "x", "y")).cast("long").as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(drift == 0, "crossingsSql drifted from the Column form")
    // boundary convention pinned (deterministic either way): half-open
    // y-span + strict-left ⇒ ON the left edge = inside (the right edge's
    // span still crosses), ON the right edge = outside (strict-left fails),
    // ON the bottom horizontal edge = inside (the right vertical edge's
    // half-open span starts at its y), the notch vertex = inside (only the
    // right edge crosses; both notch edges yield t = 0)
    def ins(x: Double, y: Double): Boolean = {
      val r = Seq((0L, x, y)).toDF("id", "x", "y")
        .select(Polygon.inside(P, col("x"), col("y"))).collect()
      r(0).getBoolean(0)
    }
    assert(ins(5.0, 100.0), "on the left edge -> inside")
    assert(!ins(15.0, 100.0), "on the right edge -> outside")
    assert(ins(10.0, 40.0), "on the horizontal bottom edge -> inside")
    assert(ins(10.0, 90.0), "the notch vertex -> inside")
  }

  test("t30 fixtures: crossingsEdges == baked crossings; fences exact and non-convex") {
    import graft.geo.{Fences, Polygon}
    // every fence coordinate is a multiple of 1/8 (exactly representable,
    // shortest-decimal round-trip — the Spark/DuckDB parity argument)
    Fences.all.foreach { f =>
      f.edges.foreach { e =>
        Seq(e.x1, e.y1, e.x2, e.y2).foreach(v =>
          assert(v * 8 == math.rint(v * 8), s"fence ${f.fence_id}: $v not an eighth"))
      }
      assert(f.edges.length == 5, "pentagon")
      // non-convex: the notch vertex (edge 3's start) sits strictly below maxy
      assert(f.edges(3).x1 > f.minx && f.edges(3).x1 < f.maxx &&
        f.edges(3).y1 < f.maxy && f.edges(3).y1 > f.miny,
        s"fence ${f.fence_id}: notch vertex not interior to the bbox span")
    }
    // the data-driven edge-array fold must count crossings identically to
    // the baked-vertex Column form for EVERY fence over a point grid
    // covering the whole domain (boundaries included via integer steps)
    val rnd = new scala.util.Random(30)
    val pts = (for (i <- 0 until 300) yield
      (i.toLong, rnd.nextDouble() * 30, rnd.nextDouble() * 200)) ++
      (for (x <- 0 to 30; y <- 0 to 200 by 25) yield
        ((x * 1000 + y).toLong, x.toDouble, y.toDouble))
    val df = pts.toDF("id", "x", "y")
    Fences.all.foreach { f =>
      val verts = f.edges.map(e => (e.x1, e.y1))
      val edgesLit = typedLit(f.edges)
      val drift = df.select(
          Polygon.crossings(verts, col("x"), col("y")).as("a"),
          Polygon.crossingsEdges(edgesLit, col("x"), col("y")).as("b"))
        .filter(col("a") =!= col("b")).count()
      assert(drift == 0, s"fence ${f.fence_id}: crossingsEdges drifted from crossings")
    }
  }

  test("GeofenceJoin: blocked == unblocked membership under RANDOMIZED fence extents") {
    import graft.geo.Fences
    // round-12 directive #2: the cell pitch is derived from the data, so
    // arbitrary fence shapes/extents (wide, tall, tiny, overlapping) must
    // give the exact same (point, fence) membership as the brute-force
    // cross join — blocking is prune-only for ANY positive pitch
    for (seed <- Seq(7, 91)) {
      val rnd = new scala.util.Random(seed)
      val fences = (0 until 25).map { i =>
        val cx = rnd.nextDouble() * 100 - 20   // anywhere, incl. negatives
        val cy = rnd.nextDouble() * 300 - 50
        val w = 0.25 + rnd.nextDouble() * 12   // extents vary ~50×
        val h = 0.25 + rnd.nextDouble() * 40
        val notchY = cy + h - 0.5 * h * rnd.nextDouble()
        val verts = Seq((cx - w, cy - h), (cx + w, cy - h), (cx + w, cy + h),
          (cx, notchY), (cx - w, cy + h))
        val edges = verts.zip(verts.tail :+ verts.head)
          .map { case ((a, b), (c, d)) => Fences.Edge(a, b, c, d) }
        Fences.Fence(i, edges, cx - w, cx + w, cy - h, cy + h)
      }
      val fdf = spark.createDataFrame(fences)
      val pts = (0 until 500).map(i =>
        (i.toLong, rnd.nextDouble() * 140 - 40, rnd.nextDouble() * 400 - 100))
      val pdf = pts.toDF("id", "x", "y")
      val blocked = graft.operators.GeofenceJoin.attribute(pdf, fdf)
        .select(col("id"), col("fence_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val brute = pdf.crossJoin(fdf)
        .filter(graft.geo.Polygon.crossingsEdges(col("edges"), col("x"), col("y"))
          % 2 === 1)
        .select(col("id"), col("fence_id"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(blocked == brute,
        s"seed $seed: blocked membership drifted (only-blocked=${blocked -- brute}, " +
          s"only-brute=${brute -- blocked})")
      assert(brute.nonEmpty, s"seed $seed: degenerate fixture — nothing inside")
    }
    // degenerate extents: a point fence must not break pitch derivation
    val pointFence = Seq(Fences.Fence(0,
      Seq(Fences.Edge(1.0, 1.0, 1.0, 1.0)), 1.0, 1.0, 1.0, 1.0))
    val (px, py) = graft.operators.GeofenceJoin
      .derivePitch(spark.createDataFrame(pointFence))
    assert(px == 1.0 && py == 1.0)
  }

  test("GeofenceJoin.derivePitch: memoized per fence table — a fresh frame with " +
      "the same data runs NO job, a different table gets its own pitch") {
    import graft.geo.Fences
    def fence(id: Int, w: Double, h: Double) = Fences.Fence(id,
      Seq(Fences.Edge(0.0, 0.0, w, 0.0)), 0.0, w, 0.0, h)
    val tblA = Seq(fence(0, 4.0, 2.0), fence(1, 1.0, 1.0))
    val tblB = Seq(fence(0, 9.0, 7.0))
    val p1 = graft.operators.GeofenceJoin.derivePitch(spark.createDataFrame(tblA))
    // Count jobs around the second call: the memo (keyed on the analyzed
    // plan's semantic hash) must recognize a FRESH createDataFrame of the
    // same rows — the round-13 t30 regression was exactly this 1-row
    // aggregate job re-running per query call. Only jobs of the call's own
    // job group count, so other suites' jobs cannot leak in.
    val (p2, jobs) = JobCount(spark)(
      graft.operators.GeofenceJoin.derivePitch(spark.createDataFrame(tblA)))
    assert(p2 == p1 && p1 == (4.0, 2.0))
    assert(jobs == 0, s"memo miss: derivePitch re-ran its aggregate ($jobs jobs)")
    // distinct fence data must NOT share a memo entry
    val pB = graft.operators.GeofenceJoin.derivePitch(spark.createDataFrame(tblB))
    assert(pB == (9.0, 7.0), s"cross-table memo bleed: got $pB")
  }
}
