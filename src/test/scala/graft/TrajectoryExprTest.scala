package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HausdorffCodegen, SlicedBoxLb}
import graft.geo.Metrics

/** The native trajectory expressions (graft_boxlb, graft_hausdorff_bounded)
  * must equal their JVM kernels exactly and must actually participate in
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
        graft.functions.MetricUdfs.hausdorff($"xs1", $"ys1", $"xs2", $"ys2").as("h"))
      .collect()
    assert(rows.length == 30 * 29 / 2)
    val byId = trajs.map(t => t._1 -> t).toMap
    rows.foreach { r =>
      val expected = refLb(byId(r.getLong(0))._4, byId(r.getLong(1))._4)
      assert(math.abs(r.getDouble(2) - expected) < 1e-12, s"pair ${r.getLong(0)},${r.getLong(1)}")
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-9, "lb must lower-bound hausdorff")
    }
  }

  test("graft_hausdorff_bounded equals Metrics.hausdorffBounded through the SQL path") {
    HausdorffCodegen.register(spark)
    val rnd = new scala.util.Random(17)
    val rows = (0 until 60).map { _ =>
      val n = 1 + rnd.nextInt(25)
      val m = 1 + rnd.nextInt(25)
      (Seq.fill(n)(rnd.nextDouble() * 30), Seq.fill(n)(rnd.nextDouble() * 200),
        Seq.fill(m)(rnd.nextDouble() * 30), Seq.fill(m)(rnd.nextDouble() * 200),
        rnd.nextDouble() * 150)
    }
    val out = rows.toDF("xa", "ya", "xb", "yb", "bound")
      .select(HausdorffCodegen($"xa", $"ya", $"xb", $"yb", $"bound").as("v"))
      .collect().map(_.getDouble(0))
    rows.zip(out).foreach { case ((xa, ya, xb, yb, bound), v) =>
      assert(v == Metrics.hausdorffBounded(xa.toArray, ya.toArray, xb.toArray, yb.toArray, bound))
    }
  }

  test("both expressions compile under codegen (fallback disabled)") {
    SlicedBoxLb.register(spark)
    HausdorffCodegen.register(spark)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val ta = Tables.trajArrays(spark, TestSpark.sf0001)
      val a = ta.select($"user_id".as("u1"), $"boxes".as("b1"), $"xs".as("xs1"), $"ys".as("ys1"))
      val b = ta.select($"user_id".as("u2"), $"boxes".as("b2"), $"xs".as("xs2"), $"ys".as("ys2"))
      val n = a.join(broadcast(b), $"u1" < $"u2")
        .select(expr("graft_boxlb(b1, b2)").as("lb"),
          HausdorffCodegen($"xs1", $"ys1", $"xs2", $"ys2", lit(1e18)).as("h"))
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

  test("Hausdorff computeNoCopy == copy kernel on randomized trajectories and bounds") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rnd = new scala.util.Random(1714)
    def traj(n: Int): (Array[Double], Array[Double]) =
      (Array.fill(n)(rnd.nextDouble() * 40 - 20), Array.fill(n)(rnd.nextDouble() * 40 - 20))
    for (_ <- 0 until 300) {
      val (xa, ya) = traj(rnd.nextInt(20))
      val (xb, yb) = traj(rnd.nextInt(20))
      val bound = Seq(0.0, 0.5, 5.0, 50.0, Double.MaxValue)(rnd.nextInt(5))
      val ref = graft.geo.Metrics.hausdorffBounded(xa, ya, xb, yb, bound)
      val got = graft.functions.HausdorffKernelStatic.computeNoCopy(
        ArrayData.toArrayData(xa), ArrayData.toArrayData(ya),
        ArrayData.toArrayData(xb), ArrayData.toArrayData(yb), bound)
      // bit-identical, including the early-abandon certificate values
      assert(java.lang.Double.compare(ref, got) == 0, s"$ref != $got (bound=$bound)")
    }
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
