package graft

import scala.util.Random

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.Metrics

/** Property tests for the trajectory metric kernels (SURVEY §5.2): metric
  * axioms on seeded random trajectories, DP == naive recursion for Fréchet,
  * and — on generated degenerate trajectories — the bounded kernels'
  * contract and the Hausdorff ≤ discrete-Fréchet dominance.
  */
class MetricPropertiesTest extends AnyFunSuite {

  private val rnd = new Random(42)
  private def traj(n: Int): (Array[Double], Array[Double]) =
    (Array.fill(n)(rnd.nextDouble() * 30), Array.fill(n)(rnd.nextDouble() * 200))

  private val cases = (1 to 200).map { _ =>
    val (n, m) = (1 + rnd.nextInt(40), 1 + rnd.nextInt(40))
    (traj(n), traj(m))
  }

  test("identity: d(A,A) == 0 for both metrics") {
    cases.foreach { case ((xa, ya), _) =>
      assert(Metrics.hausdorff(xa, ya, xa, ya) == 0.0)
      assert(Metrics.discreteFrechet(xa, ya, xa, ya) == 0.0)
    }
  }

  test("symmetry: d(A,B) == d(B,A)") {
    cases.foreach { case ((xa, ya), (xb, yb)) =>
      assert(Metrics.hausdorff(xa, ya, xb, yb) == Metrics.hausdorff(xb, yb, xa, ya))
      assert(Metrics.discreteFrechet(xa, ya, xb, yb) == Metrics.discreteFrechet(xb, yb, xa, ya))
    }
  }

  test("frechet DP equals naive memoized recursion") {
    cases.foreach { case ((xa, ya), (xb, yb)) =>
      val dp = Metrics.discreteFrechet(xa, ya, xb, yb)
      val naive = MetricOracles.discreteFrechetNaive(xa, ya, xb, yb)
      assert(dp == naive, s"DP $dp != naive $naive")
    }
  }

  /** One generated kernel input: a kind per side and the two trajectories. */
  private case class KernelCase(kinds: (String, String), a: (Array[Double], Array[Double]),
                                b: (Array[Double], Array[Double])) {
    override def toString: String = s"$kinds: ${show(a)} vs ${show(b)}"
    private def show(t: (Array[Double], Array[Double])) =
      if (t._1.length > 50) s"${t._1.length} points"
      else t._1.zip(t._2).mkString("[", ", ", "]")
  }

  /** The trajectories a table can hold: plain random ones, and empty,
    * 1-point, NaN/±Inf-coordinate, repeated-point and longer-than-
    * [[Tables.MaxTrajPoints]] ones. A long one is only paired with a
    * short one: the kernels are O(n·m). */
  private val kernelCases: Gen[KernelCase] = {
    val odd = Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    def coords(n: Int, oddWeight: Int) =
      Gen.listOfN(n, Gen.frequency(8 -> Gen.choose(0, 20).map(_ * 0.5), oddWeight -> odd))
        .map(_.toArray)
    def traj(n: Int, oddWeight: Int) = for (xs <- coords(n, oddWeight); ys <- coords(n, oddWeight))
      yield (xs, ys)
    val short = Gen.frequency(
      1 -> Gen.const("empty" -> (Array.emptyDoubleArray, Array.emptyDoubleArray)),
      2 -> traj(1, 0).map("1-point" -> _),
      2 -> Gen.choose(1, 12).flatMap(traj(_, 2)).map("NaN/Inf" -> _),
      2 -> (for {
        (xs, ys) <- Gen.choose(1, 8).flatMap(traj(_, 0))
        reps <- Gen.listOfN(xs.length, Gen.choose(1, 3))
      } yield "repeated points" -> (xs.zip(reps).flatMap { case (x, r) => Array.fill(r)(x) },
        ys.zip(reps).flatMap { case (y, r) => Array.fill(r)(y) })),
      4 -> Gen.choose(2, 30).flatMap(traj(_, 0)).map("plain" -> _))
    // a seeded random walk: listOfN is too slow for 10⁵ points
    val long = Gen.long.map { seed =>
      val r = new Random(seed)
      val n = Tables.MaxTrajPoints + 1
      "long" -> (Array.tabulate(n)(i => i * 1e-4 + r.nextInt(3)),
        Array.tabulate(n)(i => 5.0 + r.nextInt(3) * 0.5))
    }
    for {
      (ka, a) <- Gen.frequency(12 -> short, 1 -> long)
      (kb, b) <- if (ka == "long") short else Gen.frequency(12 -> short, 1 -> long)
    } yield KernelCase((ka, kb), a, b)
  }

  /** `prop` over 300 generated kernel cases; fails unless every kind
    * occurred on some side. */
  private def checkKernelCases(seed: Long)(prop: KernelCase => Prop): Unit = {
    val seen = scala.collection.mutable.Set.empty[String]
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(300).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(seed)),
      Prop.forAllNoShrink(kernelCases) { kc => seen ++= Seq(kc.kinds._1, kc.kinds._2); prop(kc) })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    for (kind <- Seq("empty", "1-point", "NaN/Inf", "repeated points", "plain", "long"))
      assert(seen(kind), s"no generated case had a '$kind' trajectory")
  }

  private def same(a: Double, b: Double) = a == b || (a.isNaN && b.isNaN)

  /** The bounded-kernel contract of `v` = kernel(bound) against the
    * unbounded `exact`: at or below the bound (and always under a NaN
    * bound, which never abandons) `v` is `exact`; above it `v` certifies
    * that the exact value is above it too — `v ≤ exact`, or `exact` is
    * NaN. */
  private def boundedAgrees(v: Double, exact: Double, bound: Double): Prop =
    (if (bound.isNaN || v <= bound || v.isNaN) same(v, exact)
     else v > bound && (exact.isNaN || v <= exact)) :| s"bound $bound: $v vs exact $exact"

  private def boundsFor(exact: Double) = Seq(exact * 0.25, exact * 0.75, exact, exact + 1.0,
    0.0, 1e-5, Double.NaN, Double.PositiveInfinity, Double.MaxValue)

  test("hausdorff <= discrete frechet") {
    checkKernelCases(20261022L) { kc =>
      val ((xa, ya), (xb, yb)) = (kc.a, kc.b)
      val finite = xa.nonEmpty && xb.nonEmpty &&
        (xa ++ ya ++ xb ++ yb).forall(v => !v.isNaN && !v.isInfinite)
      val h = Metrics.hausdorff(xa, ya, xb, yb)
      val f = Metrics.discreteFrechet(xa, ya, xb, yb)
      (!finite || h <= f) :| s"hausdorff $h > frechet $f"
    }
  }

  test("hausdorff triangle inequality") {
    val triples = (1 to 50).map(_ => (traj(1 + rnd.nextInt(20)), traj(1 + rnd.nextInt(20)), traj(1 + rnd.nextInt(20))))
    triples.foreach { case ((xa, ya), (xb, yb), (xc, yc)) =>
      val ab = Metrics.hausdorff(xa, ya, xb, yb)
      val bc = Metrics.hausdorff(xb, yb, xc, yc)
      val ac = Metrics.hausdorff(xa, ya, xc, yc)
      assert(ac <= ab + bc + 1e-9)
    }
  }

  test("point-segment distance: clamp correctness vs dense sampling") {
    (1 to 100).foreach { _ =>
      val (px, py) = (rnd.nextDouble() * 10, rnd.nextDouble() * 10)
      val (ax, ay, bx, by) = (rnd.nextDouble() * 10, rnd.nextDouble() * 10,
        rnd.nextDouble() * 10, rnd.nextDouble() * 10)
      val d = Metrics.pointSegDist(px, py, ax, ay, bx, by)
      // dense sampling of the segment can only be >= the true min distance
      val sampled = (0 to 1000).map { i =>
        val t = i / 1000.0
        val cx = ax + t * (bx - ax)
        val cy = ay + t * (by - ay)
        math.hypot(px - cx, py - cy)
      }.min
      assert(d <= sampled + 1e-9)
      assert(d >= sampled - 0.02) // sampling grid resolution bound
    }
  }

  test("segment-segment distance: zero iff intersecting, symmetric") {
    // crossing segments
    assert(Metrics.segSegDist(0, 0, 2, 2, 0, 2, 2, 0) == 0.0)
    // parallel unit-apart
    assert(math.abs(Metrics.segSegDist(0, 0, 1, 0, 0, 1, 1, 1) - 1.0) < 1e-12)
    (1 to 100).foreach { _ =>
      val s = Array.fill(8)(rnd.nextDouble() * 10)
      val d1 = Metrics.segSegDist(s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7))
      val d2 = Metrics.segSegDist(s(4), s(5), s(6), s(7), s(0), s(1), s(2), s(3))
      assert(math.abs(d1 - d2) < 1e-12)
      assert(d1 >= 0.0)
    }
  }

  test("bounded hausdorff: exact at/below the bound, a certificate above it") {
    checkKernelCases(20261023L) { kc =>
      val ((xa, ya), (xb, yb)) = (kc.a, kc.b)
      val exact = Metrics.hausdorff(xa, ya, xb, yb)
      Prop.all(boundsFor(exact).map(bound =>
        boundedAgrees(Metrics.hausdorffBounded(xa, ya, xb, yb, bound), exact, bound)): _*)
    }
  }

  test("dtw: DP equals naive recursion; identity/symmetry; >= hausdorff never claimed") {
    cases.foreach { case ((xa, ya), (xb, yb)) =>
      val dp = Metrics.dtw(xa, ya, xb, yb)
      assert(math.abs(dp - MetricOracles.dtwNaive(xa, ya, xb, yb)) < 1e-9)
      assert(Metrics.dtw(xa, ya, xa, ya) == 0.0)
      assert(Metrics.dtw(xa, ya, xb, yb) == Metrics.dtw(xb, yb, xa, ya))
      // DTW sums step costs, so it dominates the single worst aligned step:
      // dtw >= discrete frechet always holds on the same coupling structure
      assert(dp >= Metrics.discreteFrechet(xa, ya, xb, yb) - 1e-9)
    }
  }

  test("lcss: DP equals naive recursion; bounds; self-match; symmetry; eps monotonicity") {
    val eps = Seq((0.5, 5.0), (2.0, 25.0), (10.0, 100.0))
    cases.take(100).foreach { case ((xa, ya), (xb, yb)) =>
      eps.foreach { case (ex, ey) =>
        val dp = Metrics.lcssCount(xa, ya, xb, yb, ex, ey)
        assert(dp == MetricOracles.lcssCountNaive(xa, ya, xb, yb, ex, ey))
        assert(dp >= 0 && dp <= math.min(xa.length, xb.length))
        assert(dp == Metrics.lcssCount(xb, yb, xa, ya, ex, ey), "lcss symmetric")
      }
      // every point ε-matches itself at any ε ≥ 0
      assert(Metrics.lcssCount(xa, ya, xa, ya, 0.0, 0.0) == xa.length)
      // growing the ε box can only add matches
      val c1 = Metrics.lcssCount(xa, ya, xb, yb, 0.5, 5.0)
      val c2 = Metrics.lcssCount(xa, ya, xb, yb, 2.0, 25.0)
      val c3 = Metrics.lcssCount(xa, ya, xb, yb, 10.0, 100.0)
      assert(c1 <= c2 && c2 <= c3, "lcss monotone in eps")
    }
  }

  test("edr: DP equals naive recursion; identity; symmetry; lcss complement bound") {
    // NOTE deliberately no triangle-inequality check: EDR trades the
    // triangle inequality for noise robustness (ε-matching is not
    // transitive) — the paper is explicit that EDR is not a metric.
    cases.take(100).foreach { case ((xa, ya), (xb, yb)) =>
      val (ex, ey) = (2.0, 25.0)
      val dp = Metrics.edr(xa, ya, xb, yb, ex, ey)
      assert(dp == MetricOracles.edrNaive(xa, ya, xb, yb, ex, ey))
      assert(Metrics.edr(xa, ya, xa, ya, ex, ey) == 0, "edr self-distance 0")
      assert(dp == Metrics.edr(xb, yb, xa, ya, ex, ey), "edr symmetric")
      val (n, m) = (xa.length, xb.length)
      assert(dp >= math.abs(n - m) && dp <= math.max(n, m))
      // any EDR alignment's 0-cost substitutions form an ε-matched common
      // subsequence, so they number at most lcss: edr >= max(n,m) - lcss
      val l = Metrics.lcssCount(xa, ya, xb, yb, ex, ey)
      assert(dp >= math.max(n, m) - l, s"edr $dp < max($n,$m) - lcss $l")
    }
  }

  test("erp: DP equals naive; identity; symmetry; TRIANGLE INEQUALITY; empty-sequence cost") {
    // ERP is the edit-family member that IS a metric (Chen/Ng VLDB'04
    // Thm 1) — the triangle inequality must hold exactly, so we test it on
    // random triples, not just pairs.
    cases.take(100).foreach { case ((xa, ya), (xb, yb)) =>
      val dp = Metrics.erp(xa, ya, xb, yb)
      assert(math.abs(dp - MetricOracles.erpNaive(xa, ya, xb, yb)) < 1e-9)
      assert(Metrics.erp(xa, ya, xa, ya) == 0.0, "erp self-distance 0")
      assert(math.abs(dp - Metrics.erp(xb, yb, xa, ya)) < 1e-9, "erp symmetric")
      // deleting everything: cost is the sum of distances to the gap point
      val gapCost = xa.indices.map(i => math.hypot(xa(i), ya(i))).sum
      assert(math.abs(Metrics.erp(xa, ya, Array.emptyDoubleArray, Array.emptyDoubleArray) - gapCost) < 1e-9)
    }
    cases.take(99).grouped(3).foreach { tri =>
      if (tri.length == 3) {
        val ((xa, ya), _) = tri(0); val ((xb, yb), _) = tri(1); val ((xc, yc), _) = tri(2)
        val ab = Metrics.erp(xa, ya, xb, yb)
        val bc = Metrics.erp(xb, yb, xc, yc)
        val ac = Metrics.erp(xa, ya, xc, yc)
        assert(ac <= ab + bc + 1e-9, s"erp triangle violated: $ac > $ab + $bc")
      }
    }
  }

  test("bounded frechet: exact at/below the bound, a certificate above it") {
    checkKernelCases(20261024L) { kc =>
      val ((xa, ya), (xb, yb)) = (kc.a, kc.b)
      val exact = Metrics.discreteFrechet(xa, ya, xb, yb)
      Prop.all(boundsFor(exact).map(bound =>
        boundedAgrees(Metrics.frechetBounded(xa, ya, xb, yb, bound), exact, bound)): _*)
    }
  }

  test("pointSegDist→polyline: zero on vertices, ≤ nearest-vertex distance, clamp inside endpoints") {
    val rnd = new Random(11)
    (0 until 40).foreach { _ =>
      val n = 2 + rnd.nextInt(12)
      val xs = Array.fill(n)(rnd.nextDouble() * 30)
      val ys = Array.fill(n)(rnd.nextDouble() * 200)
      def poly(px: Double, py: Double): Double =
        (0 until n - 1).map(i =>
          Metrics.pointSegDist(px, py, xs(i), ys(i), xs(i + 1), ys(i + 1))).min
      // a vertex lies ON the polyline
      val vi = rnd.nextInt(n)
      assert(poly(xs(vi), ys(vi)) == 0.0)
      // any point: polyline distance never exceeds its nearest VERTEX distance
      val (px, py) = (rnd.nextDouble() * 30, rnd.nextDouble() * 200)
      val minVertex = (0 until n).map { i =>
        val dx = px - xs(i); val dy = py - ys(i); math.sqrt(dx * dx + dy * dy)
      }.min
      assert(poly(px, py) <= minVertex + 1e-12)
      // the kernel behind t24 is this same min over segments
      assert(Metrics.polylineDist(px, py, xs, ys) == poly(px, py))
      // midpoint of a segment is also on the polyline
      val mi = rnd.nextInt(n - 1)
      val (mx, my) = ((xs(mi) + xs(mi + 1)) / 2, (ys(mi) + ys(mi + 1)) / 2)
      assert(poly(mx, my) <= 1e-9, s"midpoint dist ${poly(mx, my)}")
    }
  }

  test("closestApproach: symmetric, ≤ min point distance ≤ hausdorff, 0 for crossing paths") {
    cases.take(60).foreach { case ((xa, ya), (xb, yb)) =>
      val ca = Metrics.closestApproach(xa, ya, xb, yb)
      assert(ca == Metrics.closestApproach(xb, yb, xa, ya), "symmetry")
      val minPoint = xa.indices.flatMap(i => xb.indices.map { j =>
        val dx = xa(i) - xb(j); val dy = ya(i) - yb(j)
        math.sqrt(dx * dx + dy * dy)
      }).min
      assert(ca <= minPoint, s"closest approach $ca must not exceed min point dist $minPoint")
      assert(ca <= Metrics.hausdorff(xa, ya, xb, yb))
      assert(ca >= 0.0)
    }
    // planted X crossing: paths intersect strictly between sample points
    val cross = Metrics.closestApproach(
      Array(0.0, 10.0), Array(0.0, 10.0),
      Array(0.0, 10.0), Array(10.0, 0.0))
    assert(cross == 0.0, s"crossing paths must have approach 0, got $cross")
  }

  test("hausdorff equals brute-force max-of-min (no early-break effect)") {
    cases.take(60).foreach { case ((xa, ya), (xb, yb)) =>
      def brute(x1: Array[Double], y1: Array[Double], x2: Array[Double], y2: Array[Double]) =
        x1.indices.map { i =>
          x2.indices.map { j =>
            val dx = x1(i) - x2(j); val dy = y1(i) - y2(j)
            math.sqrt(dx * dx + dy * dy)
          }.min
        }.max
      val expected = math.max(brute(xa, ya, xb, yb), brute(xb, yb, xa, ya))
      assert(Metrics.hausdorff(xa, ya, xb, yb) == expected)
    }
  }
}
