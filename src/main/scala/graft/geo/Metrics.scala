package graft.geo

/** Trajectory similarity metrics (reference-surface O5/O6 — the flagship
  * operators of the DFT system described in Xie/Li/Phillips, PVLDB 10(11),
  * 2017; `/root/reference/` was empty at survey time, so the semantics come
  * from the published paper, see SURVEY.md §0).
  *
  * All kernels operate on primitive double arrays (no row boxing) and work
  * in SQUARED distance space, taking one sqrt at the end: min/max commute
  * with the monotone sqrt, so results are bit-identical to the SQL form that
  * computes `SQRT((ax-bx)^2+(ay-by)^2)` per pair and then min/max — this is
  * what makes the kernel form hash-match the DuckDB oracle (t2).
  *
  * An empty trajectory on either side: [[hausdorff]], [[discreteFrechet]],
  * their bounded forms, [[dtw]] and [[closestApproach]] return NaN (a top-k
  * search ranks it last, an ε-gate never counts it); [[lcssCount]] is 0,
  * [[edr]] the other side's length, [[erp]] the other side's summed
  * distance to the gap point; [[polylineDist]] to it is Double.MaxValue.
  */
object Metrics {

  @inline private def d2(ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = ax - bx
    val dy = ay - by
    dx * dx + dy * dy
  }

  /** Directed Hausdorff h(A,B)^2 = max_a min_b d2(a,b), with the classic
    * early-break: once a b-point is closer than the current max, this
    * a-point can no longer raise the max. The break only skips work — the
    * returned value is exactly max-of-min.
    */
  private def directedSq(xa: Array[Double], ya: Array[Double],
                         xb: Array[Double], yb: Array[Double]): Double = {
    var cmax = 0.0
    var i = 0
    while (i < xa.length) {
      var cmin = Double.PositiveInfinity
      var j = 0
      while (j < xb.length && cmin > cmax) {
        val d = d2(xa(i), ya(i), xb(j), yb(j))
        if (d < cmin) cmin = d
        j += 1
      }
      if (cmin > cmax && cmin != Double.PositiveInfinity) cmax = cmin
      i += 1
    }
    cmax
  }

  /** Discrete Hausdorff H(A,B) = max(h(A,B), h(B,A)). Empty inputs are
    * undefined — returns NaN, matching [[discreteFrechet]]. */
  def hausdorff(xa: Array[Double], ya: Array[Double],
                xb: Array[Double], yb: Array[Double]): Double =
    if (xa.length == 0 || xb.length == 0) Double.NaN
    else math.sqrt(math.max(directedSq(xa, ya, xb, yb), directedSq(xb, yb, xa, ya)))

  /** Hausdorff with early ABANDON at `bound` (reference O13 refinement):
    * exact whenever the true distance ≤ bound; once the running directed max
    * provably exceeds bound² the scan stops and returns that partial max —
    * a LOWER bound on the true distance that is still > bound, so a top-k
    * consumer filtering at `bound` ranks such pairs out identically. Cuts
    * the refine kernel from O(n·m) to O(few points) for far pairs. */
  def hausdorffBounded(xa: Array[Double], ya: Array[Double],
                       xb: Array[Double], yb: Array[Double],
                       bound: Double): Double = {
    if (xa.length == 0 || xb.length == 0) return Double.NaN
    val b2 = bound * bound
    var cmax = 0.0
    var dir = 0
    while (dir < 2) {
      val (x1, y1, x2, y2) =
        if (dir == 0) (xa, ya, xb, yb) else (xb, yb, xa, ya)
      var i = 0
      while (i < x1.length) {
        var cmin = Double.PositiveInfinity
        var j = 0
        while (j < x2.length && cmin > cmax) {
          val d = d2(x1(i), y1(i), x2(j), y2(j))
          if (d < cmin) cmin = d
          j += 1
        }
        if (cmin > cmax && cmin != Double.PositiveInfinity) {
          cmax = cmin
          if (cmax > b2) return math.sqrt(cmax) // provably beyond the bound
        }
        i += 1
      }
      dir += 1
    }
    math.sqrt(cmax)
  }

  /** Discrete Fréchet distance via the standard O(n·m) dynamic program
    * (Eiter & Mannila 1994), rolling single-row buffer (O(m) space):
    * c(i,j) = max(d(i,j), min(c(i-1,j), c(i,j-1), c(i-1,j-1))).
    */
  def discreteFrechet(xa: Array[Double], ya: Array[Double],
                      xb: Array[Double], yb: Array[Double]): Double = {
    val n = xa.length
    val m = xb.length
    if (n == 0 || m == 0) return Double.NaN
    val row = new Array[Double](m)
    var j = 0
    while (j < m) {
      val d = d2(xa(0), ya(0), xb(j), yb(j))
      row(j) = if (j == 0) d else math.max(row(j - 1), d)
      j += 1
    }
    var i = 1
    while (i < n) {
      var diag = row(0) // c(i-1, j-1)
      row(0) = math.max(row(0), d2(xa(i), ya(i), xb(0), yb(0)))
      j = 1
      while (j < m) {
        val up = row(j) // c(i-1, j)
        val best = math.min(math.min(up, row(j - 1)), diag)
        row(j) = math.max(best, d2(xa(i), ya(i), xb(j), yb(j)))
        diag = up
        j += 1
      }
      i += 1
    }
    math.sqrt(row(m - 1))
  }

  /** Discrete Fréchet with early ABANDON at `bound`: every monotone
    * coupling passes through each DP row, and c-values are non-decreasing
    * along a coupling, so `final ≥ min_j c(i, j)` for every row i — once a
    * whole row's minimum exceeds bound² the scan stops and returns that
    * row-min, a LOWER bound on the true distance that is still > bound.
    * Exact whenever the true distance ≤ bound (same contract as
    * [[hausdorffBounded]]). */
  def frechetBounded(xa: Array[Double], ya: Array[Double],
                     xb: Array[Double], yb: Array[Double],
                     bound: Double): Double = {
    val n = xa.length
    val m = xb.length
    if (n == 0 || m == 0) return Double.NaN
    val b2 = bound * bound
    val row = new Array[Double](m)
    var rowMin = Double.PositiveInfinity
    var j = 0
    while (j < m) {
      val d = d2(xa(0), ya(0), xb(j), yb(j))
      row(j) = if (j == 0) d else math.max(row(j - 1), d)
      if (row(j) < rowMin) rowMin = row(j)
      j += 1
    }
    if (rowMin > b2) return math.sqrt(rowMin)
    var i = 1
    while (i < n) {
      var diag = row(0)
      row(0) = math.max(row(0), d2(xa(i), ya(i), xb(0), yb(0)))
      rowMin = row(0)
      j = 1
      while (j < m) {
        val up = row(j)
        val best = math.min(math.min(up, row(j - 1)), diag)
        row(j) = math.max(best, d2(xa(i), ya(i), xb(j), yb(j)))
        if (row(j) < rowMin) rowMin = row(j)
        diag = up
        j += 1
      }
      if (rowMin > b2) return math.sqrt(rowMin)
      i += 1
    }
    math.sqrt(row(m - 1))
  }

  /** Dynamic Time Warping distance (classic O(n·m) DP, rolling O(m) space):
    * `c(i,j) = d(aᵢ,bⱼ) + min(c(i−1,j), c(i,j−1), c(i−1,j−1))` with
    * EUCLIDEAN step cost (sqrt per cell — sums don't commute with sqrt, so
    * no squared-space trick here). Completes the trajectory metric family
    * next to max-based Hausdorff/Fréchet: DTW penalizes total deviation,
    * not worst-case deviation. */
  def dtw(xa: Array[Double], ya: Array[Double],
          xb: Array[Double], yb: Array[Double]): Double = {
    val n = xa.length
    val m = xb.length
    if (n == 0 || m == 0) return Double.NaN
    val row = new Array[Double](m)
    var j = 0
    while (j < m) {
      val d = math.sqrt(d2(xa(0), ya(0), xb(j), yb(j)))
      row(j) = if (j == 0) d else row(j - 1) + d
      j += 1
    }
    var i = 1
    while (i < n) {
      var diag = row(0)
      row(0) = row(0) + math.sqrt(d2(xa(i), ya(i), xb(0), yb(0)))
      j = 1
      while (j < m) {
        val up = row(j)
        row(j) = math.sqrt(d2(xa(i), ya(i), xb(j), yb(j))) +
          math.min(math.min(up, row(j - 1)), diag)
        diag = up
        j += 1
      }
      i += 1
    }
    row(m - 1)
  }

  /** Point→segment distance (reference O2): distance from p to the closest
    * point of segment [a,b] via projection clamp. */
  def pointSegDist(px: Double, py: Double, ax: Double, ay: Double,
                   bx: Double, by: Double): Double = {
    val vx = bx - ax
    val vy = by - ay
    val len2 = vx * vx + vy * vy
    if (len2 == 0.0) math.sqrt(d2(px, py, ax, ay))
    else {
      val t = math.max(0.0, math.min(1.0, ((px - ax) * vx + (py - ay) * vy) / len2))
      val cx = ax + t * vx
      val cy = ay + t * vy
      math.sqrt(d2(px, py, cx, cy))
    }
  }

  /** Segment→segment distance (reference O3): 0 if they intersect, else the
    * min over the four endpoint→segment distances. */
  def segSegDist(ax: Double, ay: Double, bx: Double, by: Double,
                 cx: Double, cy: Double, dx: Double, dy: Double): Double = {
    def orient(ox: Double, oy: Double, px: Double, py: Double, qx: Double, qy: Double): Double =
      (px - ox) * (qy - oy) - (py - oy) * (qx - ox)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    val properlyIntersects = ((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
      ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))
    if (properlyIntersects) 0.0
    else math.min(
      math.min(pointSegDist(ax, ay, cx, cy, dx, dy), pointSegDist(bx, by, cx, cy, dx, dy)),
      math.min(pointSegDist(cx, cy, ax, ay, bx, by), pointSegDist(dx, dy, ax, ay, bx, by)))
  }

  /** Closest approach between two polylines (reference O3 lifted to whole
    * trajectories): min over all segment pairs of [[segSegDist]] — 0 when
    * the paths cross. Single-point trajectories degrade to a degenerate
    * (p, p) segment; an empty one gives NaN, as in [[hausdorff]]. Min over
    * a set of doubles is order-independent, so the loop order cannot
    * perturb the result. */
  def closestApproach(xa: Array[Double], ya: Array[Double],
                      xb: Array[Double], yb: Array[Double]): Double = {
    if (xa.length == 0 || xb.length == 0) return Double.NaN
    val na = math.max(xa.length - 1, 1)
    val nb = math.max(xb.length - 1, 1)
    def seg(xs: Array[Double], i: Int): Int = math.min(i + 1, xs.length - 1)
    var best = Double.MaxValue
    var i = 0
    while (i < na) {
      var j = 0
      while (j < nb) {
        val d = segSegDist(
          xa(i), ya(i), xa(seg(xa, i)), ya(seg(xa, i)),
          xb(j), yb(j), xb(seg(xb, j)), yb(seg(xb, j)))
        if (d < best) best = d
        j += 1
      }
      i += 1
    }
    best
  }

  /** Min distance from a point to a polyline (reference O2 lifted to the
    * whole trajectory): min over segments of [[pointSegDist]]. A
    * single-point polyline degrades to plain point distance; an empty one
    * gives Double.MaxValue. */
  def polylineDist(px: Double, py: Double, xs: Array[Double], ys: Array[Double]): Double = {
    val n = xs.length
    if (n == 1) return pointSegDist(px, py, xs(0), ys(0), xs(0), ys(0))
    var best = Double.MaxValue
    var i = 0
    while (i < n - 1) {
      val d = pointSegDist(px, py, xs(i), ys(i), xs(i + 1), ys(i + 1))
      if (d < best) best = d
      i += 1
    }
    best
  }

  /** Point match predicate shared by LCSS/EDR: per-coordinate ε box
    * (|Δx| ≤ εx ∧ |Δy| ≤ εy). The CLOSED box (≤) is a deliberate
    * unification across the two metrics: it is the convention EDR's paper
    * defines (Chen/Özsu/Oria SIGMOD'05); Vlachos et al. ICDE'02 write the
    * LCSS match with strict <. Sharing one predicate keeps the
    * `edr ≥ max(n,m) − lcss` complement bound exact; callers whose ε sits
    * exactly on a data boundary should know matches on the boundary count. */
  @inline private def matches(ax: Double, ay: Double, bx: Double, by: Double,
                              ex: Double, ey: Double): Boolean =
    math.abs(ax - bx) <= ex && math.abs(ay - by) <= ey

  /** LCSS match count (Vlachos et al. ICDE'02), O(n·m) DP with rolling
    * O(m) rows: `c(i,j) = 1+c(i−1,j−1)` when the points ε-match, else
    * `max(c(i−1,j), c(i,j−1))`. Callers derive the similarity
    * `lcss / min(n,m)` or distance `1 − lcss / min(n,m)`. LCSS tolerates
    * gaps/outliers that DTW/Fréchet must pay for — the robust member of the
    * metric family. */
  def lcssCount(xa: Array[Double], ya: Array[Double],
                xb: Array[Double], yb: Array[Double],
                ex: Double, ey: Double): Int = {
    val n = xa.length
    val m = xb.length
    if (n == 0 || m == 0) return 0
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      var j = 1
      while (j <= m) {
        cur(j) =
          if (matches(xa(i - 1), ya(i - 1), xb(j - 1), yb(j - 1), ex, ey)) prev(j - 1) + 1
          else math.max(prev(j), cur(j - 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0)
      i += 1
    }
    prev(m)
  }

  /** EDR — Edit Distance on Real sequence (Chen/Özsu/Oria SIGMOD'05):
    * edit distance where substitution costs 0 on an ε-match and 1
    * otherwise, insert/delete cost 1. Integer-valued (exactly hashable),
    * robust to noise like LCSS but — unlike LCSS — it also penalizes the
    * unmatched gaps. O(n·m) DP, rolling O(m) rows. */
  def edr(xa: Array[Double], ya: Array[Double],
          xb: Array[Double], yb: Array[Double],
          ex: Double, ey: Double): Int = {
    val n = xa.length
    val m = xb.length
    if (n == 0) return m
    if (m == 0) return n
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      j = 1
      while (j <= m) {
        val sub = if (matches(xa(i - 1), ya(i - 1), xb(j - 1), yb(j - 1), ex, ey)) 0 else 1
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), prev(j - 1) + sub)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** ERP — Edit distance with Real Penalty (Chen/Ng VLDB'04): edit distance
    * where a substitution costs the true L2 distance d(aᵢ,bⱼ) and an
    * insert/delete costs the distance to a constant gap point g (the
    * origin, the paper's choice). Unlike DTW/LCSS/EDR, ERP satisfies the
    * triangle inequality (it is a true metric — property-tested on random
    * triples), so it admits metric-space pruning (O4-style lower bounds).
    * O(n·m) DP with rolling O(m) rows; double accumulation is a fixed
    * left-to-right fold, so results are deterministic. */
  def erp(xa: Array[Double], ya: Array[Double],
          xb: Array[Double], yb: Array[Double],
          gx: Double = 0.0, gy: Double = 0.0): Double = {
    val n = xa.length
    val m = xb.length
    @inline def d(px: Double, py: Double, qx: Double, qy: Double): Double =
      math.sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy))
    var prev = new Array[Double](m + 1)
    var cur = new Array[Double](m + 1)
    var j = 1
    while (j <= m) { prev(j) = prev(j - 1) + d(xb(j - 1), yb(j - 1), gx, gy); j += 1 }
    var i = 1
    while (i <= n) {
      val gapA = d(xa(i - 1), ya(i - 1), gx, gy)
      cur(0) = prev(0) + gapA
      j = 1
      while (j <= m) {
        val gapB = d(xb(j - 1), yb(j - 1), gx, gy)
        val sub = prev(j - 1) + d(xa(i - 1), ya(i - 1), xb(j - 1), yb(j - 1))
        cur(j) = math.min(sub, math.min(prev(j) + gapA, cur(j - 1) + gapB))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }
}
