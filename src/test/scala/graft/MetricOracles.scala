package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit, round, row_number, udf, when}

import graft.geo.Metrics

/** Test-only oracles for the metric kernels in [[graft.geo.Metrics]]: the
  * definitional memoized recursions behind the DP property tests, plain
  * Hausdorff/Fréchet UDFs that are independent of the engine's bounded
  * codegen path, and the unpruned searches, all-pairs join and ε-gate
  * built on them. */
object MetricOracles {

  private def d2(ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = ax - bx
    val dy = ay - by
    dx * dx + dy * dy
  }

  /** The closed ε box of LCSS/EDR (|Δx| ≤ εx ∧ |Δy| ≤ εy). */
  private def matches(ax: Double, ay: Double, bx: Double, by: Double,
                      ex: Double, ey: Double): Boolean =
    math.abs(ax - bx) <= ex && math.abs(ay - by) <= ey

  /** Unbounded [[Metrics.hausdorff]] over the boxed array columns. */
  val hausdorffUdf: UserDefinedFunction =
    udf { (xa: Seq[Double], ya: Seq[Double], xb: Seq[Double], yb: Seq[Double]) =>
      Metrics.hausdorff(xa.toArray, ya.toArray, xb.toArray, yb.toArray)
    }

  /** Unbounded [[Metrics.discreteFrechet]] over the boxed array columns. */
  val frechetUdf: UserDefinedFunction =
    udf { (xa: Seq[Double], ya: Seq[Double], xb: Seq[Double], yb: Seq[Double]) =>
      Metrics.discreteFrechet(xa.toArray, ya.toArray, xb.toArray, yb.toArray)
    }

  private def metricUdf(metric: String): UserDefinedFunction =
    if (metric == "frechet") frechetUdf else hausdorffUdf

  /** The unpruned single top-k search of a (user_id, xs, ys) table: the
    * exact kernel between every row of the query user and every row of
    * another id, ranked by (6-dp distance, user_id) — `(user_id, dist)`. */
  def topKOf(ta: DataFrame, queryUser: Long, k: Int, metric: String): DataFrame = {
    val q = ta.filter(col("user_id") === queryUser)
      .select(col("xs").as("qxs"), col("ys").as("qys"))
    ta.filter(col("user_id") =!= queryUser)
      .crossJoin(broadcast(q))
      .select(col("user_id"),
        round(metricUdf(metric)(col("xs"), col("ys"), col("qxs"), col("qys")), 6).as("dist"))
      .orderBy(col("dist"), col("user_id"))
      .limit(k)
  }

  /** [[topKOf]] over a data dir's purchase trajectories. */
  def topK(s: SparkSession, dir: String, queryUser: Long, k: Int, metric: String): DataFrame =
    topKOf(Tables.trajArrays(s, dir, "purchase"), queryUser, k, metric)

  /** [[topKOf]] for each id of a query set: `(q_user, user_id, dist)`
    * ordered by (q_user, dist, user_id). */
  def topKBatch(ta: DataFrame, queryUsers: Seq[Long], k: Int, metric: String): DataFrame = {
    val q = ta.filter(col("user_id").isInCollection(queryUsers))
      .select(col("user_id").as("q_user"), col("xs").as("qxs"), col("ys").as("qys"))
    val w = Window.partitionBy(col("q_user")).orderBy(col("dist"), col("user_id"))
    ta.join(broadcast(q), col("user_id") =!= col("q_user"))
      .select(col("q_user"), col("user_id"),
        round(metricUdf(metric)(col("xs"), col("ys"), col("qxs"), col("qys")), 6).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_user"), col("user_id"), col("dist"))
      .orderBy(col("q_user"), col("dist"), col("user_id"))
  }

  /** The unpruned all-pairs top-k of a (user_id, xs, ys) table: the exact
    * kernel on every pair of rows with u1 < u2, ranked by (6-dp distance,
    * u1, u2) — one row per pair of input rows, so duplicated ids give
    * several. */
  def allPairsNaive(ta: DataFrame, k: Int, metric: String): DataFrame = {
    val fn = metricUdf(metric)
    val a = ta.select(col("user_id").as("u1"), col("xs").as("xs1"), col("ys").as("ys1"))
    val b = ta.select(col("user_id").as("u2"), col("xs").as("xs2"), col("ys").as("ys2"))
    a.join(b, col("u1") < col("u2"))
      .select(col("u1"), col("u2"),
        round(fn(col("xs1"), col("ys1"), col("xs2"), col("ys2")), 6).as(metric))
      .orderBy(col(metric), col("u1"), col("u2")).limit(k)
  }

  /** The unpruned ε-gate of a corpus and a batch (user_id, xs, ys): the
    * exact kernel on every (corpus row, batch row) pair. A batch id's
    * `n_close` counts the pairs of all its rows with a non-null corpus id
    * whose 6-dp distance is ≤ tau; one `(user_id, n_close, admitted)` row
    * per batch row, ordered by user_id, a null batch id never matching. */
  def epsilonGateNaive(corpus: DataFrame, batch: DataFrame, tau: Double,
                       metric: String): DataFrame = {
    val c = corpus.filter(col("user_id").isNotNull)
      .select(col("xs").as("cxs"), col("ys").as("cys"))
    val b = batch.select(col("user_id").as("bu"), col("xs").as("bxs"), col("ys").as("bys"))
    val close = c.crossJoin(b)
      .filter(round(metricUdf(metric)(col("cxs"), col("cys"), col("bxs"), col("bys")), 6) <= tau)
      .groupBy(col("bu")).agg(count(lit(1)).as("n"))
    batch.select(col("user_id"))
      .join(close, col("user_id") === col("bu"), "left_outer")
      .select(col("user_id"), coalesce(col("n"), lit(0L)).as("n_close"))
      .select(col("user_id"), col("n_close"),
        when(col("n_close") === 0L, 1L).otherwise(0L).as("admitted"))
      .orderBy(col("user_id"))
  }

  def dtwNaive(xa: Array[Double], ya: Array[Double],
               xb: Array[Double], yb: Array[Double]): Double = {
    val memo = collection.mutable.HashMap.empty[(Int, Int), Double]
    def c(i: Int, j: Int): Double = memo.getOrElseUpdate((i, j), {
      val d = math.sqrt(d2(xa(i), ya(i), xb(j), yb(j)))
      if (i == 0 && j == 0) d
      else if (i == 0) c(0, j - 1) + d
      else if (j == 0) c(i - 1, 0) + d
      else d + math.min(math.min(c(i - 1, j), c(i, j - 1)), c(i - 1, j - 1))
    })
    c(xa.length - 1, xb.length - 1)
  }

  def discreteFrechetNaive(xa: Array[Double], ya: Array[Double],
                           xb: Array[Double], yb: Array[Double]): Double = {
    val memo = collection.mutable.HashMap.empty[(Int, Int), Double]
    def c(i: Int, j: Int): Double = memo.getOrElseUpdate((i, j), {
      val d = d2(xa(i), ya(i), xb(j), yb(j))
      if (i == 0 && j == 0) d
      else if (i == 0) math.max(c(0, j - 1), d)
      else if (j == 0) math.max(c(i - 1, 0), d)
      else math.max(math.min(math.min(c(i - 1, j), c(i, j - 1)), c(i - 1, j - 1)), d)
    })
    math.sqrt(c(xa.length - 1, xb.length - 1))
  }

  def lcssCountNaive(xa: Array[Double], ya: Array[Double],
                     xb: Array[Double], yb: Array[Double],
                     ex: Double, ey: Double): Int = {
    val memo = collection.mutable.HashMap.empty[(Int, Int), Int]
    def c(i: Int, j: Int): Int = if (i < 0 || j < 0) 0 else memo.getOrElseUpdate((i, j), {
      if (matches(xa(i), ya(i), xb(j), yb(j), ex, ey)) c(i - 1, j - 1) + 1
      else math.max(c(i - 1, j), c(i, j - 1))
    })
    c(xa.length - 1, xb.length - 1)
  }

  def edrNaive(xa: Array[Double], ya: Array[Double],
               xb: Array[Double], yb: Array[Double],
               ex: Double, ey: Double): Int = {
    val memo = collection.mutable.HashMap.empty[(Int, Int), Int]
    def c(i: Int, j: Int): Int = memo.getOrElseUpdate((i, j), {
      if (i == 0) j
      else if (j == 0) i
      else {
        val sub = if (matches(xa(i - 1), ya(i - 1), xb(j - 1), yb(j - 1), ex, ey)) 0 else 1
        math.min(math.min(c(i - 1, j) + 1, c(i, j - 1) + 1), c(i - 1, j - 1) + sub)
      }
    })
    c(xa.length, xb.length)
  }

  /** ERP against the gap point (gx, gy), the origin by default. */
  def erpNaive(xa: Array[Double], ya: Array[Double],
               xb: Array[Double], yb: Array[Double],
               gx: Double = 0.0, gy: Double = 0.0): Double = {
    def d(px: Double, py: Double, qx: Double, qy: Double): Double = math.sqrt(d2(px, py, qx, qy))
    val memo = collection.mutable.HashMap.empty[(Int, Int), Double]
    def c(i: Int, j: Int): Double = memo.getOrElseUpdate((i, j), {
      if (i == 0 && j == 0) 0.0
      else if (i == 0) c(0, j - 1) + d(xb(j - 1), yb(j - 1), gx, gy)
      else if (j == 0) c(i - 1, 0) + d(xa(i - 1), ya(i - 1), gx, gy)
      else math.min(
        c(i - 1, j - 1) + d(xa(i - 1), ya(i - 1), xb(j - 1), yb(j - 1)),
        math.min(c(i - 1, j) + d(xa(i - 1), ya(i - 1), gx, gy),
          c(i, j - 1) + d(xb(j - 1), yb(j - 1), gx, gy)))
    })
    c(xa.length, xb.length)
  }
}
