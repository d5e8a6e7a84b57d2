package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.geo.Metrics
import graft.operators.{StrPartition, TrajectorySearch}

/** One timed call into the engine. `run` returns the collected result;
  * `check` compares it with an oracle computed outside the engine and
  * returns the reason when it is wrong. */
final case class Op(kind: String, params: String, run: () => Array[Row],
                    check: Array[Row] => Option[String])

/** A workload: what set-up builds, and a seeded stream of rounds of ops. */
trait Workload {
  /** Every op kind one round contains (the warm-up pass runs each once). */
  def kinds: Seq[String]
  /** Build what the ops read: table caches and the trajectory artifact. */
  def setup(): Unit
  /** One round of ops, drawn from `rng`. */
  def round(rng: Random): Seq[Op]
  /** Checks that need the results of several ops (e.g. two paths agree). */
  def crossCheck(results: Seq[(Op, Array[Row])]): Seq[String] = Nil
  /** Trajectory directory and oracle arrays the layer probes use. */
  def trajDir: String
  def arrays: Traj.Arrays
}

/** Trajectory oracle: the per-user point arrays read from the data set
  * outside the engine (by `datagen.write_oracle`, not through `Tables`), and
  * brute-force answers computed with `geo.Metrics`. */
object Traj {
  final case class Arrays(users: Array[Long], xs: Map[Long, Array[Double]],
                          ys: Map[Long, Array[Double]])

  /** Distances in results are `round(d, 6)`; two kernels may differ in
    * the last bits before rounding, so compares allow one rounding step. */
  val Tol = 2.000001e-6

  def round6(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The oracle file `datagen.write_oracle` writes: one line per user,
    * `user<TAB>xs<TAB>ys`, numbers space-separated. */
  def read(path: String): Arrays = {
    val lines = scala.io.Source.fromFile(path, "UTF-8")
    val users = try lines.getLines().map { l =>
      val Array(u, xs, ys) = l.split('\t')
      (u.toLong, xs.split(' ').map(_.toDouble), ys.split(' ').map(_.toDouble))
    }.toArray finally lines.close()
    Arrays(users.map(_._1).sorted, users.map(u => u._1 -> u._2).toMap,
      users.map(u => u._1 -> u._3).toMap)
  }

  def dist(a: Arrays, metric: String, u: Long, v: Long): Double = metric match {
    case "hausdorff" => Metrics.hausdorff(a.xs(u), a.ys(u), a.xs(v), a.ys(v))
    case "frechet" => Metrics.discreteFrechet(a.xs(u), a.ys(u), a.xs(v), a.ys(v))
  }

  /** Every other user by (rounded distance, user_id). */
  def ranked(a: Arrays, metric: String, q: Long): Seq[(Long, Double)] =
    a.users.toSeq.filter(_ != q).map(u => (u, round6(dist(a, metric, q, u))))
      .sortBy { case (u, d) => (d, u) }

  /** `got` is a correct top-k of `all` (sorted by distance, then id): same
    * size, each distance right, sorted, the k-th distance right, and every
    * user strictly closer than the k-th distance present. Ties at the k-th
    * distance may resolve either way within the rounding tolerance. */
  def topKError(got: Seq[(Long, Double)], all: Seq[(Long, Double)], k: Int): Option[String] = {
    val exp = all.take(k)
    val d = all.toMap
    def bad(msg: String) = Some(msg)
    if (got.size != exp.size) return bad(s"${got.size} rows, expected ${exp.size}")
    if (got.map(_._1).distinct.size != got.size) return bad("duplicate ids")
    got.foreach { case (u, x) =>
      if (!d.contains(u)) return bad(s"id $u is not a candidate")
      if (math.abs(d(u) - x) > Tol) return bad(s"id $u distance $x, expected ${d(u)}")
    }
    if (got.zip(got.drop(1)).exists { case (a, b) => a._2 > b._2 + Tol })
      return bad("not sorted by distance")
    if (exp.nonEmpty && math.abs(got.last._2 - exp.last._2) > Tol)
      return bad(s"k-th distance ${got.last._2}, expected ${exp.last._2}")
    val ids = got.map(_._1).toSet
    exp.filter(_._2 < exp.last._2 - Tol).find(e => !ids(e._1))
      .map(e => s"id ${e._1} at ${e._2} is missing")
  }
}

object Workloads {
  def apply(name: String, spark: SparkSession, dataDir: String,
            arrays: Traj.Arrays): Workload = name match {
    case "topk-search" => new TopKSearch(spark, dataDir, arrays)
    case "pair-joins" => new PairJoins(spark, dataDir, arrays)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Single-query top-k searches over the sf0.1-sized purchase trajectories. */
final class TopKSearch(spark: SparkSession, dir: String, val arrays: Traj.Arrays)
    extends Workload {
  val K = 10
  val BatchSize = 5
  val kinds = Seq("topKPruned.hausdorff", "topKPruned.frechet", "topKBatchPruned")
  def trajDir: String = dir
  private def ta = Tables.trajArrays(spark, dir)

  def setup(): Unit = ta.count()

  def single(metric: String, q: Long): Op = {
    lazy val all = Traj.ranked(arrays, metric, q)
    Op(s"topKPruned.$metric", s"q=$q",
      () => TrajectorySearch.topKPruned(ta, q, K, metric).collect(),
      rows => Traj.topKError(rows.toSeq.map(r => (r.getLong(0), r.getDouble(1))), all, K))
  }

  def batch(metric: String, qs: Seq[Long]): Op =
    Op("topKBatchPruned", s"metric=$metric q=${qs.mkString(",")}",
      () => TrajectorySearch.topKBatchPruned(ta, qs, K, metric).collect(),
      rows => {
        val byQ = rows.groupBy(_.getLong(0))
        if (byQ.keySet != qs.toSet) Some(s"queries ${byQ.keySet.toSeq.sorted}")
        else qs.iterator.flatMap { q =>
          Traj.topKError(byQ(q).toSeq.map(r => (r.getLong(1), r.getDouble(2))),
            Traj.ranked(arrays, metric, q), K).map(e => s"q=$q: $e")
        }.toSeq.headOption
      })

  /** Two Hausdorff and two Fréchet single searches and one 5-query batch
    * (~3x a single search): the median op is a single search. */
  def round(rng: Random): Seq[Op] = {
    def user() = arrays.users(rng.nextInt(arrays.users.length))
    val ops = Seq(single("hausdorff", user()), single("hausdorff", user()),
      single("frechet", user()), single("frechet", user()),
      batch(if (rng.nextBoolean()) "hausdorff" else "frechet",
        rng.shuffle(arrays.users.toSeq).take(BatchSize)))
    rng.shuffle(ops)
  }
}

/** All-pairs and join analytics over a generated clustered trajectory set. */
final class PairJoins(spark: SparkSession, dir: String, val arrays: Traj.Arrays)
    extends Workload {
  val K = 50
  val KnnK = 5
  val Tau = 25.0
  val GateBatch = 16
  val KnnSample = 8
  val kinds = Seq("allPairsTopKAuto", "allPairsTopKStr", "knnJoin", "epsilonGate")
  def trajDir: String = dir
  private val key = Some(dir)
  private def ta = Tables.trajArrays(spark, dir)

  def setup(): Unit = ta.count()

  /** Each returned pair's distance recomputed, and the list sorted. */
  private def allPairsError(rows: Array[Row]): Option[String] = {
    val got = rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    if (got.size != K) return Some(s"${got.size} rows, expected $K")
    got.find { case (u, v, d) =>
      u >= v || math.abs(Traj.round6(Traj.dist(arrays, "hausdorff", u, v)) - d) > Traj.Tol
    }.map { case (u, v, d) => s"pair ($u,$v) distance $d is wrong" }
      .orElse(if (got.zip(got.drop(1)).exists(p => p._1._3 > p._2._3 + Traj.Tol))
        Some("not sorted by distance") else None)
  }

  /** One call of each all-pairs path and of the kNN join (~2x the others),
    * and three epsilon gates over three batches: gates are the frequent
    * call of the four, and with three per round the median op is a gate,
    * not one on the edge between two kinds. */
  def round(rng: Random): Seq[Op] = {
    val auto = Op("allPairsTopKAuto", s"k=$K",
      () => TrajectorySearch.allPairsTopKAuto(ta, K, "hausdorff", cacheKey = key).collect(),
      allPairsError)
    val str = Op("allPairsTopKStr", s"k=$K",
      () => StrPartition.allPairsTopKStr(ta, K, "hausdorff", cacheKey = key).collect(),
      allPairsError)
    def knn() = {
      val sample = rng.shuffle(arrays.users.toSeq).take(KnnSample)
      Op("knnJoin", s"k=$KnnK checked=${sample.mkString(",")}",
        () => TrajectorySearch.knnJoin(ta, KnnK, "hausdorff", cacheKey = key).collect(),
        rows => {
          val byQ = rows.groupBy(_.getLong(0))
          if (byQ.size != arrays.users.length) Some(s"${byQ.size} query rows")
          else sample.iterator.flatMap { q =>
            Traj.topKError(byQ(q).toSeq.map(r => (r.getLong(1), r.getDouble(2))),
              Traj.ranked(arrays, "hausdorff", q), KnnK).map(e => s"q=$q: $e")
          }.toSeq.headOption
        })
    }
    def gate() = {
      val batch = rng.shuffle(arrays.users.toSeq).take(GateBatch).sorted
      val inBatch = batch.toSet
      Op("epsilonGate", s"tau=$Tau batch=${batch.mkString(",")}",
        () => TrajectorySearch.epsilonGate(ta.filter(!col("user_id").isin(batch: _*)),
          ta.filter(col("user_id").isin(batch: _*)), Tau).collect(),
        rows => {
          val corpus = arrays.users.filterNot(inBatch)
          val exp = batch.map { b =>
            val n = corpus.count(c => Traj.round6(Traj.dist(arrays, "hausdorff", b, c)) <= Tau)
            (b, n.toLong, if (n == 0) 1L else 0L)
          }
          val got = rows.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          if (got == exp) None else Some(s"got $got, expected $exp")
        })
    }
    rng.shuffle(Seq(auto, str, knn(), gate(), gate(), gate()))
  }

  /** The tiled and the auto-dispatched all-pairs paths return the same
    * pairs, and the STR tiles prune on this data (the workload's premise). */
  override def crossCheck(results: Seq[(Op, Array[Row])]): Seq[String] = {
    def of(kind: String) = results.collect { case (o, r) if o.kind == kind => r.toSeq }
    val agree = (of("allPairsTopKAuto") ++ of("allPairsTopKStr")).distinct match {
      case Seq() | Seq(_) => Nil
      case many => Seq(s"allPairsTopKAuto and allPairsTopKStr disagree: ${many.size} distinct results")
    }
    val (cand, total) = tileStats
    agree ++ (if (cand < total) Nil
      else Seq(s"STR tiles enumerate $cand of $total pairs: no tile pruning"))
  }

  /** (pairs the STR tiles enumerate, all pairs) on this data. */
  lazy val tileStats: (Long, Long) = StrPartition.candidateStats(ta, K, "hausdorff")
}

/** The memo-backed heavy hitters of the declared query set that do not
  * touch the trajectory kernels (text dedup, BM25/RRF, LM statistics, span
  * dedup, n-gram Jaccard, one relational query), run through
  * `SparkEntry.queries` on the base tables. Each result's canonical row hash
  * is compared with the golden hash stored with the benchmark. */
object PipelineQueries {
  val Names: Seq[String] = Seq(
    "d5_decontaminate", "d8_span_dedup", "d20_bm25_topk", "d21_rrf_fusion",
    "p3_lang_id_confusion", "p8_ngram_jaccard", "p21_bigram_lm",
    "p23_pmi_pairs", "r15_only_late_supplier")

  def setup(spark: SparkSession, dir: String): Unit = Tables.cacheHot(spark, dir)

  def query(spark: SparkSession, dir: String, golden: Map[String, String], q: String): Op =
    Op(q, "", () => graft.SparkEntry.queries(q)(spark, dir).collect(),
      rows => {
        val h = RowHash(rows)
        golden.get(q) match {
          case Some(g) if g == h => None
          case Some(g) => Some(s"row hash $h, golden $g")
          case None => Some("no golden hash")
        }
      })
}

/** Canonical, order-insensitive hash of a result: rows rendered field by
  * field (doubles by their shortest repr, -0.0 as 0.0), sorted, SHA-256. */
object RowHash {
  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "nan" else if (d == 0.0) "0.0" else d.toString
    case f: Float => render(f.toDouble)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case other => other.toString
  }

  def apply(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}

/** Golden row hashes of the pipeline queries, stored with the benchmark
  * (`golden/pipeline_queries.json`), and the deliberate corruption the
  * self-test injects. */
object Golden {
  def read(path: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    val j = parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    (j \ "queries").extract[Map[String, Map[String, Any]]].map { case (k, v) =>
      k -> v("hash").toString
    }
  }

  /** A wrong result: the first double of the first row moved by 1, or the
    * last row dropped when the rows hold no double. */
  def corrupt(rows: Array[Row]): Array[Row] =
    rows.headOption.flatMap { r =>
      r.toSeq.indexWhere(_.isInstanceOf[Double]) match {
        case -1 => None
        case i => Some(Row.fromSeq(r.toSeq.updated(i, r.getDouble(i) + 1.0)) +: rows.drop(1))
      }
    }.getOrElse(rows.dropRight(1))
}
