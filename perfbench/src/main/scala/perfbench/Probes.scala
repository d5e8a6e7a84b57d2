package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.geo.Metrics
import graft.operators.{StrPartition, TrajectorySearch}

/** The traced run's per-layer figures. Everything is read from outside the
  * engine: listener counters of the traced ops, public operator entry
  * points, and the engine's kernels called directly on the workload's own
  * data. Figures tied to op kinds (`operators.<op>_s`, `queries.<q>_s`)
  * exist only for workloads that run those kinds. */
object Probes {
  import Main.{Rec, median}

  /** Operator metric name -> op kinds that feed it. */
  val OperatorKinds: Seq[(String, Seq[String])] = Seq(
    "topKPruned" -> Seq("topKPruned.hausdorff", "topKPruned.frechet"),
    "topKBatchPruned" -> Seq("topKBatchPruned"),
    "allPairsTopKAuto" -> Seq("allPairsTopKAuto"),
    "allPairsTopKStr" -> Seq("allPairsTopKStr"),
    "knnJoin" -> Seq("knnJoin"),
    "epsilonGate" -> Seq("epsilonGate"))

  def run(spark: SparkSession, t: Tracer, w: Workload, recs: Seq[Rec], cores: Int,
          out: Main.Metrics, baseDir: String, golden: Map[String, String],
          seed: Long, reset: () => Unit): Seq[String] = {
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val rng = new Random(seed * 31 + 5)

    // exec + plans: listener counters over the traced ops
    val traced = recs.filter(r => r.traced && r.result.isRight)
    val n = math.max(1, traced.size).toDouble
    def sum(k: String) = traced.map(_.counters.getOrElse(k, 0L)).sum.toDouble
    val wallS = traced.map(_.latencyS).sum
    out.add("exec.jobs_per_op", sum("jobs") / n, "count")
    out.add("exec.stages_per_op", sum("stages") / n, "count")
    out.add("exec.tasks_per_op", sum("tasks") / n, "count")
    out.add("exec.task_run_s", sum("run_ms") / 1e3 / n, "s")
    out.add("exec.task_cpu_s", sum("cpu_ns") / 1e9 / n, "s")
    out.add("exec.gc_s", sum("gc_ms") / 1e3 / n, "s")
    out.add("exec.core_busy_frac", sum("run_ms") / 1e3 / math.max(1e-9, wallS * cores), "ratio")
    out.add("exec.shuffle_write_mb", sum("shuffle_write_b") / 1e6 / n, "MB")
    out.add("exec.shuffle_read_mb", sum("shuffle_read_b") / 1e6 / n, "MB")
    out.add("exec.spill_mb", sum("spill_b") / 1e6 / n, "MB")
    out.add("plans.analysis_ms", sum("analysis_ms") / n, "ms")
    out.add("plans.optimization_ms", sum("optimization_ms") / n, "ms")
    out.add("plans.planning_ms", sum("planning_ms") / n, "ms")
    out.add("plans.queries_per_op", sum("queries") / n, "count")
    out.add("exec.cached_mb", spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6, "MB")

    // tracing overhead: traced minus untraced rounds of the same window
    val untraced = recs.filter(r => !r.traced && r.result.isRight).map(_.latencyS)
    if (traced.nonEmpty && untraced.nonEmpty)
      out.add("trace.overhead_s", median(traced.map(_.latencyS)) - median(untraced), "s")

    // operators: per-call wall time of the kinds this workload runs
    def kindLatency(kinds: Seq[String]): Option[Double] = {
      val ls = recs.filter(r => kinds.contains(r.op.kind) && r.result.isRight).map(_.latencyS)
      if (ls.isEmpty) None else Some(median(ls))
    }
    for ((metric, kinds) <- OperatorKinds; v <- kindLatency(kinds))
      out.add(s"operators.${metric}_s", v, "s")
    t.phase("probe.pruning")(pruning(spark, w, rng, out))

    // queries: the pipeline queries run on the same base tables as
    // topk-search, so its traced run times each (first call untimed: it
    // builds the query's memos; then the median of two calls, checked
    // against the golden row hash)
    val queryTimes: Seq[(String, Double)] = w match {
      case _: TopKSearch =>
        t.phase("probe.queries.setup")(PipelineQueries.setup(spark, baseDir))
        PipelineQueries.Names.map { q =>
          val op = PipelineQueries.query(spark, baseDir, golden, q)
          q -> t.phase(s"probe.queries.$q") {
            op.run()
            median(Seq.fill(2) {
              val s = System.nanoTime()
              val rows = op.run()
              op.check(rows).foreach(e => errors += s"query $q: $e")
              (System.nanoTime() - s) / 1e9
            })
          }
        }
      case _ => Nil
    }
    for ((q, v) <- queryTimes) out.add(s"queries.${q.takeWhile(_ != '_')}_s", v, "s")

    t.phase("probe.geo")(geo(w.arrays, rng, out))
    t.phase("probe.functions")(functions(spark, w.trajDir, out))
    t.phase("probe.tables")(tables(spark, w.trajDir, reset, out))
    errors.toSeq
  }

  /** Candidate pairs, pairs surviving the sliced-box bound at the answer's
    * k-th distance, and that share of all pairs. */
  def pruning(spark: SparkSession, w: Workload, rng: Random, out: Main.Metrics): Unit = {
    val ta = Tables.trajArrays(spark, w.trajDir)
    val a = w.arrays
    val nUsers = a.users.length.toLong
    w match {
      case p: PairJoins =>
        val rows = TrajectorySearch.allPairsTopKAuto(ta, p.K, "hausdorff",
          cacheKey = Some(w.trajDir)).collect()
        val r = rows.last.getDouble(2)
        val (cand, total) = StrPartition.candidateStats(ta, p.K, "hausdorff")
        val surv = TrajectorySearch.allPairsSurvivorCount(ta, r)
        out.add("operators.total_pairs", total.toDouble, "count")
        out.add("operators.candidate_pairs", cand.toDouble, "count")
        out.add("operators.lb_survivor_pairs", surv.toDouble, "count")
        out.add("operators.lb_survivor_frac", surv.toDouble / total, "ratio")
      case _ =>
        val qs = rng.shuffle(a.users.toSeq).take(4)
        val k = 10
        val surv = qs.map { q =>
          val kth = Traj.ranked(a, "hausdorff", q)(k - 1)._2
          TrajectorySearch.prunedCandidateCount(ta, q, kth)
        }.sum
        val total = qs.size * (nUsers - 1)
        out.add("operators.total_pairs", total.toDouble, "count")
        out.add("operators.candidate_pairs", total.toDouble, "count")
        out.add("operators.lb_survivor_pairs", surv.toDouble, "count")
        out.add("operators.lb_survivor_frac", surv.toDouble / total, "ratio")
    }
  }

  /** ns per point pair of the primitive kernels over sampled pairs of the
    * workload's own trajectories, after JIT warm-up; median of 5 passes. */
  def geo(a: Traj.Arrays, rng: Random, out: Main.Metrics): Unit = {
    val pairs = Array.fill(400) {
      (a.users(rng.nextInt(a.users.length)), a.users(rng.nextInt(a.users.length)))
    }
    val ptPairs = pairs.map { case (u, v) => a.xs(u).length.toDouble * a.xs(v).length }.sum
    val bound = median(pairs.map { case (u, v) => Traj.dist(a, "hausdorff", u, v) }.toSeq)
    var sink = 0.0
    def time(f: (Long, Long) => Double): Double = {
      val passes = (1 to 25).map { _ =>
        val s = System.nanoTime()
        var i = 0
        while (i < pairs.length) { sink += f(pairs(i)._1, pairs(i)._2); i += 1 }
        (System.nanoTime() - s).toDouble
      }
      median(passes.drop(20)) / ptPairs
    }
    out.add("geo.hausdorff_ns_per_ptpair",
      time((u, v) => Metrics.hausdorff(a.xs(u), a.ys(u), a.xs(v), a.ys(v))), "ns")
    out.add("geo.hausdorff_bounded_ns_per_ptpair",
      time((u, v) => Metrics.hausdorffBounded(a.xs(u), a.ys(u), a.xs(v), a.ys(v), bound)), "ns")
    out.add("geo.frechet_ns_per_ptpair",
      time((u, v) => Metrics.discreteFrechet(a.xs(u), a.ys(u), a.xs(v), a.ys(v))), "ns")
    out.add("geo.dtw_ns_per_ptpair",
      time((u, v) => Metrics.dtw(a.xs(u), a.ys(u), a.xs(v), a.ys(v))), "ns")
    if (sink == 42.0) println("")
  }

  /** Pairs per second of the codegen'd functions over a fixed cached pair
    * frame, written to the `noop` sink; median of 3 after one warm pass. */
  def functions(spark: SparkSession, dir: String, out: Main.Metrics): Unit = {
    graft.Graft.init(spark)
    val ta = Tables.trajArrays(spark, dir)
    val sample = ta.select(col("user_id"), col("xs"), col("ys"), col("boxes"))
      .orderBy(col("user_id")).limit(300)
    val pairs = sample.select(col("user_id").as("u1"), col("xs").as("xs1"),
        col("ys").as("ys1"), col("boxes").as("b1"))
      .crossJoin(sample.select(col("user_id").as("u2"), col("xs").as("xs2"),
        col("ys").as("ys2"), col("boxes").as("b2")))
      .repartition(Runtime.getRuntime.availableProcessors)
      .cache()
    val n = pairs.count().toDouble
    def rate(c: org.apache.spark.sql.Column): Double = {
      def once() = {
        val s = System.nanoTime()
        pairs.select(c.as("v")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - s) / 1e9
      }
      once()
      n / median(Seq(once(), once(), once()))
    }
    val big = lit(Double.MaxValue)
    out.add("functions.boxlb_pairs_per_s", rate(expr("graft_boxlb(b1, b2)")), "1/s")
    out.add("functions.hausdorff_pairs_per_s", rate(graft.functions.HausdorffCodegen(
      col("xs1"), col("ys1"), col("xs2"), col("ys2"), big)), "1/s")
    out.add("functions.frechet_pairs_per_s", rate(graft.functions.FrechetCodegen(
      col("xs1"), col("ys1"), col("xs2"), col("ys2"), big)), "1/s")
    pairs.unpersist()
  }

  /** `Tables.trajArrays` into an empty index dir, then again from the
    * stored artifact with the memos cleared; median of 3 each. Runs last:
    * it empties the index dir. */
  def tables(spark: SparkSession, dir: String, reset: () => Unit, out: Main.Metrics): Unit = {
    def timed(): Double = {
      val s = System.nanoTime()
      Tables.trajArrays(spark, dir).count()
      (System.nanoTime() - s) / 1e9
    }
    val build = (1 to 3).map { _ => reset(); timed() }
    val load = (1 to 3).map { _ =>
      graft.util.Memo.clearAll()
      spark.catalog.clearCache()
      timed()
    }
    out.add("tables.trajArrays_build_s", median(build), "s")
    out.add("tables.trajArrays_load_s", median(load), "s")
  }
}
