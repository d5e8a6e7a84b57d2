package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

/** The benchmark's JVM side. `run.py` builds this, generates the inputs and
  * calls it once per run:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <dir> --oracle <file> --base <dir> --index-dir <dir>
  *   --golden <file> --out <result.json> [--spans <spans.jsonl>]
  *   [--inject-wrong 1]
  * }}}
  *
  * A run sets up once, cold (session start, table caches, the trajectory
  * artifact built into the empty index dir, and one untimed warm-up op of
  * every kind), runs `WarmRounds` untimed rounds, then drives seeded rounds
  * of ops from one client thread for `--seconds` (the last round may stop
  * part way), then checks every op's result against an oracle. `--trace 1`
  * also attaches the listeners on every other round, writes spans, and runs
  * the per-layer probes ([[Probes]]). The result file holds every metric by
  * name and unit.
  */
object Main {
  val WarmRounds = 2

  final case class Rec(id: Long, op: Op, latencyS: Double, traced: Boolean,
                       result: Either[Throwable, Array[Row]],
                       counters: Map[String, Long])

  final class Metrics {
    val entries = ArrayBuffer.empty[(String, Double, String)]
    def add(name: String, value: Double, unit: String): Unit = entries += ((name, value, unit))
    def json: String = Json.obj(entries.toSeq
      .map { case (n, v, u) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least 10 samples above it:
    * (percentile, value). With 10 or fewer samples it is the minimum. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val i = math.max(0, s.size - 11)
    (math.floor(100.0 * i / s.size).toInt, s(i))
  }

  /** (steal, total) CPU ticks of the machine so far, from `/proc/stat`;
    * (0, 0) where there is none. Steal is time the hypervisor gave this
    * machine's CPUs to other guests. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Fixed single-thread CPU loop; its time tracks the box's speed. */
  def calibMs(): Double = {
    val times = (1 to 5).map { _ =>
      val t = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) println("")
      (System.nanoTime() - t) / 1e6
    }
    median(times)
  }

  /** JIT compile and GC time of this JVM so far, in ms. */
  def jitMs(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum.toDouble
  }

  /** Classes Spark's code generator has compiled in this JVM so far. */
  def codegenClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  def emptyDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach { c =>
      emptyDir(c); c.delete()
    })
    f.mkdirs()
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val indexDir = new File(args("index-dir"))
    val injectWrong = args.get("inject-wrong").contains("1")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val calibT = System.nanoTime()
    val calibStart = calibMs()
    // the harness's own calibration loop is not part of set-up
    val calibS = (System.nanoTime() - calibT) / 1e9

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(indexDir.getParentFile, "warehouse").toString)
      .config("spark.local.dir", new File(indexDir.getParentFile, "spark-local").toString)
      .config("graft.index.dir", indexDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    def phase[T](name: String)(f: => T): T = tracer.fold(f)(_.phase(name)(f))

    val golden = args.get("golden").filter(p => new File(p).exists).map(Golden.read)
      .getOrElse(Map.empty)
    // oracle arrays, read from a plain file (no Spark work before set-up)
    val w = Workloads(workloadName, spark, args("data"), Traj.read(args("oracle")))

    def reset(): Unit = {
      graft.util.Memo.clearAll()
      spark.catalog.clearCache()
      emptyDir(indexDir)
    }

    // set-up, once, into the empty index dir; the warm-up pass is one op of
    // every kind, drawn from its own seeded stream
    val warmRng = new Random(seed * 7919 + 1)
    val setupParts = ArrayBuffer.empty[(String, Double)]
    def timed(f: => Any): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    phase("setup") {
      setupParts += (("setup", timed(w.setup())))
      val ops = w.round(warmRng)
      w.kinds.foreach(k => ops.find(_.kind == k).foreach(o => setupParts += ((k, timed(o.run())))))
    }
    // process start to the end of set-up
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calibS
    val artifactMb = dirBytes(indexDir) / 1e6
    // untimed rounds between set-up and window: right after the first calls
    // the JIT compiles for several cores' worth of time and rounds run up to
    // 1.5x slower, unevenly from run to run. They build nothing set-up has
    // not built.
    val warmS = timed(phase("warm") {
      (1 to WarmRounds).foreach(_ => w.round(warmRng).foreach(_.run()))
    })

    // timed window: seeded rounds, op by op, until `seconds` have passed, so
    // the last round may stop part way. Whole rounds (~4 s each) would make
    // the window three or four rounds long by a hair's breadth, and later
    // rounds run faster (the JIT is still warming up), which splits runs
    // into two groups. A traced run completes one traced and one untraced
    // round at least.
    val rng = new Random(seed)
    val recs = ArrayBuffer.empty[Rec]
    val minRounds = if (trace) 2 else 1
    val roundStats = ArrayBuffer.empty[(Double, Double, Double, Long)]
    val ticks0 = cpuTicks()
    val t0 = System.nanoTime()
    var roundNo = 0
    def open = roundNo < minRounds || (System.nanoTime() - t0) / 1e9 < seconds
    while (open) {
      val r0 = (System.nanoTime(), jitMs(), gcMs(), codegenClasses())
      val traced = tracer.isDefined && roundNo % 2 == 0
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      w.round(rng).iterator.takeWhile(_ => open).foreach { op =>
        val id = recs.size + 1L
        val s = System.nanoTime()
        val (res, counters) =
          try {
            tracer.filter(_ => traced) match {
              case Some(t) =>
                val (r, c) = t.op(id, s"operators.${op.kind}")(op.run())
                (Right(r), c)
              case None => (Right(op.run()), Map.empty[String, Long])
            }
          } catch { case e: Throwable => (Left(e), Map.empty[String, Long]) }
        recs += Rec(id, op, (System.nanoTime() - s) / 1e9, traced, res, counters)
      }
      roundStats += (((System.nanoTime() - r0._1) / 1e9, jitMs() - r0._2, gcMs() - r0._3,
        codegenClasses() - r0._4))
      roundNo += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val ticks1 = cpuTicks()
    val stealFrac = (ticks1._1 - ticks0._1).toDouble / math.max(1L, ticks1._2 - ticks0._2)
    tracer.foreach(_.detach())

    // checks, after the window so they cost no op time
    if (injectWrong) recs.headOption.foreach { r =>
      recs(0) = r.copy(result = r.result.map(rows => Golden.corrupt(rows)))
    }
    val errors = ArrayBuffer.empty[String]
    val okResults = ArrayBuffer.empty[(Op, Array[Row])]
    for (r <- recs) r.result match {
      case Left(e) => errors += s"op ${r.id} ${r.op.kind} ${r.op.params}: threw $e"
      case Right(rows) =>
        val err = try r.op.check(rows) catch { case e: Throwable => Some(s"check threw $e") }
        err match {
          case Some(msg) => errors += s"op ${r.id} ${r.op.kind} ${r.op.params}: $msg"
          case None => okResults += ((r.op, rows))
        }
    }
    // each failed op has one error; a failed cross-check counts as one op
    val cross = try w.crossCheck(okResults.toSeq)
      catch { case e: Throwable => Seq(s"cross-check threw $e") }
    val failedOps = math.min(recs.size, errors.size + (if (cross.nonEmpty) 1 else 0))
    errors ++= cross

    val storage = spark.sparkContext.getRDDStorageInfo
    val cachedMb = storage.map(i => i.memSize + i.diskSize).sum / 1e6
    val lat = recs.map(_.latencyS).toSeq
    val (tailPct, tailV) = tail(lat)

    val e2e = new Metrics
    e2e.add("setup_s", setupS, "s")
    e2e.add("latency_p50_s", median(lat), "s")
    e2e.add("latency_tail_s", tailV, "s")
    e2e.add("ops_per_s", recs.size / windowS, "1/s")
    e2e.add("failed_frac", failedOps.toDouble / recs.size, "ratio")
    e2e.add("cached_mb", cachedMb, "MB")

    val layer = new Metrics
    val probeErrors = tracer.map { t =>
      layer.add("sources.artifact_mb", artifactMb, "MB")
      Probes.run(spark, t, w, recs.toSeq, cpus, layer, args("base"), golden, seed,
        () => reset())
    }.getOrElse(Nil)
    tracer.foreach { _ =>
      val n = math.max(1, recs.size).toDouble
      layer.add("plans.codegen_classes_per_op", roundStats.map(_._4).sum / n, "count")
      layer.add("host.jit_ms_per_op", roundStats.map(_._2).sum / n, "ms")
    }
    val calibEnd = calibMs()
    layer.add("host.calib_ms", median(Seq(calibStart, calibEnd)), "ms")

    tracer.foreach(t => args.get("spans").foreach { p =>
      Files.write(Paths.get(p), (t.spansJsonl.mkString("\n") + "\n").getBytes("UTF-8"))
    })

    val perKind = recs.groupBy(_.op.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      k -> Json.obj(Seq("n" -> Json.num(rs.size.toLong),
        "p50_s" -> Json.num(median(rs.map(_.latencyS).toSeq))))
    }
    val result = Json.obj(Seq(
      "workload" -> Json.str(workloadName),
      "seed" -> Json.num(seed),
      "trace" -> Json.bool(trace),
      "cores" -> Json.num(cpus.toLong),
      "correct" -> Json.bool(errors.isEmpty && probeErrors.isEmpty),
      "attempted" -> Json.num(recs.size.toLong),
      "failed" -> Json.num(failedOps.toLong),
      "errors" -> Json.arr((errors.toSeq ++ probeErrors).take(20).map(Json.str)),
      "end_to_end" -> e2e.json,
      "per_layer" -> layer.json,
      "latency_tail_percentile" -> Json.num(tailPct.toLong),
      "latency_samples" -> Json.num(lat.size.toLong),
      "warm_s" -> Json.num(warmS),
      "window_s" -> Json.num(windowS),
      "rounds" -> Json.num(roundNo.toLong),
      "host_calib_ms" -> Json.obj(Seq("start" -> Json.num(calibStart),
        "end" -> Json.num(calibEnd))),
      // share of the machine's CPU time taken by other guests in the window
      "host_steal_frac" -> Json.num(stealFrac),
      "per_kind" -> Json.obj(perKind),
      // per window round: wall time, JIT compile and GC time of the JVM,
      // classes the code generator compiled
      "rounds_detail" -> Json.arr(roundStats.toSeq.map { case (w, j, g, c) =>
        Json.obj(Seq("wall_s" -> Json.num(w), "jit_ms" -> Json.num(j), "gc_ms" -> Json.num(g),
          "codegen_classes" -> Json.num(c))) }),
      // every op in window order, to show drift within a run
      "op_latencies_s" -> Json.arr(recs.toSeq.map(r => Json.num(r.latencyS))),
      "setup_parts_s" -> Json.obj(setupParts.toSeq.map { case (k, t) => k -> Json.num(t) })))
    Files.write(Paths.get(args("out")), (result + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
