package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{StrPartition, TrajectorySearch}

/** Bound-seeding top-k search (reference O11/O13): exact equality with the
  * naive scan, and pruning power on spatially separated data. */
class TrajectorySearchTest extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pruned top-k equals naive top-k on real data") {
    val ta = Tables.trajArrays(spark, TestSpark.sf0001)
    for (metric <- Seq("hausdorff", "frechet")) {
      val naive = MetricOracles.topKOf(ta, 0L, 10, metric)
        .collect().map(_.toString).toSeq
      val pruned = TrajectorySearch.topKPruned(ta, 0L, 10, metric)
        .collect().map(_.toString).toSeq
      assert(pruned == naive, metric)
    }
  }

  /** One generated single-search case: (user_id, xs, ys) rows, the query
    * user (possibly absent) and k. */
  private case class SearchCase(rows: Seq[(Long, Seq[Double], Seq[Double])],
                                query: Long, k: Int)

  private val searchCases: Gen[SearchCase] = {
    // coarse steps around three far-apart centers: exact distance ties, and
    // box bounds that prune the far clusters
    val center = Gen.oneOf(0.0, 3.0, 200.0)
    val odd = Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    def coord(c: Double, oddWeight: Int) =
      Gen.frequency(12 -> Gen.choose(0, 8).map(c + _ * 0.5), oddWeight -> odd)
    // past Tables.TrajSlices points a slice box spans several points, so a
    // NaN or ±Inf point no longer stands alone in its box
    val traj = for {
      n <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.const(1), 4 -> Gen.choose(2, 6),
        3 -> Gen.choose(9, 20))
      oddWeight <- Gen.frequency(4 -> Gen.const(0), 1 -> Gen.const(1))
      cx <- center
      cy <- center
      xs <- Gen.listOfN(n, coord(cx, oddWeight))
      ys <- Gen.listOfN(n, coord(cy, oddWeight))
    } yield (xs, ys)
    for {
      base <- Gen.choose(0, 14).flatMap(Gen.listOfN(_, traj))
      // copies of earlier trajectories under new ids tie with their source
      dups <- if (base.isEmpty) Gen.const(Nil)
              else Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.oneOf(base)))
      rows = (base ++ dups).zipWithIndex.map { case ((xs, ys), i) => (i.toLong, xs, ys) }
      // now and then one id appears twice (the query user's included)
      reused <- if (rows.isEmpty) Gen.const(Nil)
                else Gen.frequency(4 -> Gen.const(Nil), 1 -> Gen.oneOf(rows).flatMap(r =>
                  traj.map { case (xs, ys) => List((r._1, xs, ys)) }))
      all <- Gen.long.map(seed => new scala.util.Random(seed).shuffle(rows ++ reused))
      query <- if (rows.isEmpty) Gen.const(999L)
               else Gen.frequency(8 -> Gen.oneOf(rows.map(_._1)), 1 -> Gen.const(999L))
      k <- Gen.choose(1, 8)
    } yield SearchCase(all, query, k)
  }

  /** A (user_id, xs, ys) table of `rows` in `parts` input partitions. */
  private def frameOf(rows: Seq[(Long, Seq[Double], Seq[Double])], parts: Int) =
    frameOfIds(rows.map { case (u, xs, ys) => (Some(u), xs, ys) }, parts)

  /** [[frameOf]] with a null user_id where the id is None. */
  private def frameOfIds(rows: Seq[(Option[Long], Seq[Double], Seq[Double])], parts: Int) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("xs", ArrayType(DoubleType)), StructField("ys", ArrayType(DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (u, xs, ys) => Row(u.map(Long.box).orNull, xs, ys) }, parts), schema)
  }

  private def round6(d: Double) = if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** (distance, ids) ascending with NaN last — the engine's result order. */
  private def byDist[T](key: T => (Double, Long, Long))(a: T, b: T): Boolean = {
    val (da, a1, a2) = key(a); val (db, b1, b2) = key(b)
    val c = java.lang.Double.compare(da, db)
    c < 0 || (c == 0 && (a1 < b1 || (a1 == b1 && a2 < b2)))
  }

  /** The Hausdorff hits of `query` by local brute force: every row of
    * another id against every row of the query id, in the engine's order. */
  private def ranked(rows: Seq[(Long, Seq[Double], Seq[Double])], query: Long) =
    (for ((u, xs, ys) <- rows if u != query; (_, qx, qy) <- rows.filter(_._1 == query))
      yield (u, round6(
        graft.geo.Metrics.hausdorff(xs.toArray, ys.toArray, qx.toArray, qy.toArray))))
      .sortWith(byDist[(Long, Double)](h => (h._2, h._1, 0L)))

  /** Whether `hits` tie at the k-th distance with different ids. */
  private def tieAtKth(hits: Seq[(Long, Double)], k: Int) =
    k > 0 && hits.size > k && hits(k - 1)._2 == hits(k)._2 && hits(k - 1)._1 != hits(k)._1

  /** Layouts random tables rarely hit. Trajectory 0 and 1 are at Hausdorff
    * distance 0, but slice 0 of trajectory 1 (2 of 16 points) has a box the
    * box bound cannot use: a NaN corner, or a corner whose squared distance
    * to trajectory 0 is finite while both points' squared distances
    * overflow. Its bound is then > 1 although its distance is 0, so a
    * bound-trusting search stops at trajectory 2 (distance 1). */
  private val badSliceLayouts: Seq[Seq[(Long, Seq[Double], Seq[Double])]] = {
    def pts(n: Int, x: Double, y: Double) = Seq.fill(n)((x, y))
    val query = pts(8, 0.0, 0.0) ++ pts(8, 5.0, 0.0)
    for (cand <- Seq(
        Seq((0.0, 0.0), (Double.NaN, 0.0)) ++ pts(14, 5.0, 0.0),
        Seq((1e154, 1.5e154), (1.5e154, 0.0)) ++ pts(7, 0.0, 0.0) ++ pts(7, 5.0, 0.0)))
      yield Seq((0L, query.map(_._1), query.map(_._2)),
        (1L, cand.map(_._1), cand.map(_._2)),
        (2L, query.map(_._1), query.map(_._2 + 1.0)))
  }

  test("topKPruned ≡ topKOf row for row on generated adversarial tables, 1 and 7 partitions") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def mismatch(sc: SearchCase): Option[String] = {
      (for (metric <- Seq("hausdorff", "frechet")) yield {
        val naive = MetricOracles.topKOf(frameOf(sc.rows, 1), sc.query, sc.k, metric)
          .collect().map(_.toString).toSeq
        Seq(1, 7).flatMap { parts =>
          val pruned = TrajectorySearch.topKPruned(frameOf(sc.rows, parts), sc.query, sc.k, metric)
            .collect().map(_.toString).toSeq
          if (pruned == naive) None
          else Some(s"$metric, $parts partitions: $pruned != $naive for $sc")
        }
      }).flatten.headOption
    }

    val prop = Prop.forAllNoShrink(searchCases) { sc =>
      // what the case covers, from a local brute force
      val qRows = sc.rows.filter(_._1 == sc.query)
      val hits = ranked(sc.rows, sc.query)
      val pts = sc.rows.flatMap(r => r._2 ++ r._3)
      Seq("empty" -> sc.rows.exists(_._2.isEmpty), "1-point" -> sc.rows.exists(_._2.size == 1),
        "NaN" -> pts.exists(_.isNaN), "Inf" -> pts.exists(_.isInfinite),
        "absent query" -> qRows.isEmpty,
        "fewer than k" -> (qRows.nonEmpty && hits.size < sc.k),
        "tie at k-th" -> tieAtKth(hits, sc.k),
        "duplicate id" -> (sc.rows.map(_._1).distinct.size < sc.rows.size))
        .foreach { case (what, hit) => if (hit) seen(what) += 1 }
      val m = mismatch(sc)
      m.isEmpty :| m.getOrElse("")
    }
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(40).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(20261017L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    for (what <- Seq("empty", "1-point", "NaN", "Inf", "absent query", "fewer than k",
        "tie at k-th", "duplicate id"))
      assert(seen(what) > 0, s"no generated case covered '$what': $seen")

    for (rows <- badSliceLayouts)
      mismatch(SearchCase(rows, query = 0L, k = 1)).foreach(m => fail(m))
  }

  /** One generated batch case: a single-search case's table with a query
    * set of 0–6 ids (repeats and absent ids included) and k from 0. */
  private case class BatchCase(rows: Seq[(Long, Seq[Double], Seq[Double])],
                               queries: Seq[Long], k: Int)

  private val batchCases: Gen[BatchCase] = for {
    sc <- searchCases
    ids = sc.rows.map(_._1).distinct
    id = if (ids.isEmpty) Gen.const(999L)
         else Gen.frequency(6 -> Gen.oneOf(ids), 1 -> Gen.const(999L))
    queries <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, id))
    k <- Gen.frequency(1 -> Gen.const(0), 8 -> Gen.const(sc.k))
  } yield BatchCase(sc.rows, queries, k)

  /** `body` with `spark.graft.broadcastCapBytes` set to `cap`. */
  private def withCap[T](cap: String)(body: => T): T = {
    spark.conf.set("spark.graft.broadcastCapBytes", cap)
    try body finally spark.conf.unset("spark.graft.broadcastCapBytes")
  }

  test("topKBatchPruned ≡ topKBatch row for row on generated adversarial query sets, 1 and 7 partitions, one chunk and one chunk per query") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def mismatch(bc: BatchCase): Option[String] =
      (for (metric <- Seq("hausdorff", "frechet")) yield {
        val naive = MetricOracles.topKBatch(frameOf(bc.rows, 1), bc.queries, bc.k, metric)
          .collect().map(_.toString).toSeq
        // a 1-byte cap ships every query in a search job of its own
        for (cap <- Seq(None, Some("1")); parts <- Seq(1, 7)) yield {
          def run = TrajectorySearch.topKBatchPruned(frameOf(bc.rows, parts), bc.queries,
            bc.k, metric).collect().map(_.toString).toSeq
          val pruned = cap.fold(run)(withCap(_)(run))
          if (pruned == naive) None
          else Some(s"$metric, $parts partitions, cap $cap: $pruned != $naive for $bc")
        }
      }).flatten.flatten.headOption

    val prop = Prop.forAllNoShrink(batchCases) { bc =>
      // what the case covers, from a local brute force
      val present = bc.queries.distinct.filter(q => bc.rows.exists(_._1 == q))
      val hits = present.map(ranked(bc.rows, _))
      val pts = bc.rows.flatMap(r => r._2 ++ r._3)
      val counts = bc.rows.groupBy(_._1).map { case (u, rs) => u -> rs.size }
      Seq("empty" -> bc.rows.exists(_._2.isEmpty), "1-point" -> bc.rows.exists(_._2.size == 1),
        "NaN" -> pts.exists(_.isNaN), "Inf" -> pts.exists(_.isInfinite),
        "id listed twice" -> (bc.queries.distinct.size < bc.queries.size),
        "query id twice in the table" -> present.exists(counts(_) > 1),
        "absent id" -> (present.size < bc.queries.distinct.size),
        "query is another query's candidate" -> (present.size > 1),
        "fewer than k" -> (bc.k > 0 && hits.exists(_.size < bc.k)),
        "tie at k-th" -> hits.exists(tieAtKth(_, bc.k)),
        "k = 0" -> (bc.k == 0), "empty query set" -> bc.queries.isEmpty)
        .foreach { case (what, hit) => if (hit) seen(what) += 1 }
      val m = mismatch(bc)
      m.isEmpty :| m.getOrElse("")
    }
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(40).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(20261021L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    for (what <- Seq("empty", "1-point", "NaN", "Inf", "id listed twice",
        "query id twice in the table", "absent id", "query is another query's candidate",
        "fewer than k", "tie at k-th", "k = 0", "empty query set"))
      assert(seen(what) > 0, s"no generated case covered '$what': $seen")

    for (rows <- badSliceLayouts)
      mismatch(BatchCase(rows, Seq(0L, 2L), k = 1)).foreach(m => fail(m))
  }

  /** One generated gate case: a single-search case's rows split into a
    * corpus and a batch (a row may go to both, and now and then all go to
    * one side), now and then a batch row listed twice, ids now and then
    * null, and τ now and then a cross pair's rounded Hausdorff distance. */
  private case class GateCase(corpus: Seq[(Option[Long], Seq[Double], Seq[Double])],
                              batch: Seq[(Option[Long], Seq[Double], Seq[Double])], tau: Double)

  private val gateCases: Gen[GateCase] = for {
    sc <- searchCases
    side = Gen.frequency(4 -> "corpus", 2 -> "batch", 1 -> "both")
    sides <- Gen.frequency(8 -> Gen.listOfN(sc.rows.size, side),
      1 -> Gen.const(sc.rows.map(_ => "corpus")), 1 -> Gen.const(sc.rows.map(_ => "batch")))
    nulls <- Gen.listOfN(sc.rows.size, Gen.frequency(9 -> false, 1 -> true))
    rows = sc.rows.zip(nulls).map { case ((u, xs, ys), n) => (if (n) None else Some(u), xs, ys) }
    corpus = rows.zip(sides).collect { case (r, s) if s != "batch" => r }
    batch0 = rows.zip(sides).collect { case (r, s) if s != "corpus" => r }
    batch <- if (batch0.isEmpty) Gen.const(batch0)
             else Gen.frequency(3 -> Gen.const(batch0), 1 -> Gen.oneOf(batch0).map(batch0 :+ _))
    dists = for ((_, cx, cy) <- corpus; (_, bx, by) <- batch) yield round6(
      graft.geo.Metrics.hausdorff(cx.toArray, cy.toArray, bx.toArray, by.toArray))
    finite = dists.filter(d => !d.isNaN && !d.isInfinite)
    tau <- if (finite.isEmpty) Gen.oneOf(0.0, 1.0, 3.0)
           else Gen.frequency(1 -> Gen.oneOf(0.0, 1.0, 3.0), 2 -> Gen.oneOf(finite))
  } yield GateCase(corpus, batch, tau)

  test("epsilonGate ≡ the naive cross-pair gate row for row on generated adversarial corpora and batches, 1 and 7 partitions, one chunk and one chunk per query") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def mismatch(gc: GateCase): Option[String] =
      (for (metric <- Seq("hausdorff", "frechet")) yield {
        val naive = MetricOracles.epsilonGateNaive(frameOfIds(gc.corpus, 1),
          frameOfIds(gc.batch, 1), gc.tau, metric).collect().map(_.toString).toSeq
        // a 1-byte cap ships every batch id in a search job of its own
        for (cap <- Seq(None, Some("1")); parts <- Seq(1, 7)) yield {
          def run = TrajectorySearch.epsilonGate(frameOfIds(gc.corpus, parts),
            frameOfIds(gc.batch, parts), gc.tau, metric).collect().map(_.toString).toSeq
          val got = cap.fold(run)(withCap(_)(run))
          if (got == naive) None
          else Some(s"$metric, $parts partitions, cap $cap: $got != $naive for $gc")
        }
      }).flatten.flatten.headOption

    val prop = Prop.forAllNoShrink(gateCases) { gc =>
      // what the case covers, from a local brute force
      val all = gc.corpus ++ gc.batch
      val pts = all.flatMap(r => r._2 ++ r._3)
      val bIds = gc.batch.flatMap(_._1)
      val dists = for ((_, cx, cy) <- gc.corpus; (_, bx, by) <- gc.batch) yield round6(
        graft.geo.Metrics.hausdorff(cx.toArray, cy.toArray, bx.toArray, by.toArray))
      Seq("empty" -> all.exists(_._2.isEmpty), "1-point" -> all.exists(_._2.size == 1),
        "NaN" -> pts.exists(_.isNaN), "Inf" -> pts.exists(_.isInfinite),
        "duplicated batch id" -> (bIds.distinct.size < bIds.size),
        "batch id in the corpus" -> bIds.exists(gc.corpus.flatMap(_._1).toSet),
        "empty batch" -> gc.batch.isEmpty, "empty corpus" -> gc.corpus.isEmpty,
        "distance = τ" -> dists.contains(gc.tau),
        "null corpus id" -> gc.corpus.exists(_._1.isEmpty),
        "null batch id" -> gc.batch.exists(_._1.isEmpty))
        .foreach { case (what, hit) => if (hit) seen(what) += 1 }
      val m = mismatch(gc)
      m.isEmpty :| m.getOrElse("")
    }
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(40).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(20261022L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    for (what <- Seq("empty", "1-point", "NaN", "Inf", "duplicated batch id",
        "batch id in the corpus", "empty batch", "empty corpus", "distance = τ",
        "null corpus id", "null batch id"))
      assert(seen(what) > 0, s"no generated case covered '$what': $seen")
  }

  test("allPairsTopKStr ≡ the naive all-pairs join row for row on generated adversarial tables, 1 and 7 partitions") {
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def mismatch(rows: Seq[(Long, Seq[Double], Seq[Double])], k: Int): Option[String] =
      (for (metric <- Seq("hausdorff", "frechet")) yield {
        val naive = MetricOracles.allPairsNaive(frameOf(rows, 1), k, metric)
          .collect().map(_.toString).toSeq
        Seq(1, 7).flatMap { parts =>
          val got = StrPartition.allPairsTopKStr(frameOf(rows, parts), k, metric)
            .collect().map(_.toString).toSeq
          if (got == naive) None
          else Some(s"$metric, $parts partitions, k=$k: $got != $naive for $rows")
        }
      }).flatten.headOption

    // the single-search generator's tables, its query user unused
    val prop = Prop.forAllNoShrink(searchCases) { sc =>
      // what the case covers, from a local brute force
      val ranked = (for ((u1, x1, y1) <- sc.rows; (u2, x2, y2) <- sc.rows if u1 < u2)
        yield (u1, u2, round6(
          graft.geo.Metrics.hausdorff(x1.toArray, y1.toArray, x2.toArray, y2.toArray))))
        .sortWith(byDist[(Long, Long, Double)](p => (p._3, p._1, p._2)))
      val pts = sc.rows.flatMap(r => r._2 ++ r._3)
      Seq("empty" -> sc.rows.exists(_._2.isEmpty), "1-point" -> sc.rows.exists(_._2.size == 1),
        "NaN" -> pts.exists(_.isNaN), "Inf" -> pts.exists(_.isInfinite),
        "fewer than k pairs" -> (ranked.size < sc.k),
        "tie at k-th" -> (ranked.size > sc.k && ranked(sc.k - 1)._3 == ranked(sc.k)._3),
        "duplicate id" -> (sc.rows.map(_._1).distinct.size < sc.rows.size))
        .foreach { case (what, hit) => if (hit) seen(what) += 1 }
      val m = mismatch(sc.rows, sc.k)
      m.isEmpty :| m.getOrElse("")
    }
    val res = org.scalacheck.Test.check(org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(30).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(20261020L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    for (what <- Seq("empty", "1-point", "NaN", "Inf", "fewer than k pairs", "tie at k-th",
        "duplicate id"))
      assert(seen(what) > 0, s"no generated case covered '$what': $seen")

    for (rows <- badSliceLayouts) mismatch(rows, 1).foreach(m => fail(m))
  }

  test("topKPruned runs exactly two Spark jobs per call, whatever the query user") {
    val ta = Tables.trajArrays(spark, TestSpark.sf0001)
    TrajectorySearch.topKPruned(ta, 0L, 10, "hausdorff").collect() // builds the cache
    for (metric <- Seq("hausdorff", "frechet"); q <- Seq(0L, 1L)) {
      val (rows, jobs) = JobCount(spark)(
        TrajectorySearch.topKPruned(ta, q, 10, metric).collect())
      assert(jobs == 2, s"$metric, query $q: $jobs jobs")
      assert(rows.length == 10)
    }
    // a 5-query batch is one chunk: the lookup job and one search job
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    for (metric <- Seq("hausdorff", "frechet")) {
      val (rows, jobs) = JobCount(spark)(
        TrajectorySearch.topKBatchPruned(ta, qs, 10, metric).collect())
      assert(jobs == 2, s"$metric, batch $qs: $jobs jobs")
      assert(rows.length == 50)
    }
    // under a 1-byte cap every query is a chunk of its own
    val (rows, jobs) = withCap("1")(JobCount(spark)(
      TrajectorySearch.topKBatchPruned(ta, qs, 10, "hausdorff").collect()))
    assert(jobs == 1 + qs.size, s"one chunk per query: $jobs jobs")
    assert(rows.toSeq == TrajectorySearch.topKBatchPruned(ta, qs, 10, "hausdorff").collect().toSeq)

    // a 16-trajectory ε-gate is one chunk too: the batch lookup and one
    // search job over the corpus; under a 1-byte cap one per batch id
    val gateTa = Tables.trajArrays(spark, TestSpark.sf001)
    val batchIds = gateTa.select(col("user_id")).orderBy(col("user_id")).limit(16)
      .collect().map(_.getLong(0)).toSeq // builds the cache
    assert(batchIds.size == 16)
    val corpus = gateTa.filter(!col("user_id").isin(batchIds: _*))
    val batch = gateTa.filter(col("user_id").isin(batchIds: _*))
    for (metric <- Seq("hausdorff", "frechet")) {
      val (gate, gateJobs) = JobCount(spark)(
        TrajectorySearch.epsilonGate(corpus, batch, 11.0, metric).collect())
      assert(gateJobs == 2, s"$metric, 16-trajectory gate: $gateJobs jobs")
      assert(gate.map(_.getLong(0)).toSeq == batchIds)
    }
    val (gate, gateJobs) = withCap("1")(JobCount(spark)(
      TrajectorySearch.epsilonGate(corpus, batch, 11.0).collect()))
    assert(gateJobs == 1 + batchIds.size, s"one chunk per batch id: $gateJobs jobs")
    assert(gate.toSeq == TrajectorySearch.epsilonGate(corpus, batch, 11.0).collect().toSeq)
  }

  test("epsilonGate equals the naive cross-pair gate at two SFs and never enumerates within-side pairs") {
    import org.apache.spark.sql.functions._
    for (dir <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val ta = Tables.trajArrays(spark, dir)
      val corpus = ta.filter(col("user_id") % 5 =!= 0)
      val batch = ta.filter(col("user_id") % 5 === 0)
      val tau = 11.0
      val gate = TrajectorySearch.epsilonGate(corpus, batch, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

      // naive: exact kernel on EVERY cross pair, no bound
      val fn = MetricOracles.hausdorffUdf
      val c = corpus.select(col("user_id").as("cu"),
        col("xs").as("cxs"), col("ys").as("cys"))
      val b = batch.select(col("user_id").as("bu"),
        col("xs").as("bxs"), col("ys").as("bys"))
      val naiveClose = c.crossJoin(b)
        .filter(round(fn(col("cxs"), col("cys"), col("bxs"), col("bys")), 6) <= tau)
        .groupBy(col("bu")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val naive = batch.select(col("user_id")).collect().map(_.getLong(0)).sorted.toSeq
        .map(u => (u, naiveClose.getOrElse(u, 0L),
          if (naiveClose.getOrElse(u, 0L) == 0L) 1L else 0L))
      assert(gate == naive, s"gate != naive cross gate at $dir")
      // sf0.001's 30 users sit sparse — every batch member admits; the
      // sf0.01 fixture has close cross pairs, so both outcomes must occur
      if (dir == TestSpark.sf001)
        assert(gate.exists(_._3 == 0L) && gate.exists(_._3 == 1L),
          s"fixture at $dir should both admit and reject at tau=$tau")
    }
  }

  test("pruning fires on spatially separated clusters") {
    // 60 users: 20 near the query (cluster at origin), 40 far away
    val rnd = new scala.util.Random(11)
    def traj(cx: Double, cy: Double): (Seq[Double], Seq[Double]) = {
      val n = 5 + rnd.nextInt(10)
      (Seq.fill(n)(cx + rnd.nextDouble()), Seq.fill(n)(cy + rnd.nextDouble()))
    }
    val rows = (0L until 20L).map(i => (i, traj(0, 0))) ++
      (20L until 60L).map(i => (i, traj(500 + (i % 5) * 100, 500)))
    val ta = rows.map { case (id, (xs, ys)) => (id, xs, ys) }.toDF("user_id", "xs", "ys")

    val naive = MetricOracles.topKOf(ta, 0L, 10, "hausdorff")
      .collect().map(_.toString).toSeq
    val pruned = TrajectorySearch.topKPruned(ta, 0L, 10, "hausdorff")
      .collect().map(_.toString).toSeq
    assert(pruned == naive)

    // the k-th distance stays inside the near cluster (≈ ≤ 3), so the far
    // users' boxes (≥ ~490 away) must be pruned
    val r = MetricOracles.topKOf(ta, 0L, 10, "hausdorff")
      .agg(max($"dist")).as[Double].head()
    val nCand = TrajectorySearch.prunedCandidateCount(ta, 0L, r + 1e-6)
    assert(nCand <= 19, s"expected only near-cluster candidates, got $nCand")
  }

  test("allPairsTopK (t2 surface) equals the unpruned all-pairs top-k at two SFs") {
    for (dir <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val ta = Tables.trajArrays(spark, dir)
      val pruned = TrajectorySearch.allPairsTopK(ta, 20, "hausdorff")
        .collect().map(_.toString).toSeq
      val naive = MetricOracles.allPairsNaive(ta, 20, "hausdorff")
        .collect().map(_.toString).toSeq
      assert(pruned == naive, dir)
    }
  }

  test("sliced-box bound prunes a real share of the pair space on the fixture") {
    val ta = Tables.trajArrays(spark, TestSpark.sf001)
    val r = TrajectorySearch.allPairsTopK(ta, 20, "hausdorff")
      .agg(max($"hausdorff")).as[Double].head()
    val n = ta.count()
    val pairs = n * (n - 1) / 2
    val survivors = TrajectorySearch.allPairsSurvivorCount(ta, r + 1e-6)
    assert(survivors >= 20, s"bound must keep the answer: $survivors")
    assert(survivors < pairs / 2,
      s"expected >50% pruning on the fixture, got $survivors of $pairs")
  }

  test("partition-local batch top-k equals the exact batch search at two SFs") {
    for (dir <- Seq(TestSpark.sf0001, TestSpark.sf001)) {
      val ta = Tables.trajArrays(spark, dir)
      val qs = Seq(0L, 1L, 2L, 3L, 4L)
      val exact = MetricOracles.topKBatch(ta, qs, 10, "hausdorff")
        .collect().map(_.toString).toSeq
      val pruned = TrajectorySearch.topKBatchPruned(ta, qs, 10, "hausdorff")
        .collect().map(_.toString).toSeq
      assert(pruned == exact, dir)
    }
  }

  test("knnJoin (both physical paths) equals the unpruned batch search with every user as query") {
    for (dir <- Seq(TestSpark.sf0001)) {
      val ta = Tables.trajArrays(spark, dir)
      val allUsers = ta.select($"user_id").collect().map(_.getLong(0)).toSeq
      val exact = MetricOracles.topKBatch(ta, allUsers, 3, "hausdorff")
        .collect().map(_.toString).toSeq
      val seeded = TrajectorySearch.knnJoin(ta, 3, "hausdorff",
          path = TrajectorySearch.KnnPath.Seeded)
        .collect().map(_.toString).toSeq
      val brute = TrajectorySearch.knnJoin(ta, 3, "hausdorff",
          path = TrajectorySearch.KnnPath.Brute)
        .collect().map(_.toString).toSeq
      val auto = TrajectorySearch.knnJoin(ta, 3, "hausdorff")
        .collect().map(_.toString).toSeq
      val tiled = TrajectorySearch.knnJoin(ta, 3, "hausdorff",
          path = TrajectorySearch.KnnPath.Tiled)
        .collect().map(_.toString).toSeq
      assert(seeded == exact, dir)
      assert(brute == exact, dir)
      assert(auto == exact, dir)
      assert(tiled == exact, dir)
    }
  }

  /** Synthetic fixtures for the data-driven dispatch: short trajectories in
    * a small table → Brute; long trajectories → Seeded. Both regimes must
    * return the exact (unpruned batch) answer. */
  test("knnJoin Auto dispatch picks brute on short trajectories and seeded on long ones — both exact") {
    val rnd = new scala.util.Random(7)
    def fixture(nUsers: Int, nPts: Int) = {
      val rows = (0L until nUsers.toLong).map { u =>
        val cx = (u % 6) * 10.0; val cy = (u % 4) * 10.0
        (u, Seq.fill(nPts)(cx + rnd.nextDouble() * 3),
            Seq.fill(nPts)(cy + rnd.nextDouble() * 3))
      }
      rows.toDF("user_id", "xs", "ys")
    }

    val short = Tables.withSliceBoxes(fixture(30, 12))
    val long = Tables.withSliceBoxes(fixture(30, 120))
    assert(TrajectorySearch.choosePath(TrajectorySearch.trajStats(short)) ==
      TrajectorySearch.KnnPath.Brute, "12-point trajectories → brute regime")
    assert(TrajectorySearch.choosePath(TrajectorySearch.trajStats(long)) ==
      TrajectorySearch.KnnPath.Seeded, "120-point trajectories → seeded regime")
    // a table too big to broadcast is never brute, however short its
    // trajectories (10⁶ users × 10 pts ≈ 260 MB build side)
    assert(TrajectorySearch.choosePath(
      TrajectorySearch.TrajStats(users = 1000000L, medianPoints = 10.0)) ==
      TrajectorySearch.KnnPath.Seeded, "non-broadcastable table → seeded")

    for (ta <- Seq(short, long)) {
      val allUsers = ta.select($"user_id").collect().map(_.getLong(0)).toSeq
      val exact = MetricOracles.topKBatch(ta, allUsers, 3, "hausdorff")
        .collect().map(_.toString).toSeq
      val auto = TrajectorySearch.knnJoin(ta, 3, "hausdorff")
        .collect().map(_.toString).toSeq
      assert(auto == exact)
    }
  }

  /** Round-7 dispatch gap: Auto must SEE spatial clustering (the flat
    * TrajStats cannot) and pick the Tiled plan on big clustered tables. */
  test("knnJoin Auto detects clustering and dispatches Tiled — result ≡ flat seeded") {
    val rnd = new scala.util.Random(11)
    // 1 000 users (≥ TiledMinUsers), 40-point trajectories (seeded regime —
    // brute is ruled out by the points crossover) in four clusters ~500
    // apart: most of the centroid bounding box is vacant
    val centers = Seq((0.0, 0.0), (500.0, 0.0), (0.0, 500.0), (500.0, 500.0))
    val clustered = Tables.withSliceBoxes((0L until 1000L).map { u =>
      val (cx, cy) = centers((u % 4).toInt)
      (u, Seq.fill(40)(cx + rnd.nextDouble() * 3), Seq.fill(40)(cy + rnd.nextDouble() * 3))
    }.toDF("user_id", "xs", "ys"))
    // same size/shape but centroids uniform over the box: every grid cell
    // is occupied, the stat stays near zero, dispatch stays Seeded
    val uniform = Tables.withSliceBoxes((0L until 1000L).map { u =>
      val cx = rnd.nextDouble() * 500; val cy = rnd.nextDouble() * 500
      (u, Seq.fill(40)(cx + rnd.nextDouble() * 3), Seq.fill(40)(cy + rnd.nextDouble() * 3))
    }.toDF("user_id", "xs", "ys"))

    val cap = TrajectorySearch.BruteBroadcastMaxBytes
    assert(TrajectorySearch.clusterStat(clustered) >= TrajectorySearch.ClusterEmptyFrac,
      "four distant clusters must read as clustered")
    assert(TrajectorySearch.clusterStat(uniform) < TrajectorySearch.ClusterEmptyFrac,
      "uniform centroids must not read as clustered")
    assert(TrajectorySearch.chooseAutoPath(clustered,
      TrajectorySearch.trajStats(clustered), cap) == TrajectorySearch.KnnPath.Tiled)
    assert(TrajectorySearch.chooseAutoPath(uniform,
      TrajectorySearch.trajStats(uniform), cap) == TrajectorySearch.KnnPath.Seeded)
    // past the FLAT knee, Tiled wins unconditionally (measured ×3/×10 on
    // uniform data) — no clustering stat needed, any points regime: the
    // uniform frame's stats inflated to knee-size users must dispatch Tiled
    assert(TrajectorySearch.chooseAutoPath(uniform,
      TrajectorySearch.TrajStats(users = TrajectorySearch.TiledFlatKnee,
        medianPoints = 13.0), cap) == TrajectorySearch.KnnPath.Tiled,
      "knee-sized table → Tiled even uniform and short-trajectory")
    // under TiledMinUsers the stat is never consulted — small clustered
    // tables keep the flat plan (tiled build overhead dominates there)
    val smallClustered = Tables.withSliceBoxes((0L until 60L).map { u =>
      val (cx, cy) = centers((u % 4).toInt)
      (u, Seq.fill(40)(cx + rnd.nextDouble() * 3), Seq.fill(40)(cy + rnd.nextDouble() * 3))
    }.toDF("user_id", "xs", "ys"))
    assert(TrajectorySearch.chooseAutoPath(smallClustered,
      TrajectorySearch.trajStats(smallClustered), cap) == TrajectorySearch.KnnPath.Seeded)

    val flat = TrajectorySearch.knnJoin(clustered, 3, "hausdorff",
        path = TrajectorySearch.KnnPath.Seeded)
      .collect().map(_.toString).toSeq
    val auto = TrajectorySearch.knnJoin(clustered, 3, "hausdorff")
      .collect().map(_.toString).toSeq
    assert(auto == flat, "Auto's tiled dispatch must return the flat answer")
  }

  /** Round-7 ADVICE: a warm session answering repeated Auto kNN calls must
    * not re-pay the two clusterStat jobs — with a cacheKey the stat is
    * computed once per (session, table key). Proven with a poisoned second
    * frame whose evaluation throws: a memo hit never executes it. */
  test("Auto dispatch memoizes the cluster statistic per (session, cacheKey)") {
    val rnd = new scala.util.Random(23)
    val centers = Seq((0.0, 0.0), (500.0, 0.0), (0.0, 500.0), (500.0, 500.0))
    val clustered = Tables.withSliceBoxes((0L until 1000L).map { u =>
      val (cx, cy) = centers((u % 4).toInt)
      (u, Seq.fill(40)(cx + rnd.nextDouble() * 3), Seq.fill(40)(cy + rnd.nextDouble() * 3))
    }.toDF("user_id", "xs", "ys"))
    val st = TrajectorySearch.trajStats(clustered)
    val cap = TrajectorySearch.BruteBroadcastMaxBytes
    graft.util.Memo.clearAll()
    assert(TrajectorySearch.chooseAutoPath(clustered, st, cap,
      Some("memo-test")) == TrajectorySearch.KnnPath.Tiled)
    val boom = udf { (_: Long) =>
      val fail: Seq[Double] =
        throw new RuntimeException("cluster stat recomputed despite cacheKey")
      fail
    }
    val poisoned = spark.range(1000)
      .select($"id".as("user_id"), boom($"id").as("xs"), boom($"id").as("ys"))
    // same key → memo hit → the poisoned frame is never evaluated
    assert(TrajectorySearch.chooseAutoPath(poisoned, st, cap,
      Some("memo-test")) == TrajectorySearch.KnnPath.Tiled)
    graft.util.Memo.clearAll()
  }

  test("brute knnJoin drops the broadcast hint past the size cap (plan fallback, not OOM)") {
    // estArrayBytes: the cap trips at users*(16*pts+100) > 64 MiB
    val small = TrajectorySearch.TrajStats(users = 1500L, medianPoints = 13.0)
    val huge = TrajectorySearch.TrajStats(users = 3000000L, medianPoints = 13.0)
    assert(small.estArrayBytes <= TrajectorySearch.BruteBroadcastMaxBytes)
    assert(huge.estArrayBytes > TrajectorySearch.BruteBroadcastMaxBytes)
  }

  test("trajArraysOf caps a mega-user (SURVEY §7.5 risk 5) and search completes") {
    val mega = (0 until 200000).map(i =>
      (999L, i.toLong, i.toLong, i * 0.001, math.sin(i * 0.01) * 10))
    val normal = (0 until 5).flatMap(u => (0 until 50).map(i =>
      (u.toLong, (i + 1000000).toLong, i.toLong, i * 0.5, u * 20.0 + (i % 7))))
    val p = (mega ++ normal).toDF("user_id", "ts_us", "event_id", "x", "y")
    val ta = Tables.trajArraysOf(p)
    val megaRow = ta.filter($"user_id" === 999L)
      .select(size($"xs"), size($"boxes")).head()
    assert(megaRow.getInt(0) == Tables.MaxTrajPoints, "cap applied")
    assert(megaRow.getInt(1) == 4 * Tables.TrajSlices, "flat [minx,maxx,miny,maxy]*k layout")
    val res = TrajectorySearch.allPairsTopK(ta, 5, "hausdorff").collect()
    assert(res.length == 5)
  }

  /** Round-9 directive 1: the seeded kNN join's corpus-sized frames
    * (qSlim/fat/qFat — in the knnJoin-Seeded self-join they ARE the
    * corpus) must not carry an unconditional broadcast hint. With the cap
    * set tiny EVERY data-sized hint drops (zero ResolvedHints in the
    * analyzed plan — the equi-joins on user_id/q_user fall to shuffle
    * joins) and the answer is unchanged. t9's batch search, a local
    * relation built from two jobs, must give the same answer under the tiny
    * cap and at another input partitioning. */
  test("seeded batch search drops ALL data-sized broadcast hints past the cap — result unchanged") {
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    val ta = Tables.trajArrays(spark, TestSpark.sf0001)
    val qs = Seq(0L, 1L, 2L, 3L, 4L)
    val base = TrajectorySearch.topKBatchPruned(ta, qs, 10, "hausdorff")
      .collect().map(_.toString).toSeq
    val hintedSeeded = TrajectorySearch.knnJoin(ta, 3, "hausdorff",
      path = TrajectorySearch.KnnPath.Seeded)
    assert(hintCount(hintedSeeded) > 0, "under the cap the hints apply")
    val seededBase = hintedSeeded.collect().map(_.toString).toSeq
    withCap("0") {
      val seeded = TrajectorySearch.knnJoin(ta, 3, "hausdorff",
          path = TrajectorySearch.KnnPath.Seeded)
      assert(hintCount(seeded) == 0,
        s"expected zero data-sized hints under a tiny cap, got ${hintCount(seeded)}")
      assert(seeded.collect().map(_.toString).toSeq == seededBase,
        "the guarded knnJoin-Seeded plan must produce identical results")
      assert(TrajectorySearch.topKBatchPruned(ta, qs, 10, "hausdorff")
        .collect().map(_.toString).toSeq == base, "t9 under the tiny cap")
      // a different input partitioning must not change the answer
      val repart = TrajectorySearch
        .topKBatchPruned(ta.repartition(7), qs, 10, "hausdorff")
        .collect().map(_.toString).toSeq
      assert(repart == base)
    }
  }
}
