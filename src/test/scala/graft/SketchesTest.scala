package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DocSimilarity, Sketches}

/** Recall bounds for the randomized sketch operators against their exact
  * counterparts (SURVEY §2.8) — the reference's own "approximate must agree
  * with brute force" methodology.
  */
class SketchesTest extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("minhash LSH candidates recall >= 0.9 of exact Jaccard>=0.6 pairs") {
    val exact = DocSimilarity.nearDupPairs(spark, TestSpark.sf0001)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Sketches.minhashCandidates(spark, TestSpark.sf0001)
      .select($"d1", $"d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val recall = exact.count(cand.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall over ${exact.size} exact pairs")
  }

  test("v14 filtered IVF: every row matches the predicate, recall >= 0.6 vs exact v13, deterministic") {
    val dir = TestSpark.sf001
    def run() = Sketches.annIvfKnnFiltered(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = run()
    val label3 = Tables.table(spark, dir, "embeddings")
      .filter($"label" === 3).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.size == 10, "the filtered shortlist must FILL to k")
    assert(got.forall(g => label3(g._1)),
      "every returned candidate must satisfy the metadata predicate")
    // recall vs the exact filtered baseline (v13's oracle-checked answer)
    val exact = SparkEntry.queries("v13_filtered_knn")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.count(got.map(_._1).toSet).toDouble / exact.size
    assert(recall >= 0.6, s"filtered-IVF recall $recall vs exact v13")
    assert(run() == got, "filtered probe must be deterministic")
  }

  /** Round-9 directive 5: past the literal-cell budget the centers ride a
    * broadcast VARIABLE through a static-invoke kernel instead of an
    * `array(array(lit…))` plan literal — routing must stay bit-identical
    * on both shapes (ties break to the lowest list id on both) and the
    * plan Exchange-free (map-side, zero shuffle). */
  test("ivfRoute: broadcast-kernel shape == literal fold, Exchange-free plan, dispatch by cell budget") {
    val em = Tables.table(spark, TestSpark.sf0001, "embeddings")
    val centers = em.filter($"vec_id" < 4).orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"list_id".cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLiteral = pairs(Sketches.ivfRoute(em, centers)) // 4×64 cells → literal
    assert(viaLiteral.nonEmpty)
    spark.conf.set("spark.graft.ivfRouteLiteralMaxCells", "0")
    try {
      val bk = Sketches.ivfRoute(em, centers) // forced broadcast-kernel shape
      assert(pairs(bk) == viaLiteral, "both shapes must route bit-identically")
      val plan = bk.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"routing must stay map-side:\n$plan")
      assert(plan.contains("IvfRouteKernelStatic.route"), "kernel call in the plan")
    } finally spark.conf.unset("spark.graft.ivfRouteLiteralMaxCells")
    // the explicit broadcast entry point agrees too (no conf needed)
    assert(pairs(Sketches.ivfRouteBroadcast(em, centers)) == viaLiteral)
  }

  test("v4 LSH all-pairs: planted near-dups found, precision 1, recall >= 0.8") {
    // fixture embeddings have no cos >= 0.9 pairs (max ~0.6), so plant them:
    // 20 base vectors each with a tiny-perturbation twin (cos ~ 1.0)
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val base = (0L until 40L).map(i => (i, vec()))
    val twins = (0L until 20L).map(i => (100L + i, base(i.toInt)._2.map(x => x + 0.002f)))
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val exact = graft.operators.VectorOps
      .cosineSelfJoin(df, "vec_id", "embedding", 0.9)
      .select($"id1", $"id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Sketches.lshRefinedPairs(df).filter($"cos_sim" >= 0.9)
      .select($"id1", $"id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20, s"planting failed: ${exact.size}")
    // exact refine on candidates → precision 1 (every emitted pair is real)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact).take(5)}")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall over ${exact.size} exact pairs")
  }

  test("simhash: identical docs collide, fingerprints are deterministic") {
    val sh = Sketches.simhashes(spark, TestSpark.sf0001)
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
      .select($"doc_id", $"text")
    val joined = sh.join(docs, "doc_id")
      .select($"text", $"simhash").collect()
      .groupBy(_.getString(0)).values
    joined.foreach { rows =>
      assert(rows.map(_.getLong(1)).toSet.size == 1, "same text must give same simhash")
    }
    val again = Sketches.simhashes(spark, TestSpark.sf0001)
      .orderBy($"doc_id").collect().map(_.toString).toSeq
    val first = sh.orderBy($"doc_id").collect().map(_.toString).toSeq
    assert(again == first)
  }

  /** Round-8 directive #2: incremental IVF ingestion — append must equal a
    * one-shot assignment against the same frozen centers, never refit the
    * quantizer, route with a single batch-side scan, and keep the probe's
    * recall bound over the appended index. */
  test("v10 IVF append: delta ≡ one-shot routing, no refit on reload, single-scan route, recall holds") {
    import graft.operators.VectorOps
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx-ivfapp").toString
    spark.conf.set("graft.index.dir", tmp)
    try {
      graft.util.Memo.clearAll()
      val fits0 = Sketches.ivfFits.get()
      val (idx, delta, all) = Sketches.ivfIncremental(spark, TestSpark.sf0001)
      assert(Sketches.ivfFits.get() == fits0 + 1, "cold build fits exactly once")
      assert(!idx.fromArtifact)

      // (a) append ≡ one-shot: routing ALL vectors against the same frozen
      // centers reproduces corpus ∪ delta vector-for-vector
      val em = Tables.table(spark, TestSpark.sf0001, "embeddings")
      def pairs(df: org.apache.spark.sql.DataFrame) = df
        .select($"vec_id", $"list_id".cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val oneshot = pairs(Sketches.ivfRoute(em, idx.centers))
      assert(pairs(all) == oneshot, "append path must equal one-shot assignment")
      assert(delta.select($"vec_id").as[Long].collect().forall(_ % 10 == 0),
        "delta holds exactly the batch members")
      assert(all.count() == em.count())

      // (c) warm "next session": both artifacts serve — no k-means refit,
      // no corpus rescan
      graft.util.Memo.clearAll()
      val (idx2, _, all2) = Sketches.ivfIncremental(spark, TestSpark.sf0001)
      assert(Sketches.ivfFits.get() == fits0 + 1, "artifact reload must not refit")
      assert(idx2.fromArtifact)
      assert(pairs(all2) == oneshot)

      // routing scans ONLY the batch: one parquet scan in the plan (the
      // centers ride a broadcast local relation)
      val routePlan = Sketches.ivfRoute(em.filter($"vec_id" % 10 === 0), idx2.centers)
        .queryExecution.executedPlan.toString
      assert(routePlan.linesIterator.count(l =>
        l.contains("Scan") && l.contains("parquet")) == 1, routePlan)

      // (b) probe recall over the APPENDED index vs exact v1 (query 0 is a
      // batch member): coarse-route the query, scan nprobe lists of the
      // union assignment, exact cosine top-10
      val qEmb = em.filter($"vec_id" === 0L).select($"embedding")
        .collect().head.getSeq[Float](0)
      val qArr = qEmb.map(_.toDouble).toArray
      val probeLists = idx2.centers.zipWithIndex
        .map { case (c, i) =>
          (i, c.zip(qArr).map { case (x, y) => val t = x - y; t * t }.sum)
        }
        .sortBy { case (i, d) => (d, i) }.take(8).map(_._1.toLong)
      val approx = all2
        .filter($"vec_id" =!= 0L && $"list_id".cast("long").isInCollection(probeLists))
        .select($"vec_id",
          (VectorOps.dot($"embedding", typedLit(qEmb)) /
            (sqrt(VectorOps.norm2Col("embedding")) *
              sqrt(typedLit(qEmb.map(x => x.toDouble * x.toDouble).sum)))).as("cs"))
        .orderBy($"cs".desc, $"vec_id").limit(10)
        .select($"vec_id").as[Long].collect().toSet
      val exact = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
        .select($"vec_id").as[Long].collect().toSet
      val recall = exact.count(approx.contains).toDouble / exact.size
      assert(recall >= 0.7, s"post-append probe recall $recall")

      // the declared query is deterministic within a session and covers
      // every list that received vectors
      val q1 = SparkEntry.queries("v10_ivf_append")(spark, TestSpark.sf0001)
        .collect().map(_.toString).toSeq
      val q2 = SparkEntry.queries("v10_ivf_append")(spark, TestSpark.sf0001)
        .collect().map(_.toString).toSeq
      assert(q1 == q2 && q1.nonEmpty)
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  /** Round-8 directive #4: SemDeDup-shape semantic dedup — planted twins
    * must be dropped with exact parity to the all-pairs keep-one rule at a
    * high threshold (twins colocate in one cluster), and the declared
    * query must be deterministic over the fixture. */
  test("v15 CDC-consistent serving: served ≡ head routing, purged absent, re-inserts at latest embedding") {
    val dir = TestSpark.sf001
    val gt = graft.sources.GraftTable
    val tdir = Sketches.embCdcTable(spark, dir)
    val head = gt.currentVersion(tdir).get
    val (idx, served) = Sketches.ivfServeTableCdc(spark, tdir, 0, head)
    val got = served.select($"vec_id", $"list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet

    // THE contract: the fold over the feed ≡ routing the head snapshot's
    // full content under the SAME frozen centers (which is what a rebuild
    // would serve — but the fold only ever touched the feed)
    val want = Sketches.ivfRoute(
        gt.read(spark, tdir).select($"vec_id", $"embedding"), idx.centers)
      .select($"vec_id", $"list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == want, s"served ${got.size} != head-routed ${want.size}")

    // purged ids (deleted, never re-inserted) must be absent
    assert(!got.exists { case (id, _) => id % 7 == 3 && id % 10 != 5 },
      "a purged vector must never surface from the served index")
    // deleted-then-re-embedded ids (≡ 35 mod 70) must be present
    val revived = got.collect { case (id, l) if id % 70 == 35 => id -> l }.toMap
    assert(revived.nonEmpty, "fixture must exercise delete-then-reinsert")
    // re-embedded members route at their SHIFTED embedding: at least one
    // re-embedded id must land on a different list than its v0 routing
    val v0Routed = idx.assigned.filter($"vec_id" % 10 === 5)
      .select($"vec_id", $"list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val moved = got.collect { case (id, l)
      if id % 10 == 5 && v0Routed.get(id).exists(_ != l) => id }
    assert(moved.nonEmpty,
      "the affine shift should move at least one re-embedded vector's list")
    // warm path: index reloads from the artifact, no re-fit
    graft.util.Memo.clearAll()
    val (idx2, served2) = Sketches.ivfServeTableCdc(spark, tdir, 0, head)
    assert(idx2.fromArtifact, "warm serve must reload the corpus artifact")
    assert(served2.select($"vec_id", $"list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet == got)
  }

  test("d15 semantic dedup: planted twins dropped with exact keep-one parity") {
    import graft.operators.{Sketches, VectorOps}
    val rnd = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val base = (0L until 40L).map(i => (i, vec()))
    val twins = (0L until 20L).map(i => (100L + i, base(i.toInt)._2.map(x => x + 0.002f)))
    val df = (base ++ twins).toDF("vec_id", "embedding")
    // arbitrary frozen centers — a twin pair (cos ≈ 1) always routes to one
    // cluster, so the within-cluster enumeration must equal all-pairs here
    val crnd = new scala.util.Random(7)
    val centers = Array.fill(4, 64)(crnd.nextGaussian())
    val assigned = Sketches.ivfRoute(df, centers)

    val dropped = Sketches.semanticDedupOver(assigned, 0.9)
      .select($"vec_id").as[Long].collect().toSet
    // exact keep-one over ALL pairs: drop v iff some u < v has cos ≥ 0.9
    val exactDrop = VectorOps.cosineSelfJoin(df, "vec_id", "embedding", 0.9)
      .select($"id2").as[Long].collect().toSet
    assert(exactDrop.size >= 20, s"planting failed: ${exactDrop.size}")
    assert(dropped == exactDrop,
      s"within-cluster dedup must match all-pairs keep-one: " +
        s"missing ${exactDrop.diff(dropped).take(5)}, extra ${dropped.diff(exactDrop).take(5)}")

    // declared summary: deterministic, covers every cluster, reuses the
    // build-once IVF index (no second fit in-session)
    val q1 = SparkEntry.queries("d15_semantic_dedup")(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq
    val q2 = SparkEntry.queries("d15_semantic_dedup")(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq
    assert(q1 == q2 && q1.nonEmpty)
  }

  test("v11 incremental semantic gate: planted twins rejected, cross-only pairs == exact, deterministic summary") {
    val rnd = new scala.util.Random(23)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val corpusRows = (0L until 40L).map(i => (i, vec()))
    // batch: 15 near-twins of corpus members (must be rejected) + 10 fresh
    // random vectors (pairwise |cos| ≪ 0.9 w.h.p. at dim 64 — admitted)
    val twins = (0L until 15L).map(i =>
      (100L + i, corpusRows(i.toInt)._2.map(x => x + 0.002f)))
    val fresh = (0L until 10L).map(i => (200L + i, vec()))
    val crnd = new scala.util.Random(5)
    val centers = Array.fill(4, 64)(crnd.nextGaussian())
    val corpusA = Sketches.ivfRoute(corpusRows.toDF("vec_id", "embedding"), centers)
    val batchA = Sketches.ivfRoute((twins ++ fresh).toDF("vec_id", "embedding"), centers)

    val pairs = Sketches.crossSemanticPairs(corpusA, batchA, 0.9)
    val rejected = pairs.select($"new_id").as[Long].collect().toSet
    val olds = pairs.select($"old_id").as[Long].collect().toSet
    assert(olds.forall(_ < 100L) && rejected.forall(_ >= 100L),
      "cross pairs only: old side from the corpus, new side from the batch")
    // a twin routes WITH its source (cos ≈ 1 ⇒ same argmin centroid), so
    // the within-cluster enumeration must equal exact all-cross-pairs here
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val exact = (for {
      (_, cv) <- corpusRows; (bi, bv) <- twins ++ fresh
      if cos(cv, bv) >= 0.9
    } yield bi).toSet
    assert(exact.size == 15, s"planting failed: ${exact.size}")
    assert(rejected == exact,
      s"gate must equal exact cross keep-out: missing ${exact.diff(rejected).take(5)}, " +
        s"extra ${rejected.diff(exact).take(5)}")

    // declared form on the frozen fixture: covers the whole batch, is
    // deterministic, and reuses the session's single IVF fit
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx-v11").toString
    spark.conf.set("graft.index.dir", tmp)
    try {
      graft.util.Memo.clearAll()
      val q1 = SparkEntry.queries("v11_semantic_gate")(spark, TestSpark.sf0001)
        .collect()
      val q2 = SparkEntry.queries("v11_semantic_gate")(spark, TestSpark.sf0001)
        .collect()
      assert(q1.map(_.toString).toSeq == q2.map(_.toString).toSeq && q1.nonEmpty)
      val nNew = q1.map(_.getLong(1)).sum
      val wantNew = Tables.table(spark, TestSpark.sf0001, "embeddings")
        .filter($"vec_id" % 10 === 0).count()
      assert(nNew == wantNew, s"summary must cover the whole batch: $nNew != $wantNew")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("PQ batch encode against frozen codebooks == the full build's codes (codes-side delta)") {
    val idx = Sketches.buildPqIndex(spark, TestSpark.sf0001)
    val em = Tables.table(spark, TestSpark.sf0001, "embeddings")
    val batch = em.filter($"vec_id" % 10 === 0)
    def codesOf(df: org.apache.spark.sql.DataFrame) = df
      .select($"vec_id", $"codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toMap
    val delta = codesOf(Sketches.pqEncodeBatch(spark, idx, batch))
    val full = codesOf(idx.codes.filter($"vec_id" % 10 === 0))
    assert(delta.nonEmpty && delta == full,
      "frozen-codebook batch encode must be byte-identical to the full build")
    // the encode scans ONLY the batch (codebooks ride a broadcast)
    val p = Sketches.pqEncodeBatch(spark, idx, batch)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(l => l.contains("Scan") && l.contains("parquet")) == 1, p)
  }

  test("ann IVF knn recall >= 0.7 of exact brute-force top-10") {
    val exact = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val approx = Sketches.annIvfKnn(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.7, s"IVF recall $recall")
  }

  test("minhash hot-bucket cap: generous cap changes nothing; tight cap only removes pairs") {
    val uncapped = Sketches.minhashCandidates(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSet
    val generous = Sketches.minhashCandidates(spark, TestSpark.sf0001, maxBucketSize = 100000)
      .collect().map(_.toString).toSet
    assert(generous == uncapped)
    val tight = Sketches.minhashCandidates(spark, TestSpark.sf0001, maxBucketSize = 3)
      .collect().map(_.toString).toSet
    assert(tight.subsetOf(uncapped), "cap may only drop candidates, never invent them")
  }

  test("batch IVF knn: singleton batch equals single-query IVF; per-query recall holds") {
    val single = Sketches.annIvfKnn(spark, TestSpark.sf0001, 0L)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val batchOne = Sketches.annIvfKnnBatch(spark, TestSpark.sf0001, Seq(0L))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(batchOne == single, "relational probe selection must match driver-side selection")

    // multi-query: every query's ANN set overlaps its exact brute-force set
    val em = Tables.table(spark, TestSpark.sf0001, "embeddings")
    val batch = Sketches.annIvfKnnBatch(spark, TestSpark.sf0001, Seq(0L, 1L, 2L))
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    for (qid <- Seq(0L, 1L, 2L)) {
      val qEmb = em.filter($"vec_id" === qid).select($"embedding").head().getSeq[Float](0)
      val exact = em.filter($"vec_id" =!= qid)
        .select($"vec_id",
          (graft.operators.VectorOps.dot($"embedding", typedLit(qEmb)) /
            (sqrt(graft.operators.VectorOps.norm2Col("embedding")) *
              sqrt(typedLit(qEmb.map(x => x.toDouble * x.toDouble).sum)))).as("cs"))
        .orderBy($"cs".desc, $"vec_id").limit(10)
        .select($"vec_id").as[Long].collect().toSet
      val recall = exact.count(batch(qid).contains).toDouble / exact.size
      assert(recall >= 0.7, s"query $qid recall $recall")
    }
  }

  test("ann LSH knn recall >= 0.7 of exact brute-force top-10") {
    val exact = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val approx = Sketches.annCosineKnn(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.7, s"ANN recall $recall")
  }

  test("ann IVF-PQ composite knn recall >= 0.6 of exact top-10; deterministic; ⊆ probed lists") {
    val exact = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val approx = Sketches.annIvfPqKnn(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    // two approximations stack (coarse routing may drop a list the pure-PQ
    // scan would keep), so the floor is below the single-index 0.7 bounds
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.6, s"IVF-PQ recall $recall")
    val a = Sketches.annIvfPqKnn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
    val b = Sketches.annIvfPqKnn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
    assert(a == b)
    // emitted similarities are exact (same re-rank contract as pure PQ)
    val bf = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Sketches.annIvfPqKnn(spark, TestSpark.sf0001).collect().foreach { r =>
      bf.get(r.getLong(0)).foreach(c => assert(c == r.getDouble(1)))
    }
  }

  test("ann PQ/ADC knn recall >= 0.7 of exact brute-force top-10; deterministic") {
    val exact = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val approx = Sketches.annPqKnn(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall $recall")
    // seeded codebooks: a second run is bit-identical
    val a = Sketches.annPqKnn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
    val b = Sketches.annPqKnn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
    assert(a == b)
    // every emitted similarity is exact: re-rank shortlist must agree with
    // the brute-force cosine for the ids it returns
    val bf = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Sketches.annPqKnn(spark, TestSpark.sf0001).collect().foreach { r =>
      bf.get(r.getLong(0)).foreach(c => assert(c == r.getDouble(1)))
    }
  }

  test("v12 SQ8 ann: recall >= 0.8 of exact top-10, bit-identical re-runs, rerank parity, artifact round-trip") {
    val exact = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val approx = Sketches.annSqKnn(spark, TestSpark.sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall $recall")
    // deterministic (no seeds anywhere): re-runs are bit-identical
    val a = Sketches.annSqKnn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
    val b = Sketches.annSqKnn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
    assert(a == b)
    // every emitted similarity is exact (rerank parity with brute force)
    val bf = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Sketches.annSqKnn(spark, TestSpark.sf0001).collect().foreach { r =>
      bf.get(r.getLong(0)).foreach(c => assert(c == r.getDouble(1)))
    }
    // bounds + codes persist: a cache-cleared session LOADS and answers identically
    val tmpIdx = java.nio.file.Files.createTempDirectory("graft-idx-sq").toString
    spark.conf.set("graft.index.dir", tmpIdx)
    try {
      graft.util.Memo.clearAll()
      val built = Sketches.annSqKnn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
      assert(!Sketches.buildSqIndex(spark, TestSpark.sf0001).fromArtifact)
      graft.util.Memo.clearAll()
      val loaded = Sketches.annSqKnn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
      assert(Sketches.buildSqIndex(spark, TestSpark.sf0001).fromArtifact,
        "second session must load the artifact, not rebuild")
      assert(built == loaded)
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  /** d18's declared verification (SURVEY §2.8): no oracle, so the contract
    * is (a) rejections ⊆ the exact gate's (verification kills false
    * positives), (b) recall ≥ 0.95 vs exact, (c) planted twins caught,
    * (d) the banded corpus index is a build-once artifact that survives a
    * batch append (the d14 keying contract, same fixture machinery). */
  test("d18 minhash ingest gate: rejections subset-of exact, recall >= 0.95, planted twins, build-once index") {
    val olds = (0 to 9).map(i => s"src$i")
    val exact = DocSimilarity.incrementalNearDups(spark, TestSpark.sf0001, olds)
      .select($"new_id").distinct().as[Long].collect().toSet
    val lsh = Sketches.minhashIngestGate(spark, TestSpark.sf0001, olds)
      .select($"new_id").as[Long].collect().toSet
    assert(exact.nonEmpty, "fixture must contain cross near-dups")
    assert(lsh.subsetOf(exact),
      s"false positives impossible after exact verification: ${lsh.diff(exact).take(5)}")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall over ${exact.size} exact rejections")

    // planted twins: clone 10 corpus docs under a NEW source — J=1.0 pairs
    // must all be rejected through the banded index
    import java.nio.file.{Files, Paths}
    val data = Files.createTempDirectory("graft-d18").toString
    Files.createDirectory(Paths.get(s"$data/documents.parquet"))
    Files.copy(Paths.get(s"${TestSpark.sf0001}/documents.parquet"),
      Paths.get(s"$data/documents.parquet/part-00000.parquet"))
    val twins = Tables.table(spark, data, "documents")
      .filter($"source" === "src0").limit(10)
      .select(($"doc_id" + 500000L).as("doc_id"), $"text", $"lang",
        lit("src_twin").as("source"), $"n_chars")
    val twinIds = twins.select($"doc_id").as[Long].collect().toSet
    val tmp = Files.createTempDirectory("graft-d18-twin")
    twins.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p => p.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, Paths.get(s"$data/documents.parquet/part-00001.parquet"))

    val tmpIdx = Files.createTempDirectory("graft-idx-d18").toString
    spark.conf.set("graft.index.dir", tmpIdx)
    try {
      def reset(): Unit = graft.util.Memo.clearAll()
      reset()
      val builds0 = Sketches.mhIndexBuilds.get()
      val rejected1 = Sketches.minhashIngestGate(spark, data, olds)
        .as[Long].collect().toSet
      assert(Sketches.mhIndexBuilds.get() == builds0 + 1, "first call builds")
      assert(twinIds.subsetOf(rejected1),
        s"planted J=1.0 twins must all be rejected: missing ${twinIds.diff(rejected1)}")

      // append MORE batch rows (non-roster source): index must be reused
      val more = Tables.table(spark, data, "documents")
        .filter($"source" === "src0").limit(3)
        .select(($"doc_id" + 600000L).as("doc_id"), $"text", $"lang",
          lit("src_twin2").as("source"), $"n_chars")
      val moreIds = more.select($"doc_id").as[Long].collect().toSet
      val tmp2 = Files.createTempDirectory("graft-d18-more")
      more.coalesce(1).write.mode("overwrite").parquet(tmp2.toString)
      val part2 = Files.list(tmp2).filter(p => p.toString.endsWith(".parquet")).findFirst().get
      Files.move(part2, Paths.get(s"$data/documents.parquet/part-00002.parquet"))
      reset()
      val rejected2 = Sketches.minhashIngestGate(spark, data, olds)
        .as[Long].collect().toSet
      assert(Sketches.mhIndexBuilds.get() == builds0 + 1,
        "batch append must REUSE the banded corpus index (no rebuild)")
      assert(rejected1.subsetOf(rejected2) && moreIds.subsetOf(rejected2),
        "appended twins rejected too, earlier verdicts unchanged")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("dim parameterization: IVF + SQ8 + PQ hold at dim 8 and dim 96; divisibility refuses clearly") {
    import java.nio.file.Files
    // synthetic clustered fixture at an arbitrary dim: 4 unit prototypes,
    // 48 vectors each with a small id-seeded perturbation, unit-normalized
    // — same schema as the shipped embeddings table
    def writeFixture(dim: Int): String = {
      val data = Files.createTempDirectory(s"graft-dim$dim").toString
      val rnd = new scala.util.Random(dim)
      val protos = Array.fill(4)(Array.fill(dim)(rnd.nextGaussian()))
        .map { p => val n = math.sqrt(p.map(x => x * x).sum); p.map(x => x / n) }
      val rows = (0L until 192L).map { id =>
        val c = (id % 4).toInt
        val v = protos(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
        val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        (id, v.map(_ / n).toSeq, c)
      }
      rows.toDF("vec_id", "embedding", "label")
        .coalesce(1).write.parquet(s"$data/embeddings.parquet")
      data
    }
    def bruteTop10(dir: String): Set[Long] = {
      val rows = Tables.table(spark, dir, "embeddings").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val q = rows.find(_._1 == 0L).get._2
      rows.filter(_._1 != 0L)
        .map { case (id, v) => id -> v.zip(q).map { case (a, b) => a.toDouble * b }.sum }
        .sortBy { case (id, d) => (-d, id) }.take(10).map(_._1).toSet
    }
    for ((dim, m) <- Seq((8, 4), (96, 16))) {
      val dir = writeFixture(dim)
      try {
        val exact = bruteTop10(dir)
        // IVF: centers at the inferred dim, every vector assigned, recall holds
        val ivf = Sketches.buildIvfIndex(spark, dir, nlist = 4)
        assert(ivf.centers.length == 4 && ivf.centers.forall(_.length == dim))
        assert(ivf.assigned.count() == 192)
        val gotIvf = Sketches.annIvfKnn(spark, dir, nprobe = 3)
          .collect().map(_.getLong(0)).toSet
        assert(exact.count(gotIvf.contains) >= 7, s"dim $dim IVF recall")
        // PQ: codebooks m × k × dim/m, ADC knn fills and recalls
        val pq = Sketches.buildPqIndex(spark, dir, m = m, k = 8)
        assert(pq.codebooks.length == m &&
          pq.codebooks.forall(_.forall(_.length == dim / m)))
        val gotPq = Sketches.annPqKnn(spark, dir, m = m, kCodes = 8)
          .collect().map(_.getLong(0)).toSet
        assert(gotPq.size == 10 && exact.count(gotPq.contains) >= 7,
          s"dim $dim PQ recall: ${exact.count(gotPq.contains)}")
        // SQ8: per-dimension bounds at the inferred dim, recall holds
        val sq = Sketches.buildSqIndex(spark, dir)
        assert(sq.lo.length == dim && sq.hi.length == dim)
        val gotSq = Sketches.annSqKnn(spark, dir)
          .collect().map(_.getLong(0)).toSet
        assert(exact.count(gotSq.contains) >= 8, s"dim $dim SQ8 recall")
        // fractional subDim must refuse with a clear diagnostic
        val e = intercept[IllegalArgumentException] {
          Sketches.buildPqIndex(spark, dir, m = 5, k = 8)
        }
        assert(e.getMessage.contains("must divide"), e.getMessage)
      } finally graft.util.Memo.clearAll()
    }
  }
}
