package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale spot-check for the heavy query family (BASELINE.md "scale
  * spot-check" table): generates ×3 / ×10 copies of sf0.1 by shifting
  * entity ids (same distributional shape, same points/trajectory — user and
  * document COUNT scale), times t2 / t17 / t21(both paths) / d8 at each
  * factor, and measures the t21 brute-vs-seeded crossover against
  * points-per-trajectory at fixed user count. One JSON line per
  * measurement on stdout.
  *
  * A tool, not a test: run once per round on demand —
  * `sbt "runMain graft.ScaleSmoke"`. Timings are single-shot (the queries
  * of interest run seconds-to-minutes; box noise is documented in
  * BASELINE.md).
  */
object ScaleSmoke {
  private val Base = "/root/testdata/sf0.1"
  private val Out = "/tmp/graft_scale"

  private def scaledDir(spark: SparkSession, factor: Int): String = {
    val dir = s"$Out/x$factor"
    val marker = new java.io.File(s"$dir/events.parquet/_SUCCESS")
    if (marker.exists()) return dir
    val ev = spark.read.parquet(s"$Base/events.parquet")
    val docs = spark.read.parquet(s"$Base/documents.parquet")
    // id shifts DERIVED from the data (max id + 1), never assumed: a fixture
    // whose id space outgrew a hardcoded shift would silently collide copies
    // and merge trajectories/documents, corrupting every measurement built
    // on these dirs
    val userShift = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    val eventShift = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val docShift = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    // k shifted copies: user/doc ids stay dense and distinct per copy; the
    // copy's events keep their timestamps, so per-user trajectories are
    // exact clones — user COUNT scales, kernel cost per pair does not
    val evScaled = (0 until factor).map { k =>
      ev.select((col("event_id") + lit(k * eventShift)).as("event_id"), col("ts"),
        (col("user_id") + lit(k * userShift)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)
    val docScaled = (0 until factor).map { k =>
      docs.select((col("doc_id") + lit(k * docShift)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
    evScaled.write.mode("overwrite").parquet(s"$dir/events.parquet")
    docScaled.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def time(f: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val rows = f
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  private def report(name: String, factor: String, sec: Double, rows: Long): Unit =
    println(f"""{"measure":"$name","scale":"$factor","sec":$sec%.2f,"rows":$rows}""")

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", "48g")
      // raw events read (TIMESTAMP(NANOS) → int64) happens before Tables
      // gets a chance to set it
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.TrajectorySearch
    import graft.operators.TrajectorySearch.KnnPath

    // modes (args): "queries" = heavy declared queries per factor;
    // "knn xN [paths]" = t21 paths at one factor; "crossover" = the
    // points-per-trajectory sweep; "table" = versioned-table ingest
    // (create/append/changelog/probe per factor). No args = everything.
    val mode = args.headOption.getOrElse("all")

    if (mode == "all" || mode == "queries") for (f <- Seq(1, 3, 10)) {
      val dir = if (f == 1) Base else scaledDir(spark, f)
      for (q <- Seq("t2_hausdorff_pairs", "t17_comovement", "d8_span_dedup")) {
        val (sec, rows) = time(SparkEntry.queries(q)(spark, dir).count())
        report(q, s"x$f", sec, rows)
      }
    }

    // incremental-dedup probe scaling (d14's engine shape): the NEW batch
    // stays FIXED (the base copy's src10–19 docs) while the existing corpus
    // (src0–9, all copies) grows ×k — the cross probe must track the batch,
    // not the corpus (index side grows, probe side doesn't; cost should be
    // ~linear in k from index build alone, never k²)
    if (mode == "all" || mode == "incr") {
      val oldSrcs = (0 to 9).map(i => s"src$i")
      val baseMax = spark.read.parquet(s"$Base/documents.parquet")
        .agg(max(col("doc_id"))).head().getLong(0)
      for (f <- Seq(1, 3, 10)) {
        val dir = if (f == 1) Base else scaledDir(spark, f)
        val srcMap = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("source"))
        val toks = graft.operators.DocSimilarity.distinctTokens(spark, dir)
        val corpus = toks.join(
          srcMap.filter(col("source").isin(oldSrcs: _*)).select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        val batch = toks.join(
          srcMap.filter(!col("source").isin(oldSrcs: _*) && col("doc_id") <= baseMax)
            .select(col("doc_id")),
          Seq("doc_id"), "left_semi")
        val (sec, rows) = time(
          graft.operators.DocSimilarity.crossJaccardPairs(corpus, batch, 3, 5).count())
        report("incr_probe", s"x$f", sec, rows)
      }
    }

    // d18 banded-minhash gate at growing corpus (round-9): fixed base
    // batch, corpus grown ×k. Two measurements per factor: build+probe
    // (cold — the index build is corpus-linear, a one-time cost), and
    // probe-only against the persisted artifact (the daily-ingest number;
    // grows only through bucket-candidate volume — the ×k dirs clone each
    // corpus match k times, so candidates scale ~×k here by construction,
    // NOT through any corpus-sized pair space).
    if (mode == "all" || mode == "mh") {
      import graft.operators.{DocSimilarity, Sketches}
      val oldSrcs = (0 to 9).map(i => s"src$i")
      val baseMax = spark.read.parquet(s"$Base/documents.parquet")
        .agg(max(col("doc_id"))).head().getLong(0)
      val idxRoot = java.nio.file.Files.createTempDirectory("graft-mh-scale").toString
      spark.conf.set("graft.index.dir", idxRoot)
      try for (f <- Seq(1, 3, 10)) {
        val dir = if (f == 1) Base else scaledDir(spark, f)
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val corpus = docs.filter(col("source").isin(oldSrcs: _*))
        val batch = docs.filter(!col("source").isin(oldSrcs: _*)
          && col("doc_id") <= baseMax)
        val toks = DocSimilarity.distinctTokens(spark, dir)
        val key = s"mh-scale-x$f"
        val (cold, rows) = time(
          Sketches.minhashCrossGate(spark, corpus, batch, toks, Some(key)).count())
        report("mh_gate_build_probe", s"x$f", cold, rows)
        val (warm, rows2) = time(
          Sketches.minhashCrossGate(spark, corpus, batch, toks, Some(key)).count())
        report("mh_gate_probe", s"x$f", warm, rows2)
        val (candSec, candRows) = time(
          Sketches.minhashCrossCandidates(spark, corpus, batch, Some(key),
            collisions = true).count())
        report("mh_probe_candidates", s"x$f", candSec, candRows)
        val (hot, rows3) = time(
          Sketches.minhashCrossGate(spark, corpus, batch, toks, Some(key)).count())
        report("mh_gate_probe_hot", s"x$f", hot, rows3)
      } finally spark.conf.unset("graft.index.dir")
    }

    // t28 spatial ingest gate at growing corpus (round-9): the arriving
    // batch stays FIXED (the base copy's user_id % 5 == 0 trajectories)
    // while the corpus grows ×k. The probe is one slim corpus bound-scan
    // per batch (cross-only) — cost should track the corpus LINEARLY
    // (bound rows ×k, kernel survivors ×k since copies clone close pairs),
    // never a pair-space blowup. trajArrays is pre-warmed so the timing is
    // the probe, not the per-dir array-artifact build.
    if (mode == "all" || mode == "traj") {
      val baseUserMax = spark.read.parquet(s"$Base/events.parquet")
        .agg(max(col("user_id"))).head().getLong(0)
      for (f <- Seq(1, 3, 10)) {
        val dir = if (f == 1) Base else scaledDir(spark, f)
        val ta = Tables.trajArrays(spark, dir)
        ta.count() // warm the per-dir trajectory-array artifact
        val corpus = ta.filter(col("user_id") % 5 =!= 0)
        val batch = ta.filter(col("user_id") % 5 === 0
          && col("user_id") <= baseUserMax)
        val (sec, rows) = time(
          TrajectorySearch.epsilonGate(corpus, batch, 11.0).count())
        report("traj_gate_probe", s"x$f", sec, rows)
      }
    }

    // stage-level timing of the d18 probe at one factor (diagnosis tool):
    // candidates alone vs full gate, plus the token-distinct cost
    if (mode == "mhdebug") {
      import graft.operators.{DocSimilarity, Sketches}
      val oldSrcs = (0 to 9).map(i => s"src$i")
      val f = args.lift(1).map(_.toInt).getOrElse(10)
      val baseMax = spark.read.parquet(s"$Base/documents.parquet")
        .agg(max(col("doc_id"))).head().getLong(0)
      val dir = if (f == 1) Base else scaledDir(spark, f)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(col("source").isin(oldSrcs: _*))
      val batch = docs.filter(!col("source").isin(oldSrcs: _*)
        && col("doc_id") <= baseMax)
      val toks = DocSimilarity.distinctTokens(spark, dir)
      val k = args.lift(2).map(_.toInt).getOrElse(16)
      val b = args.lift(3).map(_.toInt).getOrElse(8)
      val (tSec, tRows) = time(toks.count())
      report("mhdbg_toks_distinct", s"x$f", tSec, tRows)
      val (cSec, cRows) = time(
        Sketches.minhashCrossCandidates(spark, corpus, batch, None, k, b,
          collisions = true).count())
      report(s"mhdbg_candidates_k${k}b$b", s"x$f", cSec, cRows)
      val (rSec, rRows) = time(
        graft.operators.Rank.topKPerGroup(
          Sketches.minhashCrossCandidates(spark, corpus, batch, None, k, b,
            collisions = true),
          Seq(col("new_id")), Seq(col("nb").desc, col("old_id").asc), 16).count())
      report(s"mhdbg_ranked_k${k}b$b", s"x$f", rSec, rRows)
      val (gSec, gRows) = time(
        Sketches.minhashCrossGate(spark, corpus, batch, toks, None, k, b).count())
      report(s"mhdbg_gate_k${k}b$b", s"x$f", gSec, gRows)
    }

    // d3 pair-set build + d6 star-contraction components at growing corpus
    // size (round-8 directive #5): the ×k dirs duplicate every text k
    // times, so near-dup CLIQUES grow ~k² pairs while docs grow ×k — the
    // stress case for both the pair build (mask-group explode) and the
    // contraction round count. d6 runs after the build so its timing is
    // the components machinery alone (pair set memoized).
    if (mode == "all" || mode == "cc") for (f <- Seq(1, 3, 10)) {
      val dir = if (f == 1) Base else scaledDir(spark, f)
      graft.util.Memo.clearAll()
      val (bSec, pairRows) = time(
        graft.operators.DocSimilarity.nearDupPairs(spark, dir).count())
      report("d3_pair_build", s"x$f", bSec, pairRows)
      val (cSec, ccRows) = time(
        SparkEntry.queries("d6_dedup_groups")(spark, dir).count())
      report("d6_components", s"x$f", cSec, ccRows)
    }

    // versioned-table ingest scaling (round-8 table layer): the corpus
    // (src0–9, all copies) is snapshot v0 of a GraftTable; the FIXED base
    // batch (src10–19) arrives as one append commit. The claims under
    // measurement: append commit cost and the changelog read track the
    // BATCH (flat in ×k), create tracks the corpus (linear — it writes
    // it), and the d16 probe behaves like d14's (the same cross core,
    // keyed by table@v0 instead of a content scan).
    if (mode == "all" || mode == "table") {
      import graft.sources.GraftTable
      // fresh artifact root per run so a previous run's table@v0 mask
      // can't serve this run's probe timing
      spark.conf.set("graft.index.dir", s"$Out/table_idx_${System.nanoTime()}")
      val oldSrcs = (0 to 9).map(i => s"src$i")
      val baseMax = spark.read.parquet(s"$Base/documents.parquet")
        .agg(max(col("doc_id"))).head().getLong(0)
      def rmrf(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rmrf)); p.delete(); ()
      }
      for (f <- Seq(1, 3, 10)) {
        val dir = if (f == 1) Base else scaledDir(spark, f)
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val tdir = s"$Out/table_x$f"
        rmrf(new java.io.File(tdir))
        val corpus = docs.filter(col("source").isin(oldSrcs: _*))
        val batch = docs.filter(!col("source").isin(oldSrcs: _*)
          && col("doc_id") <= baseMax)
        val (cSec, cRows) = time {
          GraftTable.create(spark, tdir, corpus, Seq("doc_id"))
          GraftTable.read(spark, tdir).count()
        }
        report("table_create", s"x$f", cSec, cRows)
        val (aSec, _) = time(
          GraftTable.append(spark, tdir, batch, Seq("doc_id")).toLong)
        report("table_append", s"x$f", aSec,
          GraftTable.manifest(tdir, 1).files.size.toLong)
        val (rSec, rRows) = time(GraftTable.readChanges(spark, tdir, 0, 1).count())
        report("table_changelog", s"x$f", rSec, rRows)
        graft.util.Memo.clearAll()
        val (pSec, pRows) = time(graft.operators.DocSimilarity
          .incrementalNearDupsTable(spark, tdir, 0, 1).count())
        report("table_probe", s"x$f", pSec, pRows)
        // copy-on-write delete, WORST case: a ~10% drop set spread across
        // every file (all files rewrite). The touched-files-only claim is
        // contract-tested; this measures the full-rewrite ceiling.
        val (dSec, dSurv) = time {
          GraftTable.deleteKeys(spark, tdir, "doc_id",
            docs.filter(col("doc_id") % 10 === 5).select("doc_id"), Seq("doc_id"))
          GraftTable.read(spark, tdir).count()
        }
        report("table_delete", s"x$f", dSec, dSurv)
      }
    }

    // change-feed scaling (round-10): FIXED mutation slice (base-copy ids
    // only — the shifted ×k copies never match), corpus grown ×k. The
    // delete/update pay one column-pruned corpus scan for the touched-file
    // probe (linear but cheap) plus a rewrite + sidecar bounded by the
    // TOUCHED files; the feed read must track the FEED (sidecar rows),
    // never the corpus — the flat curve that makes CDC consumers viable
    // at 100 TB.
    if (mode == "all" || mode == "cdc") {
      import graft.sources.GraftTable
      val baseMax = spark.read.parquet(s"$Base/documents.parquet")
        .agg(max(col("doc_id"))).head().getLong(0)
      def rmrf(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rmrf)); p.delete(); ()
      }
      spark.conf.set("spark.graft.cdc", "true")
      try for (f <- Seq(1, 3, 10)) {
        val dir = if (f == 1) Base else scaledDir(spark, f)
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val tdir = s"$Out/cdc_x$f"
        rmrf(new java.io.File(tdir))
        GraftTable.create(spark, tdir, docs, Seq("doc_id"))
        val (dSec, dRows) = time {
          GraftTable.delete(spark, tdir,
            col("doc_id") % 97 === 0 && col("doc_id") <= baseMax, Seq("doc_id"))
          GraftTable.manifest(tdir, 1).cdcFiles.map(_.records).sum
        }
        report("cdc_delete", s"x$f", dSec, dRows)
        val (uSec, uRows) = time {
          GraftTable.updateWhere(spark, tdir,
            col("doc_id") % 101 === 0 && col("doc_id") <= baseMax,
            Seq("n_chars" -> lit(0L)), Seq("doc_id"))
          GraftTable.manifest(tdir, 2).cdcFiles.map(_.records).sum
        }
        report("cdc_update", s"x$f", uSec, uRows)
        val (fSec, fRows) = time(
          GraftTable.readCdc(spark, tdir, 0, 2).count())
        report("cdc_feed", s"x$f", fSec, fRows)
      } finally spark.conf.unset("spark.graft.cdc")
    }

    // shallow clone at growing corpus (round-10): cloning is ONE manifest
    // write — cost tracks the snapshot's FILE COUNT (a driver-side
    // metadata pass), never its bytes. The first read of the clone then
    // costs the same as reading the source. Tables reuse the `table`
    // mode's dirs when present, else build fresh.
    if (mode == "all" || mode == "clone") {
      import graft.sources.GraftTable
      def rmrf(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rmrf)); p.delete(); ()
      }
      for (f <- Seq(1, 3, 10)) {
        val dir = if (f == 1) Base else scaledDir(spark, f)
        val tdir = s"$Out/clonesrc_x$f"
        if (GraftTable.currentVersion(tdir).isEmpty) {
          rmrf(new java.io.File(tdir))
          GraftTable.create(spark, tdir,
            spark.read.parquet(s"$dir/documents.parquet"), Seq("doc_id"))
        }
        val cdir = s"$Out/clonedst_x$f"
        rmrf(new java.io.File(cdir))
        val (sec, _) = time(GraftTable.cloneShallow(spark, tdir, cdir).toLong)
        report("clone_publish", s"x$f", sec,
          GraftTable.manifest(cdir, 0).files.size.toLong)
        val (rSec, rows) = time(GraftTable.read(spark, cdir).count())
        report("clone_first_read", s"x$f", rSec, rows)
      }
    }

    // d20 BM25 retrieval at growing corpus (round-10): the QUERY set is
    // fixed (3 queries), the corpus grows ×k. The only corpus-sized stage
    // is the shared token scan + tf/dl aggregation — the posting join
    // carries just the rows matching the broadcast query terms, so the
    // curve must be ~linear in k (scan-bound), never superlinear through
    // a vocabulary-sized join. Caches reset per factor so each timing is
    // the full cold cost, not a memoized token frame.
    if (mode == "all" || mode == "bm25") for (f <- Seq(1, 3, 10)) {
      val dir = if (f == 1) Base else scaledDir(spark, f)
      graft.util.Memo.clearAll()
      val (sec, rows) = time(SparkEntry.queries("d20_bm25_topk")(spark, dir).count())
      report("bm25_topk", s"x$f", sec, rows)
    }

    // BPE training at growing corpus (round-11): the ×k copies REPEAT the
    // same documents, so the distinct-word VOCABULARY is clone-invariant —
    // only word frequencies scale ×k. The claim under test (Bpe scaladoc):
    // the corpus enters training through ONE token-count aggregation; the
    // K merge rounds run over the vocabulary. The curve must be ~flat in k
    // past the token scan, and the learned merge table must be IDENTICAL
    // at every factor (counts ×k, same pairs in the same order).
    if (mode == "all" || mode == "bpe") {
      var basePairs: Seq[(Int, String, String)] = Nil
      for (f <- Seq(1, 3, 10)) {
        val dir = if (f == 1) Base else scaledDir(spark, f)
        val (sec, rows) = time {
          val m = graft.operators.Bpe.learnMerges(spark,
            graft.operators.Bpe.vocabulary(
              spark.read.parquet(s"$dir/documents.parquet"), "text"),
            cacheKey = s"smoke-$dir", k = 3)
          val got = m.orderBy(col("merge_rank")).collect()
            .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
          if (f == 1) basePairs = got
          else require(got == basePairs,
            s"x$f merge table drifted from x1: $got vs $basePairs")
          got.size.toLong
        }
        report("bpe_train", s"x$f", sec, rows)
      }
      // K axis (round-11 directive #5): realistic vocabularies need
      // thousands of merges — the cost driver is ROUNDS (each a pair-count
      // job), so batching M disjoint merges per round must cut wall-clock
      // toward K/M jobs. Measured at fixed corpus (x1), K=24: M=1 (24
      // rounds) vs M=8 (≥3 rounds; fewer only if admission skips). The
      // tables legitimately differ (batched semantics) — both are checked
      // deterministic by re-run equality instead.
      for (m <- Seq(1, 8)) {
        val (sec, rows) = time {
          val t = graft.operators.Bpe.learnMerges(spark,
            graft.operators.Bpe.vocabulary(
              spark.read.parquet(s"$Base/documents.parquet"), "text"),
            cacheKey = s"smoke-k-axis-m$m", k = 24, batchM = m)
          t.count()
        }
        report("bpe_k_axis", s"m$m", sec, rows)
      }
    }

    // t30/t31 geofence join + dwell at growing point corpus (round-12):
    // the ×k clones keep each copy's (x, y, ts) identical under shifted
    // user/event ids, so per-fence inside counts and dwell totals must
    // scale EXACTLY ×k (an exactness check riding the scale check), and
    // the curve must track the point count ~linearly: the fence side is a
    // fixed broadcast, the point side is one scan + one cell-key hash
    // join probe + one partial agg per point.
    if (mode == "all" || mode == "fence") {
      var base: Map[Int, Long] = Map.empty
      for (f <- Seq(1, 3, 10)) {
        val dir = if (f == 1) Base else scaledDir(spark, f)
        graft.util.Memo.clearAll()
        val (sec, rows) = time {
          // only n_inside is clone-invariant under ×k (event ids are
          // shifted per clone, so id-derived checksums cannot scale)
          val got = SparkEntry.queries("t30_geofence_join")(spark, dir)
            .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          if (f == 1) base = got
          else base.foreach { case (id, n1) =>
            require(got(id) == n1 * f,
              s"x$f fence $id inside-count ${got(id)} != ${n1 * f}") }
          got.size.toLong
        }
        report("geofence_join", s"x$f", sec, rows)
        val (secD, rowsD) = time {
          SparkEntry.queries("t31_geofence_dwell")(spark, dir).count()
        }
        report("geofence_dwell", s"x$f", secD, rowsD)
      }
    }

    // m5 perceptual media dedup at growing corpus (round-10): docs grow
    // ×k, so media items grow ×k (two per doc) and planted near-dups grow
    // ×k with them. One linear decode pass (8 hash bytes per item leave
    // the scan) + a banded equi-join over 65 536-way buckets: the curve
    // must track item count ~linearly — the ×k copies are id-seeded noise,
    // so cross-copy hash collisions stay negligible and bucket occupancy
    // stays ~1.
    if (mode == "all" || mode == "media") for (f <- Seq(1, 3, 10)) {
      val dir = if (f == 1) Base else scaledDir(spark, f)
      val (sec, rows) = time(graft.sources.Multimodal.nearDupMediaPairs(
        graft.sources.Multimodal.mediaDedupTable(spark, dir)).count())
      report("media_dedup", s"x$f", sec, rows)
    }

    if (mode == "all" || mode == "knn") {
      val f = args.lift(1).map(_.stripPrefix("x").toInt).getOrElse(3)
      val dir = if (f == 1) Base else scaledDir(spark, f)
      val ta = Tables.trajArrays(spark, dir, "purchase")
      val st = TrajectorySearch.trajStats(ta)
      val autoPick = TrajectorySearch.chooseAutoPath(ta, st,
        TrajectorySearch.BruteBroadcastMaxBytes)
      println(s"""{"measure":"t21_stats","scale":"x$f","users":${st.users},"medianPoints":${st.medianPoints},"flat":"${TrajectorySearch.choosePath(st)}","auto":"$autoPick"}""")
      val paths = if (args.length > 2) args.drop(2).toSeq else Seq("brute", "seeded")
      paths.foreach { p =>
        val kp = p match {
          case "brute" => KnnPath.Brute
          case "seeded" => KnnPath.Seeded
          case "tiled" => KnnPath.Tiled
          case _ => KnnPath.Auto
        }
        val (sec, rows) = time(TrajectorySearch.knnJoin(ta, 3, "hausdorff", path = kp).count())
        report(s"t21_$p", s"x$f", sec, rows)
      }
    }

    // brute-vs-seeded crossover: fixed user count, growing trajectories —
    // clustered synthetic fixture so the bound has something to prune
    val rnd = new scala.util.Random(13)
    if (mode == "all" || mode == "crossover") for (pts <- Seq(13, 32, 64, 128)) {
      import spark.implicits._
      val rows = (0L until 1500L).map { u =>
        val cx = (u % 30) * 20.0; val cy = (u % 20) * 20.0
        (u, Seq.fill(pts)(cx + rnd.nextDouble() * 5), Seq.fill(pts)(cy + rnd.nextDouble() * 5))
      }
      val ta = Tables.withSliceBoxes(rows.toDF("user_id", "xs", "ys"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ta.count()
      val (bSec, _) = time(TrajectorySearch.knnJoin(ta, 3, "hausdorff",
        path = KnnPath.Brute).count())
      val (sSec, _) = time(TrajectorySearch.knnJoin(ta, 3, "hausdorff",
        path = KnnPath.Seeded).count())
      println(f"""{"measure":"t21_crossover","points":$pts,"brute_sec":$bSec%.2f,"seeded_sec":$sSec%.2f}""")
      ta.unpersist()
    }
    spark.stop()
  }
}
