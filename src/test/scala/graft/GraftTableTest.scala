package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DocSimilarity
import graft.sources.GraftTable

/** Versioned snapshot/manifest table (sources.GraftTable): snapshot
  * isolation, atomic optimistic commits, changelog reads, manifest-level
  * file skipping — and the d16 contract: the incremental dedup probe over
  * the table equals the source-roster form, reuses the corpus index across
  * appends, and rebuilds it only when the corpus snapshot rolls forward. */
class GraftTableTest extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft-table-$tag").resolve("t").toString

  private def docs(dir: String) = Tables.table(spark, dir, "documents")

  test("create/append: time travel isolates snapshots; changelog is exactly the appended rows") {
    val tdir = freshDir("basic")
    val oldS = (0 to 9).map(i => s"src$i")
    val corpus = docs(TestSpark.sf0001).filter(col("source").isin(oldS: _*))
    val batch = docs(TestSpark.sf0001).filter(!col("source").isin(oldS: _*))

    assert(GraftTable.currentVersion(tdir).isEmpty)
    assert(GraftTable.create(spark, tdir, corpus, Seq("doc_id")) == 0)
    assert(GraftTable.append(spark, tdir, batch, Seq("doc_id")) == 1)
    assert(GraftTable.currentVersion(tdir).contains(1))

    val nC = corpus.count(); val nB = batch.count()
    // v0 read is unaffected by the later append — snapshot isolation
    assert(GraftTable.read(spark, tdir, Some(0)).count() == nC)
    assert(GraftTable.read(spark, tdir).count() == nC + nB)
    // changelog = the appended rows, exactly (set equality on doc_id)
    val changed = GraftTable.readChanges(spark, tdir, 0, 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(changed == batch.select("doc_id").collect().map(_.getLong(0)).toSet)
    // schema round-trips through the manifest DDL
    assert(GraftTable.read(spark, tdir).schema.fieldNames.toSeq
      == corpus.schema.fieldNames.toSeq)
  }

  test("partition-column layout: day-clustered files prune like hive partition directories; evolution-free append stays correct") {
    // the deliberate design (SCALE.md "Partition-directory layout"): a
    // hive-style dt=.../ directory tree is equivalent, for pruning, to
    // files whose per-file [min,max] stats on the partition column are
    // single-valued — which is exactly what clustering the write by that
    // column produces. This test pins the equivalence contract.
    val tdir = freshDir("partlayout")
    val base = docs(TestSpark.sf0001)
      .withColumn("day", col("doc_id") % 8)
    GraftTable.create(spark, tdir,
      base.repartition(8, col("day")), Seq("day", "doc_id"))

    val m0 = GraftTable.manifest(tdir, 0)
    val dayFiles = m0.files.count(f =>
      f.stats.get("day").forall { case (mn, mx) => mx >= 3 && mn <= 3 })
    assert(dayFiles < m0.files.size,
      "day-clustered layout must make SOME files skippable for one day")

    // the pruned scan reads exactly the day-3 rows from exactly the files
    // whose stats admit day 3 — the partition-directory read, via stats
    val scan = GraftTable.scanWhereAll(spark, tdir, None, Seq(("day", 3L, 3L)))
    assert(scan.count() == base.filter(col("day") === 3).count())
    assert(scan.inputFiles.length == dayFiles,
      s"scan opened ${scan.inputFiles.length} files, stats admit $dayFiles")

    // "partition evolution" for free: a later batch written WITHOUT day
    // clustering coexists — its wide-stats files always scan, cluster
    // layout of old commits is untouched, answers stay exact (a hive tree
    // would need a layout migration here)
    GraftTable.append(spark, tdir,
      base.orderBy(col("doc_id")).limit(40).withColumn("day", col("doc_id") % 8 + 100),
      Seq("day", "doc_id"))
    val scan2 = GraftTable.scanWhereAll(spark, tdir, None, Seq(("day", 103L, 103L)))
    assert(scan2.count() == 5, "post-evolution day values must read exactly")
    val scan3 = GraftTable.scanWhereAll(spark, tdir, None, Seq(("day", 3L, 3L)))
    assert(scan3.count() == base.filter(col("day") === 3).count())
  }

  test("crash-injection: a mid-publish crash never exposes a half-commit; retry is idempotent; vacuum reclaims the debris") {
    val tdir = freshDir("crash")
    GraftTable.create(spark, tdir, docs(TestSpark.sf0001).limit(12), Seq("doc_id"))
    GraftTable.append(spark, tdir, docs(TestSpark.sf0001)
      .orderBy(col("doc_id").desc).limit(5), Seq("doc_id"))
    val n01 = GraftTable.read(spark, tdir).count()

    // simulate a writer killed MID-publish of v2, at every torn stage:
    // (a) its data files landed but no manifest references them
    val dataDir = java.nio.file.Paths.get(tdir, "data")
    val someData = Files.walk(dataDir).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val orphan = someData.resolveSibling("part-crashed-orphan.parquet")
    Files.copy(someData, orphan)
    // (b) the manifest temp was HALF-written (torn bytes) when the JVM died
    val v1Bytes = Files.readAllBytes(
      java.nio.file.Paths.get(s"$tdir/_log/v00001.manifest"))
    Files.write(java.nio.file.Paths.get(s"$tdir/_log/.tmp_crashed01"),
      v1Bytes.take(v1Bytes.length / 2))
    // (c) a fully-written temp that never got linked into the slot
    Files.write(java.nio.file.Paths.get(s"$tdir/_log/.tmp_crashed02"), v1Bytes)
    // (d) the head hint was torn too
    Files.write(java.nio.file.Paths.get(s"$tdir/_log/_head"),
      "garb".getBytes("UTF-8"))

    // REOPEN: readers must see exactly the committed history — the torn
    // debris is invisible (manifest link is the only commit point; the
    // unreadable hint falls back to the listing)
    assert(GraftTable.currentVersion(tdir).contains(1),
      "torn temps/hint must not surface as a commit")
    assert(GraftTable.read(spark, tdir).count() == n01)
    assert(GraftTable.read(spark, tdir, Some(0)).count() == 12)

    // the crashed writer's RETRY is an ordinary commit into the next free
    // slot — nothing about the debris blocks it, and it lands exactly once
    val v2 = GraftTable.append(spark, tdir, docs(TestSpark.sf0001)
      .orderBy(col("doc_id")).limit(3), Seq("doc_id"))
    assert(v2 == 2)
    assert(GraftTable.read(spark, tdir).count() == n01 + 3)

    // vacuum (age 0 = no writer in flight) reclaims the orphan data file
    // and both torn temps; committed history still reads exactly
    val reclaimed = GraftTable.vacuum(tdir, retainAgeMs = 0)
    assert(reclaimed >= 3, s"expected orphan+2 temps reclaimed, got $reclaimed")
    assert(!Files.exists(orphan))
    assert(!Files.exists(java.nio.file.Paths.get(s"$tdir/_log/.tmp_crashed01")))
    assert(GraftTable.read(spark, tdir).count() == n01 + 3)
    assert(GraftTable.read(spark, tdir, Some(1)).count() == n01)
  }

  test("commit is atomic: losing writer gets CommitConflict, data files never collide, retry lands") {
    val tdir = freshDir("conflict")
    val base = docs(TestSpark.sf0001).limit(10)
    GraftTable.create(spark, tdir, base, Seq("doc_id"))
    // two writers race for v1: publish is an atomic link into the version
    // slot, so exactly one wins; simulate by publishing v1 twice
    GraftTable.append(spark, tdir, base.limit(3), Seq("doc_id"))
    val e = intercept[GraftTable.CommitConflict] {
      // second writer computed against the old head (v0) and tries v1 too
      val m0 = GraftTable.manifest(tdir, 0)
      val commitM = GraftTable.getClass.getDeclaredMethods
        .find(_.getName == "commit").get
      commitM.setAccessible(true)
      // trailing args fill commit's optional params (txn, prevSchema, ...)
      val args = Seq[AnyRef](spark, tdir, base.limit(2), Seq("doc_id"),
        Int.box(1), "append", m0.files) ++
        Seq.fill(commitM.getParameterCount - 7)(None)
      try commitM.invoke(GraftTable, args: _*)
      catch { case ex: java.lang.reflect.InvocationTargetException => throw ex.getCause }
    }
    assert(e.getMessage.contains("v1"))
    // loser's data files are orphans (unreferenced), not corruption: the
    // surviving manifest still reads exactly winner rows, and a plain
    // retry against the new head succeeds as v2
    assert(GraftTable.read(spark, tdir).count() == 13)
    assert(GraftTable.append(spark, tdir, base.limit(2), Seq("doc_id")) == 2)
    assert(GraftTable.read(spark, tdir).count() == 15)
  }

  test("two live writers racing append slots: conflicts retry, both batches land, no row lost") {
    val tdir = freshDir("race")
    val rows = docs(TestSpark.sf0001).orderBy("doc_id").limit(30).collect()
    def slice(a: Int, b: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 1),
      docs(TestSpark.sf0001).schema)
    GraftTable.create(spark, tdir, slice(0, 10), Seq("doc_id"))

    def appendWithRetry(a: Int, b: Int): Unit = {
      var done = false
      while (!done) {
        try { GraftTable.append(spark, tdir, slice(a, b), Seq("doc_id")); done = true }
        catch { case _: GraftTable.CommitConflict => () } // lost the slot; retry
      }
    }
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val f1 = pool.submit(new Runnable {
      def run(): Unit = { latch.await(); appendWithRetry(10, 20) } })
    val f2 = pool.submit(new Runnable {
      def run(): Unit = { latch.await(); appendWithRetry(20, 30) } })
    latch.countDown()
    f1.get(); f2.get(); pool.shutdown()

    assert(GraftTable.currentVersion(tdir).contains(2), "both appends must commit")
    val got = GraftTable.read(spark, tdir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == rows.map(_.getLong(0)).toSet,
      "the optimistic protocol must lose no batch and duplicate none")
  }

  test("scanWhere skips files by manifest stats and matches the unpruned answer") {
    val tdir = freshDir("prune")
    val all = docs(TestSpark.sf0001)
    // range layout on doc_id → per-file min/max ranges are disjoint
    GraftTable.create(spark, tdir, all.repartitionByRange(4, col("doc_id")), Seq("doc_id"))
    val m = GraftTable.manifest(tdir, 0)
    assert(m.files.size >= 3, s"fixture should split into several files, got ${m.files.size}")
    assert(m.files.forall(_.stats.contains("doc_id")))
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ids(ids.length / 8), ids(ids.length / 4)) // narrow low band
    val pruned = GraftTable.scanWhere(spark, tdir, Some(0), "doc_id", lo, hi)
    val full = GraftTable.read(spark, tdir, Some(0)).filter(col("doc_id").between(lo, hi))
    assert(pruned.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == full.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(pruned.inputFiles.length < m.files.size,
      s"manifest stats should skip files: read ${pruned.inputFiles.length} of ${m.files.size}")
  }

  test("scanWhereAll: conjunctive tile pruning skips files and matches the unpruned box answer") {
    val tdir = freshDir("box")
    // tile-clustered point table (the t26 layout): tx/ty integral stats
    val pts = Tables.pts(spark, TestSpark.sf0001, "purchase")
      .withColumn("tx", floor(col("x")).cast("long"))
      .withColumn("ty", floor(col("y")).cast("long"))
    GraftTable.create(spark, tdir, pts.repartitionByRange(6, col("tx"), col("ty")),
      Seq("tx", "ty"))
    val m = GraftTable.manifest(tdir, 0)
    assert(m.files.size >= 4, s"fixture should split into several files, got ${m.files.size}")
    assert(m.files.forall(f => f.stats.contains("tx") && f.stats.contains("ty")))
    // a box in the low-x band: range clustering on (tx, ty) makes tx
    // bounds tight, so high-x files must be skipped outright
    val preds = Seq(("tx", 5L, 15L), ("ty", 50L, 150L))
    val pruned = GraftTable.scanWhereAll(spark, tdir, Some(0), preds)
    val full = GraftTable.read(spark, tdir, Some(0))
      .filter(col("tx").between(5, 15) && col("ty").between(50, 150))
    assert(pruned.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      == full.select("event_id").collect().map(_.getLong(0)).sorted.toSeq,
      "pruned scan must return exactly the unpruned rows")
    assert(pruned.inputFiles.length < m.files.size,
      s"conjunctive stats should skip files: read ${pruned.inputFiles.length} of ${m.files.size}")
    // conjunction must prune strictly more than either single band alone
    // when the bands are individually loose (sanity: never reads MORE files)
    val txOnly = GraftTable.scanWhere(spark, tdir, Some(0), "tx", 5L, 15L)
    assert(pruned.inputFiles.length <= txOnly.inputFiles.length)
  }

  test("getOrCreate/getOrCreateUpgraded: warm paths never rebuild; upgrade fires only at v0") {
    import spark.implicits._
    val tdir = freshDir("guard")
    var builds = 0; var upgrades = 0
    def run(): String = GraftTable.getOrCreateUpgraded(spark, tdir, Seq("id")) {
      builds += 1; Seq((1L, "a")).toDF("id", "v")
    } { upgrades += 1; GraftTable.append(spark, tdir, Seq((2L, "b")).toDF("id", "v"), Seq("id")) }

    run()
    assert(builds == 1 && upgrades == 1 && GraftTable.currentVersion(tdir).contains(1))
    // warm call: build is never evaluated, upgrade guarded out by head > 0
    run()
    assert(builds == 1 && upgrades == 1, "warm path must not rebuild or re-upgrade")
    assert(GraftTable.read(spark, tdir).count() == 2)

    // a table that already exists (built by "another process") short-circuits
    val t2 = freshDir("guard2")
    GraftTable.create(spark, t2, Seq((9L, "x")).toDF("id", "v"), Seq("id"))
    var built2 = false
    GraftTable.getOrCreate(spark, t2, Seq("id")) { built2 = true; Seq((1L, "y")).toDF("id", "v") }
    assert(!built2 && GraftTable.read(spark, t2).count() == 1)
  }

  test("head hint: stale hint probes forward, corrupt hint falls back to listing — never a wrong head") {
    import spark.implicits._
    val tdir = freshDir("hint")
    GraftTable.create(spark, tdir, Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    GraftTable.append(spark, tdir, Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    GraftTable.append(spark, tdir, Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    assert(GraftTable.currentVersion(tdir).contains(2))
    val hint = java.nio.file.Paths.get(tdir, "_log", "_head")
    assert(java.nio.file.Files.exists(hint), "publish must refresh the hint")

    // STALE hint (a writer crashed before refreshing it): lower bound only —
    // the forward probe must still find the true head
    java.nio.file.Files.write(hint, "0".getBytes)
    assert(GraftTable.currentVersion(tdir).contains(2), "stale hint must probe forward")

    // CORRUPT hint: unreadable → full-listing fallback, still the true head
    java.nio.file.Files.write(hint, "not-a-number".getBytes)
    assert(GraftTable.currentVersion(tdir).contains(2), "corrupt hint must fall back")

    // MISSING hint (pre-hint table layouts): listing fallback
    java.nio.file.Files.delete(hint)
    assert(GraftTable.currentVersion(tdir).contains(2), "missing hint must fall back")
    // and the next publish restores it
    GraftTable.append(spark, tdir, Seq((4L, "d")).toDF("id", "v"), Seq("id"))
    assert(java.nio.file.Files.exists(hint)
      && GraftTable.currentVersion(tdir).contains(3))
  }

  test("compact(zorderBy): second-dimension bands prune under z-order; lex layout reads everything") {
    import spark.implicits._
    // 32×32 tile grid, one row per cell, arrival layout smears both dims
    val grid = for { x <- 0 until 32; y <- 0 until 32 }
      yield (x.toLong * 32 + y, x.toLong, y.toLong)
    val df = grid.toDF("id", "tx", "ty").repartition(8)
    val lexDir = freshDir("lex"); val zDir = freshDir("zord")
    GraftTable.create(spark, lexDir, df, Seq("tx", "ty"))
    GraftTable.create(spark, zDir, df, Seq("tx", "ty"))
    GraftTable.compact(spark, lexDir, 8, Seq("tx", "ty"), clusterBy = Seq("tx", "ty"))
    GraftTable.compact(spark, zDir, 8, Seq("tx", "ty"), zorderBy = Seq("tx", "ty"))
    assert(GraftTable.read(spark, zDir).count() == 1024, "z-order rewrite must keep every row")

    // a ty-only band: lex clustering on (tx, ty) leaves ty spanning its
    // full range in every file (stats [0,31] everywhere — zero skipping);
    // z-order gives each file a localized block, so ty bounds stay tight
    val zBand = GraftTable.scanWhere(spark, zDir, None, "ty", 0L, 3L)
    val lexBand = GraftTable.scanWhere(spark, lexDir, None, "ty", 0L, 3L)
    assert(zBand.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == lexBand.select("id").collect().map(_.getLong(0)).sorted.toSeq,
      "both layouts must return identical rows")
    assert(zBand.inputFiles.length < lexBand.inputFiles.length,
      s"z-order should skip files on the SECOND dimension: z read ${zBand.inputFiles.length}, " +
        s"lex read ${lexBand.inputFiles.length}")

    // a box query localizes to one z-block
    val zBox = GraftTable.scanWhereAll(spark, zDir, None,
      Seq(("tx", 0L, 7L), ("ty", 0L, 7L)))
    assert(zBox.count() == 64)
    assert(zBox.inputFiles.length <= 2,
      s"an aligned 8×8 box should live in ~one z-block file, read ${zBox.inputFiles.length}")
  }

  test("restore: head rolls back by reference, changelog stays silent, vacuumed targets refuse") {
    val tdir = freshDir("restore")
    import spark.implicits._
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    GraftTable.create(spark, tdir,
      (0L until 20L).map(i => (i, s"a$i")).toDF("id", "value"), Seq("id"))
    GraftTable.append(spark, tdir,
      (100L until 110L).map(i => (i, s"b$i")).toDF("id", "value"), Seq("id"))
    GraftTable.deleteKeys(spark, tdir, "id",
      (0L until 5L).toDF("id"), Seq("id"))                       // v2: drop 0..4
    assert(ids(GraftTable.read(spark, tdir)).size == 25)

    // restore to v1 resurrects the deleted rows with ZERO data movement
    assert(GraftTable.restore(spark, tdir, 1) == 3)
    assert(ids(GraftTable.read(spark, tdir))
      == ((0L until 20L) ++ (100L until 110L)).toSet)
    // ...by reference: the restore commit wrote no data files of its own
    assert(GraftTable.manifest(tdir, 3).files.map(_.path).toSet
      == GraftTable.manifest(tdir, 1).files.map(_.path).toSet)
    // history surgery, not ingest: nothing arrives in the changelog,
    // and a from-scratch changelog still counts each row ONCE
    assert(GraftTable.addedFiles(tdir, 2, 3).isEmpty)
    assert(GraftTable.readChanges(spark, tdir, 0, 3).count() == 10)
    // the undone version is still time-travelable
    assert(ids(GraftTable.read(spark, tdir, Some(2))).size == 25)
    // normal life continues after a restore
    GraftTable.append(spark, tdir,
      (200L until 205L).map(i => (i, s"c$i")).toDF("id", "value"), Seq("id"))
    assert(ids(GraftTable.read(spark, tdir)).size == 35)

    // a restore target whose files were vacuumed refuses up front:
    // compact (v5) supersedes everything, vacuum with no retention
    // reclaims the pre-compact files, so v4 is unrecoverable
    GraftTable.compact(spark, tdir, targetFiles = 1, statsCols = Seq("id"))
    assert(GraftTable.vacuum(tdir, retainVersions = 0, retainAgeMs = 0) > 0)
    val e = intercept[IllegalArgumentException] {
      GraftTable.restore(spark, tdir, 4)
    }
    assert(e.getMessage.contains("vacuumed"))
    assert(ids(GraftTable.read(spark, tdir)).size == 35, "refusal publishes nothing")
  }

  test("stream filterEq: non-matching arrival files are never planned, rows filter exactly") {
    val tdir = freshDir("filtereq")
    val all = docs(TestSpark.sf0001)
    // source-clustered layout → per-file string stats separate the sources
    GraftTable.create(spark, tdir,
      all.repartitionByRange(6, col("source")).sortWithinPartitions("source"),
      Seq("source"))
    val probe = all.select("source").distinct().orderBy("source")
      .collect().map(_.getString(0)).apply(3)
    val want = all.filter(col("source") === probe)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    val q = spark.readStream.format("graft-table").option("path", tdir)
      .option("readColumns", "doc_id,source").option("filterEq", s"source=$probe")
      .load()
      .writeStream.format("memory").queryName("s_filtereq")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("s_filtereq").collect()
    assert(got.forall(_.getString(1) == probe), "row filter must be exact")
    assert(got.map(_.getLong(0)).sorted.toSeq == want)
    val (kept, total) = graft.sources.GraftTableMicroBatchStream.lastPlanned.get()
    assert(kept < total && kept >= 1,
      s"string stats must skip non-matching files: planned $kept of $total")
  }

  test("clustered compact: range-clustering the rewrite turns a no-skip layout into a 1-file scan") {
    val tdir = freshDir("cluster")
    val all = docs(TestSpark.sf0001)
    // round-robin layout: every file spans the whole doc_id range, so
    // manifest stats can skip NOTHING — the ingest-arrival-order reality
    GraftTable.create(spark, tdir, all.repartition(6), Seq("doc_id"))
    val ids = all.select("doc_id").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ids(ids.length / 8), ids(ids.length / 4))
    val want = all.filter(col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val before = GraftTable.scanWhere(spark, tdir, None, "doc_id", lo, hi)
    assert(before.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == want)
    assert(before.inputFiles.length == GraftTable.manifest(tdir, 0).files.size,
      "round-robin layout must defeat stats skipping (every file overlaps)")

    GraftTable.compact(spark, tdir, targetFiles = 6, statsCols = Seq("doc_id"),
      clusterBy = Seq("doc_id"))
    val m1 = GraftTable.manifest(tdir, 1)
    assert(m1.op == "compact" && m1.files.map(_.records).sum == all.count())
    val after = GraftTable.scanWhere(spark, tdir, None, "doc_id", lo, hi)
    assert(after.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq == want,
      "clustering rewrites layout, never content")
    assert(after.inputFiles.length <= 2,
      s"disjoint ranges: the narrow band must live in <=2 of ${m1.files.size} files, " +
        s"read ${after.inputFiles.length}")
    // a clustered compact is still a compact: invisible to the changelog
    assert(GraftTable.addedFiles(tdir, 0, 1).isEmpty)
  }

  test("batch relation: versionAsOf time travel, SQL USING surface, pushed filters skip files") {
    import graft.sources.GraftTableRelation
    val tdir = freshDir("relation")
    val all = docs(TestSpark.sf0001)
    val oldS = (0 to 9).map(i => s"src$i")
    val corpus = all.filter(col("source").isin(oldS: _*))
    GraftTable.create(spark, tdir, corpus.repartitionByRange(4, col("doc_id")), Seq("doc_id"))
    GraftTable.append(spark, tdir, all.filter(!col("source").isin(oldS: _*)), Seq("doc_id"))

    val df = spark.read.format("graft-table").option("path", tdir).load()
    assert(df.count() == all.count())
    assert(spark.read.format("graft-table").option("path", tdir)
      .option("versionAsOf", "0").load().count() == corpus.count())

    // a pushed range predicate on the stats column must drop whole files
    val ids = corpus.select("doc_id").collect().map(_.getLong(0)).sorted
    val (lo, hi) = (ids(ids.length / 8), ids(ids.length / 4))
    val got = df.filter(col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val (read, totalFiles) = GraftTableRelation.lastScan.get()
    assert(read < totalFiles, s"pushed filter must skip files: $read of $totalFiles")
    assert(got == all.filter(col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)

    // the reference user's SQL runs unchanged over the versioned layout
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gt_docs USING `graft-table` " +
      s"OPTIONS (path '$tdir')")
    assert(spark.sql("SELECT COUNT(*) FROM gt_docs").head().getLong(0) == all.count())
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM gt_docs WHERE doc_id BETWEEN $lo AND $hi")
      .head().getLong(0) == got.size)
    val (read2, totalFiles2) = GraftTableRelation.lastScan.get()
    assert(read2 < totalFiles2, "SQL predicate pushes through to file skipping")
  }

  test("exactly-once sink: first batch creates, replayed batch ids are no-ops, fresh ids append") {
    val tdir = freshDir("sink")
    val base = docs(TestSpark.sf0001).orderBy("doc_id").limit(20).collect()
    def slice(a: Int, b: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(base.slice(a, b).toSeq, 1),
      docs(TestSpark.sf0001).schema)
    val sink = GraftTable.sinkInto(tdir, "gate-app")

    sink(slice(0, 5), 0L) // first delivery creates the table
    assert(GraftTable.currentVersion(tdir).contains(0))
    assert(GraftTable.read(spark, tdir).count() == 5)

    sink(slice(0, 5), 0L) // crash-recovery re-delivery of batch 0: no-op
    assert(GraftTable.currentVersion(tdir).contains(0), "replay must not commit")

    sink(slice(5, 12), 1L)
    assert(GraftTable.currentVersion(tdir).contains(1))
    assert(GraftTable.read(spark, tdir).count() == 12)

    sink(slice(12, 15), 0L) // stale out-of-order replay: still a no-op
    assert(GraftTable.read(spark, tdir).count() == 12)
    assert(GraftTable.lastTxn(tdir, "gate-app").contains(1L))
    assert(GraftTable.lastTxn(tdir, "other-app").isEmpty)

    // a plain (non-txn) append from another writer doesn't disturb the
    // sink's token, and the sink continues past it
    GraftTable.append(spark, tdir, slice(15, 17), Seq("doc_id"))
    assert(GraftTable.lastTxn(tdir, "gate-app").contains(1L))
    sink(slice(17, 20), 2L)
    assert(GraftTable.read(spark, tdir).count() == 17)

    // an EMPTY micro-batch (zero-row trigger) commits a files-less
    // manifest instead of crashing the stream; table content unchanged
    sink(slice(0, 0), 3L)
    assert(GraftTable.lastTxn(tdir, "gate-app").contains(3L))
    assert(GraftTable.read(spark, tdir).count() == 17)
    assert(GraftTable.readChanges(spark, tdir,
      GraftTable.currentVersion(tdir).get - 1,
      GraftTable.currentVersion(tdir).get).count() == 0)
  }

  test("compact rewrites layout not content, contributes nothing to the changelog; vacuum reclaims") {
    val tdir = freshDir("compact")
    val all = docs(TestSpark.sf0001)
    val oldS = (0 to 9).map(i => s"src$i")
    val corpus = all.filter(col("source").isin(oldS: _*))
    val batch = all.filter(!col("source").isin(oldS: _*))
    GraftTable.create(spark, tdir, corpus.repartitionByRange(4, col("doc_id")), Seq("doc_id"))
    GraftTable.append(spark, tdir, batch.repartition(3), Seq("doc_id"))
    val filesBefore = GraftTable.manifest(tdir, 1).files.size
    assert(filesBefore >= 5)

    assert(GraftTable.compact(spark, tdir, targetFiles = 1, Seq("doc_id")) == 2)
    val ids = (v: Int) => GraftTable.read(spark, tdir, Some(v))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(GraftTable.manifest(tdir, 2).files.size < filesBefore)
    assert(ids(2) == ids(1), "compact must preserve row content exactly")

    // changelog across the compact: still exactly the ingest's rows
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(GraftTable.readChanges(spark, tdir, 0, 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet == batchIds)
    assert(GraftTable.addedFiles(tdir, 1, 2).isEmpty, "compact adds nothing logically")

    // ingest continues after the compact; per-commit changelog stays exact
    val extra = batch.limit(7)
    GraftTable.append(spark, tdir, extra, Seq("doc_id"))
    assert(GraftTable.readChanges(spark, tdir, 2, 3).count() == 7)

    // vacuum: an orphan (conflict loser / crashed commit) goes even under
    // full retention; superseded pre-compact files go once retention drops
    val orphan = java.nio.file.Paths.get(tdir, "data", "stray.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    // a publish that crashed between temp-write and link
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tdir, "_log", ".tmp_crashed"), Array[Byte](9))
    // default retention age protects YOUNG unreferenced files (they could
    // be an in-flight commit's pre-publish data) — nothing goes yet
    assert(GraftTable.vacuum(tdir) == 0,
      "age window must spare freshly-written unreferenced files")
    assert(GraftTable.vacuum(tdir, retainAgeMs = 0) == 2,
      "exactly the unreferenced stray + the crashed publish temp")
    val reclaimed = GraftTable.vacuum(tdir, retainVersions = 0, retainAgeMs = 0)
    assert(reclaimed >= filesBefore,
      s"superseded pre-compact files must be reclaimed, got $reclaimed")
    // the head snapshot never references reclaimed files — still readable
    assert(GraftTable.read(spark, tdir).count() ==
      GraftTable.manifest(tdir, 3).files.map(_.records).sum)

    // history: one metadata row per snapshot; the compact shows 0 logical adds
    val h = GraftTable.history(spark, tdir)
      .orderBy("version").collect()
    assert(h.map(_.getString(1)).toSeq == Seq("create", "append", "compact", "append"))
    assert(h(2).getInt(4) == 0, "compact adds nothing logically")
    assert(h(3).getLong(3) == GraftTable.read(spark, tdir).count())
  }

  test("stream tails across a compact: empty micro-batch for the rewrite, appends keep flowing") {
    val tdir = freshDir("compact-stream")
    val outDir = freshDir("compact-stream-out")
    val rows = docs(TestSpark.sf0001).orderBy("doc_id").limit(30).collect()
    def slice(a: Int, b: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 1),
      docs(TestSpark.sf0001).schema)
    GraftTable.create(spark, tdir, slice(0, 10).repartition(4), Seq("doc_id"))

    val q = spark.readStream.format("graft-table").option("path", tdir).load()
      .writeStream.foreachBatch(GraftTable.sinkInto(outDir, "cs"))
      .start()
    try {
      q.processAllAvailable()
      assert(GraftTable.read(spark, outDir).count() == 10)

      GraftTable.compact(spark, tdir, targetFiles = 1, Seq("doc_id"))
      q.processAllAvailable()
      // the compact advanced the offset but re-delivered NOTHING
      assert(GraftTable.read(spark, outDir).count() == 10,
        "a compact commit must not re-emit rewritten rows into the stream")

      GraftTable.append(spark, tdir, slice(10, 30), Seq("doc_id"))
      q.processAllAvailable()
      assert(GraftTable.read(spark, outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet == rows.map(_.getLong(0)).toSet,
        "appends after the compact keep flowing exactly-once")
    } finally q.stop()
  }

  test("additive schema evolution: new columns append, old files read null, type changes refuse") {
    val tdir = freshDir("evolve")
    val base = docs(TestSpark.sf0001).limit(10)
    GraftTable.create(spark, tdir, base, Seq("doc_id"))

    // batch arrives with a NEW column → snapshot schema = old ∪ new
    val enriched = docs(TestSpark.sf0001).limit(5)
      .withColumn("doc_id", col("doc_id") + lit(500000L))
      .withColumn("quality", col("n_chars").cast("double") / 100.0)
    GraftTable.append(spark, tdir, enriched, Seq("doc_id"))

    val head = GraftTable.read(spark, tdir)
    assert(head.schema.fieldNames.toSeq == base.schema.fieldNames.toSeq :+ "quality")
    assert(head.count() == 15)
    // pre-evolution rows read null in the new column; new rows carry it
    assert(head.filter(col("doc_id") < 500000L && col("quality").isNull).count() == 10)
    assert(head.filter(col("doc_id") >= 500000L && col("quality").isNotNull).count() == 5)
    // time travel sees the pre-evolution schema
    assert(!GraftTable.read(spark, tdir, Some(0)).schema.fieldNames.contains("quality"))
    // a batch OMITTING existing columns reads as null there, keeps schema
    import spark.implicits._
    GraftTable.append(spark, tdir,
      Seq((900000L, "tiny doc")).toDF("doc_id", "text"), Seq("doc_id"))
    val v2 = GraftTable.read(spark, tdir)
    assert(v2.schema.fieldNames.length == base.schema.fieldNames.length + 1)
    assert(v2.filter(col("doc_id") === 900000L && col("lang").isNull).count() == 1)
    // a TYPE change would make history unreadable → refused
    val e = intercept[IllegalArgumentException] {
      GraftTable.append(spark, tdir,
        Seq(("not-a-long", "x")).toDF("doc_id", "text"), Nil)
    }
    assert(e.getMessage.contains("doc_id"))
  }

  test("stream restart: checkpointed snapshot offsets resume exactly-once into the txn sink") {
    val oldS = (0 to 9).map(i => s"src$i")
    val all = docs(TestSpark.sf0001)
    val tdir = freshDir("restart-in")
    val outDir = freshDir("restart-out")
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val corpus = all.filter(col("source").isin(oldS: _*))
    val batchRows = all.filter(!col("source").isin(oldS: _*))
      .orderBy("doc_id").collect()
    val half = batchRows.length / 2
    def slice(a: Int, b: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(batchRows.slice(a, b).toSeq, 1), all.schema)

    GraftTable.create(spark, tdir, corpus, Seq("doc_id"))
    GraftTable.append(spark, tdir, slice(0, half), Seq("doc_id"))

    def run(): Unit = {
      val q = spark.readStream.format("graft-table").option("path", tdir).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(GraftTable.sinkInto(outDir, "restart-sink"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    run() // first life: backfills v0 and tails v1
    val nCorpus = corpus.count()
    assert(GraftTable.read(spark, outDir).count() == nCorpus + half)

    GraftTable.append(spark, tdir, slice(half, batchRows.length), Seq("doc_id"))
    run() // second life: recovered offset (serialized form) → only v2 flows
    val outIds = GraftTable.read(spark, outDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val wantIds = (corpus.select("doc_id").collect().map(_.getLong(0))
      ++ batchRows.map(_.getLong(0))).sorted.toSeq
    assert(outIds == wantIds,
      "restart must deliver each snapshot exactly once — no gaps, no dups")
  }

  test("incremental dedup over the table == source-roster form; corpus index survives appends, rebuilds on corpus roll") {
    val tmp = Files.createTempDirectory("graft-table-incr").toString
    spark.conf.set("graft.index.dir", tmp)
    val tdir = freshDir("incr")
    try {
      graft.util.Memo.clearAll()
      val oldS = (0 to 9).map(i => s"src$i")
      val all = docs(TestSpark.sf0001)
      GraftTable.create(spark, tdir,
        all.filter(col("source").isin(oldS: _*)), Seq("doc_id"))
      GraftTable.append(spark, tdir,
        all.filter(!col("source").isin(oldS: _*)), Seq("doc_id"))

      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.select("old_id", "new_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaTable = key(DocSimilarity.incrementalNearDupsTable(spark, tdir, 0, 1))
      val viaRoster = key(DocSimilarity.incrementalNearDups(spark, TestSpark.sf0001, oldS))
      assert(viaTable == viaRoster, "table changelog probe must equal the roster split")

      // day N+1: ANOTHER batch appends as v2. The corpus snapshot (v0) is
      // untouched, so its mask artifact must be REUSED — zero new builds —
      // and the new probe still agrees with a from-scratch roster answer.
      val builds0 = DocSimilarity.incrMaskBuilds.get()
      GraftTable.append(spark, tdir, all.filter(!col("source").isin(oldS: _*))
        .withColumn("doc_id", col("doc_id") + lit(1000000L)), Seq("doc_id"))
      val v2pairs = DocSimilarity.incrementalNearDupsTable(spark, tdir, 0, 2)
      assert(key(v2pairs).map(_._2).exists(_ >= 1000000L), "v2 batch rows probed")
      assert(DocSimilarity.incrMaskBuilds.get() == builds0,
        "append must NOT rebuild the corpus snapshot index")

      // corpus rolls forward (v0 → v1 as the new corpus): different
      // snapshot ⇒ different validity key ⇒ the index rebuilds once
      DocSimilarity.incrementalNearDupsTable(spark, tdir, 1, 2).count()
      assert(DocSimilarity.incrMaskBuilds.get() == builds0 + 1,
        "a corpus snapshot roll must key (and build) a fresh index")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("ivf over the table: snapshot-keyed quantizer survives appends, routes changelog batches, refits on corpus roll") {
    import graft.operators.Sketches
    val tmp = Files.createTempDirectory("graft-ivftbl-idx").toString
    spark.conf.set("graft.index.dir", tmp)
    try {
      graft.util.Memo.clearAll()
      val em = Tables.table(spark, TestSpark.sf0001, "embeddings")
      val tdir = freshDir("ivftbl")
      GraftTable.create(spark, tdir, em.filter(col("vec_id") % 10 =!= 0), Seq("vec_id"))
      GraftTable.append(spark, tdir, em.filter(col("vec_id") % 10 === 0), Seq("vec_id"))

      val fits0 = Sketches.ivfFits.get()
      val (idx, delta, all) = Sketches.ivfIncrementalTable(spark, tdir, 0, 1)
      assert(Sketches.ivfFits.get() == fits0 + 1, "cold table index fits exactly once")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("list_id").cast("long")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      // append ≡ one-shot against the same frozen centers, and the delta
      // holds exactly the changelog batch
      assert(pairs(all) == pairs(Sketches.ivfRoute(GraftTable.read(spark, tdir)
        .select(col("vec_id"), col("embedding")), idx.centers)))
      assert(delta.select(col("vec_id")).collect().map(_.getLong(0)).toSet ==
        em.filter(col("vec_id") % 10 === 0).select(col("vec_id"))
          .collect().map(_.getLong(0)).toSet)

      // next ingest day: v2 appends; the snapshot-keyed quantizer is
      // REUSED (no refit) and the (0,2] changelog routes both batches
      GraftTable.append(spark, tdir, em.filter(col("vec_id") % 10 === 0)
        .withColumn("vec_id", col("vec_id") + lit(100000L)), Seq("vec_id"))
      val fits1 = Sketches.ivfFits.get()
      val (_, delta2, _) = Sketches.ivfIncrementalTable(spark, tdir, 0, 2)
      assert(Sketches.ivfFits.get() == fits1, "an ingest append must not refit")
      assert(delta2.count() == delta.count() * 2)

      // corpus snapshot rolls to v1 → different validity key → one refit
      Sketches.ivfIncrementalTable(spark, tdir, 1, 2)
      assert(Sketches.ivfFits.get() == fits1 + 1, "corpus roll keys a fresh fit")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  /** Round-9 directive 4: the frozen quantizer must carry a RE-FIT POLICY.
    * A distribution-shifted batch routed against frozen centers splits a
    * new cluster across old Voronoi cells (probe recall decays) and pumps
    * the append fraction; the policy detects it from one slim occupancy
    * aggregate and re-fits into a NEW versioned artifact — the old
    * snapshot's index is never touched. */
  test("ivf drift policy: shifted batch fires re-fit into a new versioned artifact, recall recovers") {
    import graft.operators.Sketches
    val tmp = Files.createTempDirectory("graft-ivfdrift-idx").toString
    spark.conf.set("graft.index.dir", tmp)
    val tdir = freshDir("ivfdrift")
    try {
      graft.util.Memo.clearAll()
      val rnd = new scala.util.Random(17)
      def cluster(base: Array[Double], n: Int, from: Long, spread: Double) =
        (0 until n).map { i =>
          (from + i, base.map(b => (b + rnd.nextGaussian() * spread).toFloat).toSeq)
        }
      // corpus: four tight, well-separated clusters — nlist=4 lands one
      // centroid in each
      val corpus = cluster(Array(0.0, 0, 0, 0), 25, 0, 0.1) ++
        cluster(Array(10.0, 0, 0, 0), 25, 100, 0.1) ++
        cluster(Array(0.0, 10, 0, 0), 25, 200, 0.1) ++
        cluster(Array(10.0, 10, 0, 0), 25, 300, 0.1)
      // drifted batch: a NEW cluster straddling the Voronoi midline
      // between the first two corpus clusters
      val batch = (0 until 100).map { i =>
        (1000L + i, Seq((3.0 + (i % 50) * 0.08).toFloat, 0f, 0f, 0f))
      }
      val toDf = (rows: Seq[(Long, Seq[Float])]) =>
        spark.createDataFrame(rows).toDF("vec_id", "embedding")
      GraftTable.create(spark, tdir, toDf(corpus), Seq("vec_id"))
      GraftTable.append(spark, tdir, toDf(batch), Seq("vec_id"))

      // lenient policy: frozen serving, no refit
      val fits0 = Sketches.ivfFits.get()
      val (frozenIdx, frozenAll, refit0) = Sketches.ivfServeTable(spark, tdir, 0, 1,
        nlist = 4, policy = Sketches.IvfDriftPolicy(maxSkew = 1e9, maxAppendFrac = 1e9))
      assert(!refit0 && Sketches.ivfFits.get() == fits0 + 1,
        "lenient policy keeps the frozen quantizer (one corpus fit only)")

      // the measured drift: batch/corpus = 1.0 > 0.5 default; the policy fires
      val stats = Sketches.ivfDriftStats(frozenIdx.assigned,
        frozenAll.join(frozenIdx.assigned.select(col("vec_id").as("cid")),
          col("vec_id") === col("cid"), "left_anti"))
      assert(stats.appendFrac > 0.5, s"append fraction ${stats.appendFrac}")
      assert(Sketches.ivfNeedsRefit(stats, Sketches.IvfDriftPolicy()))

      val fits1 = Sketches.ivfFits.get()
      val (newIdx, newAll, refit1) = Sketches.ivfServeTable(spark, tdir, 0, 1, nlist = 4)
      assert(refit1, "default policy must fire on a 100% append")
      assert(Sketches.ivfFits.get() == fits1 + 1, "re-fit is one fresh build")
      assert(newAll.count() == 200)

      // recall experiment at nprobe=1: midline queries' true neighbors sit
      // on BOTH sides of the old Voronoi split, so the frozen index misses
      // them; the re-fit gives the drifted cluster its own list
      val allVecs = (corpus ++ batch).map { case (id, e) =>
        (id, e.map(_.toDouble).toArray) }.toMap
      def recallAt(all: org.apache.spark.sql.DataFrame): Double = {
        val assign = all.select(col("vec_id"), col("list_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        // the five batch vectors nearest the midline
        val queries = batch.map(_._1).sortBy(id => math.abs(allVecs(id)(0) - 5.0)).take(5)
        queries.map { q =>
          val qv = allVecs(q)
          def d2(id: Long) = allVecs(id).zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum
          val exact = allVecs.keys.filter(_ != q).toSeq
            .sortBy(id => (d2(id), id)).take(5).toSet
          val probed = assign.keys.filter(id => id != q && assign(id) == assign(q)).toSeq
            .sortBy(id => (d2(id), id)).take(5).toSet
          exact.count(probed.contains).toDouble / exact.size
        }.sum / queries.size
      }
      val frozenRecall = recallAt(frozenAll)
      val newRecall = recallAt(newAll)
      assert(frozenRecall <= 0.8,
        s"fixture must demonstrate decay under the frozen quantizer: $frozenRecall")
      assert(newRecall >= 0.95, s"re-fit must recover recall: $newRecall")

      // warm re-serve: both quantizer artifacts (old + new version) stand;
      // nothing refits again
      graft.util.Memo.clearAll()
      val fits2 = Sketches.ivfFits.get()
      val (_, _, refit2) = Sketches.ivfServeTable(spark, tdir, 0, 1, nlist = 4)
      assert(refit2 && Sketches.ivfFits.get() == fits2,
        "re-serve loads the versioned artifacts — zero new fits")

      // scaleNlist: the re-key re-derives nlist from served rows (√N,
      // floored at the current nlist) — how nlist grows with the corpus
      assert(Sketches.nlistFor(200, floor = 4) == 14)
      assert(Sketches.nlistFor(100, floor = 16) == 16, "never coarsens below the floor")
      assert(Sketches.nlistFor(1L << 40) == 65536, "capped: centroids stay broadcastable")
      val (scaled, scaledAll, refit3) =
        Sketches.ivfServeTable(spark, tdir, 0, 1, nlist = 4, scaleNlist = true)
      assert(refit3 && scaled.centers.length == 14 && scaledAll.count() == 200,
        s"scaled re-key must fit nlistFor(200)=14 lists, got ${scaled.centers.length}")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("minhash gate over the table == roster form; banded index keys by snapshot, survives appends") {
    import graft.operators.Sketches
    val tmp = Files.createTempDirectory("graft-table-mh").toString
    spark.conf.set("graft.index.dir", tmp)
    val tdir = freshDir("mhincr")
    try {
      graft.util.Memo.clearAll()
      val oldS = (0 to 9).map(i => s"src$i")
      val all = docs(TestSpark.sf0001)
      GraftTable.create(spark, tdir,
        all.filter(col("source").isin(oldS: _*)), Seq("doc_id"))
      GraftTable.append(spark, tdir,
        all.filter(!col("source").isin(oldS: _*)), Seq("doc_id"))

      val ids = (df: org.apache.spark.sql.DataFrame) =>
        df.select("new_id").collect().map(_.getLong(0)).toSet
      val viaTable = ids(Sketches.minhashGateTable(spark, tdir, 0, 1))
      val viaRoster = ids(Sketches.minhashIngestGate(spark, TestSpark.sf0001, oldS))
      assert(viaTable == viaRoster,
        "table changelog probe must equal the roster-split gate (same data, same hashes)")

      // day N+1: another batch appends as v2 — the snapshot-keyed banded
      // index must be reused, zero new builds
      val builds0 = Sketches.mhIndexBuilds.get()
      GraftTable.append(spark, tdir, all.filter(!col("source").isin(oldS: _*))
        .withColumn("doc_id", col("doc_id") + lit(1000000L)), Seq("doc_id"))
      val v2 = ids(Sketches.minhashGateTable(spark, tdir, 0, 2))
      assert(v2.exists(_ >= 1000000L), "v2 batch rows probed")
      assert(Sketches.mhIndexBuilds.get() == builds0,
        "append must NOT rebuild the snapshot-keyed banded index")

      // corpus rolls forward → new validity key → exactly one rebuild
      Sketches.minhashGateTable(spark, tdir, 1, 2).count()
      assert(Sketches.mhIndexBuilds.get() == builds0 + 1,
        "a corpus snapshot roll must key (and build) a fresh index")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("d16 declared query: plan has no cartesian product and matches the d14 gate on the fixture") {
    val tmp = Files.createTempDirectory("graft-table-d16").toString
    spark.conf.set("graft.index.dir", tmp)
    try {
      graft.util.Memo.clearAll()
      val d16 = SparkEntry.queries("d16_table_ingest_dedup")(spark, TestSpark.sf0001)
      val plan = d16.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), "ingest gate must never go all-pairs")
      val d14 = SparkEntry.queries("d14_incremental_dedup")(spark, TestSpark.sf0001)
      assert(d16.collect().map(_.toString).toSeq == d14.collect().map(_.toString).toSeq,
        "table-path gate must produce d14's exact per-source admit/reject summary")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("changelog stream resolves through DataSource V2 and backfills across a schema evolution") {
    val tdir = freshDir("dsv2")
    val base = docs(TestSpark.sf0001).limit(10)
    GraftTable.create(spark, tdir, base, Seq("doc_id"))
    // an additive evolution lands BEFORE the stream starts: the pinned
    // schema is the evolved (wider) one, so the v0 backfill batch reads
    // pre-evolution parquet files that LACK the new column — the DSv2
    // partition reader must resolve it as null, not fail (the V1-era
    // restart-replay hole, now structural)
    val enriched = docs(TestSpark.sf0001).limit(5)
      .withColumn("doc_id", col("doc_id") + lit(500000L))
      .withColumn("quality", col("n_chars").cast("double") / 100.0)
    GraftTable.append(spark, tdir, enriched, Seq("doc_id"))

    val df = spark.readStream.format("graft-table").option("path", tdir).load()
    assert(df.isStreaming)
    // the public connector path, not a V1 Source: the unresolved relation
    // is a DSv2 streaming relation (guards against a silent fallback)
    val nodeNames = df.queryExecution.analyzed.collect {
      case n => n.getClass.getSimpleName }
    assert(nodeNames.contains("StreamingRelationV2"), nodeNames.mkString(","))

    val q = df.writeStream.format("memory").queryName("s_dsv2")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("s_dsv2")
    assert(got.count() == 15)
    assert(got.filter(col("doc_id") < 500000L).count() == 10)
    assert(got.filter(col("doc_id") < 500000L && col("quality").isNull).count() == 10,
      "pre-evolution files must resolve the added column as null")
    assert(got.filter(col("doc_id") >= 500000L && col("quality").isNotNull).count() == 5)
  }

  test("DSv2 partition reader round-trips array and binary columns through the stream") {
    val tdir = freshDir("dsv2-types")
    import spark.implicits._
    // array<float> (the embeddings shape), array<long>, binary, and a
    // null-element array — every non-scalar branch of the Group decoder
    val rows = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toFloat / 10f),
        Array(i, i * 2), s"blob$i".getBytes("UTF-8"))
    }
    val df = rows.toDF("vec_id", "embedding", "longs", "payload")
    GraftTable.create(spark, tdir, df.limit(20), Seq("vec_id"))
    GraftTable.append(spark, tdir, df.filter(col("vec_id") >= 20), Seq("vec_id"))

    // one more commit with real NULLs (null array, null binary): the
    // decoder's repetition-count-0 branch must emit nulls, not crash
    val nullable = org.apache.spark.sql.types.StructType(df.schema.fields
      .map(_.copy(nullable = true)))
    GraftTable.append(spark, tdir, spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(99L, null, Seq(9L), null)), nullable), Seq("vec_id"))

    val q = spark.readStream.format("graft-table").option("path", tdir).load()
      .writeStream.format("memory").queryName("s_types")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val all = spark.table("s_types").collect()
    val nullRow = all.find(_.getLong(0) == 99L).get
    assert(nullRow.isNullAt(1) && nullRow.getSeq[Long](2) == Seq(9L) && nullRow.isNullAt(3),
      s"null columns must round-trip: $nullRow")
    val got = all.filter(_.getLong(0) != 99L).map { r =>
      (r.getLong(0), r.getSeq[Float](1).toList, r.getSeq[Long](2).toList,
        new String(r.getAs[Array[Byte]](3), "UTF-8"))
    }.toSet
    val want = rows.map(t => (t._1, t._2.toList, t._3.toList,
      new String(t._4, "UTF-8"))).toSet
    assert(got == want, s"missing ${(want -- got).take(2)}, extra ${(got -- want).take(2)}")
  }

  test("stream column pruning reaches the scan: unselected columns are never decoded") {
    val tdir = freshDir("prune")
    import spark.implicits._
    // the 'm' column is a MAP — a type the stream decoder deliberately
    // refuses. readColumns=(id,v) must keep the map column out of both the
    // parquet projection and the decoder, so the stream runs; without the
    // projection every micro-batch would throw on the map.
    val df = (0L until 10L).map(i => (i, Map(s"k$i" -> i), i * 2)).toDF("id", "m", "v")
    GraftTable.create(spark, tdir, df, Seq("id"))
    val q = spark.readStream.format("graft-table").option("path", tdir)
      .option("readColumns", "id,v").load()
      .writeStream.format("memory").queryName("s_prune")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("s_prune").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 10L).map(i => (i, i * 2)).toSet)
  }

  test("maxFilesPerTrigger: bounded backfill, split commits, exactly-once across a mid-backfill restart") {
    val tdir = freshDir("maxfiles")
    import spark.implicits._
    val v0 = (0L until 60L).map(i => (i, s"a$i")).toDF("id", "value")
    GraftTable.create(spark, tdir, v0.repartitionByRange(6, col("id")), Seq("id"))
    GraftTable.append(spark, tdir,
      (100L until 140L).map(i => (i, s"b$i")).toDF("id", "value")
        .repartitionByRange(4, col("id")), Seq("id"))
    // head snapshot = 10 files; with maxFilesPerTrigger=2 the backfill is
    // 5 bounded micro-batches instead of one giant one
    val ckpt = freshDir("maxfiles-ckpt")
    // IDEMPOTENT collector keyed by batchId: foreachBatch is at-least-once
    // (a batch can land in the sink, then the stop() race loses the commit
    // log write → replay on restart). The SOURCE's guarantee is that a
    // replayed batchId carries byte-identical files — asserted below —
    // which is exactly what makes batchId-keyed sinks exactly-once.
    val byBatch = new scala.collection.concurrent.TrieMap[Long, Array[Long]]()
    def start(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("graft-table").option("path", tdir)
        .option("maxFilesPerTrigger", 2).load()
        .writeStream.option("checkpointLocation", ckpt).outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          val ids = df.collect().map(_.getLong(0)).sorted
          byBatch.put(bid, ids).foreach(prev => assert(prev.toSeq == ids.toSeq,
            s"replayed batch $bid must be byte-identical: ${prev.toSeq} vs ${ids.toSeq}"))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    // stop the first run as soon as a bounded batch lands: the checkpoint
    // then holds a composite mid-backfill offset ({"backfill":B,"idx":…})
    val q1 = start()
    val deadline = System.currentTimeMillis() + 60000
    while (byBatch.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q1.stop(); q1.awaitTermination()
    val afterStop = byBatch.values.map(_.length).sum
    assert(afterStop % 20 == 0 && afterStop >= 20,
      s"bounded batches carry 2 files = 20 rows each, got $afterStop rows")
    // resume from the (possibly composite) checkpointed offset and drain
    val q2 = start(); q2.awaitTermination()
    val seen = byBatch.values.toSeq.flatten
    assert(seen.size == 100 && seen.toSet.size == 100,
      s"restart mid-backfill must be exactly-once through the batchId-keyed " +
        s"sink: ${seen.size} rows")
    assert(byBatch.size == 5 && byBatch.values.forall(_.length == 20),
      s"5 x 2-file batches: ${byBatch.view.mapValues(_.length).toMap}")

    // a large commit splits across micro-batches in the tail too
    val before = byBatch.keySet.toSet
    GraftTable.append(spark, tdir,
      (200L until 250L).map(i => (i, s"c$i")).toDF("id", "value")
        .repartitionByRange(5, col("id")), Seq("id"))
    val q3 = start(); q3.awaitTermination()
    val tail = byBatch.filter(kv => !before.contains(kv._1)).values.toSeq
    assert(tail.flatten.size == 50 && tail.flatten.toSet == (200L until 250L).toSet)
    assert(tail.size == 3 && tail.map(_.length.toLong).sorted == Seq(10L, 20L, 20L),
      s"5 files under a 2-file budget = 2+2+1 batches: ${tail.map(_.length)}")
  }

  test("upsert: one atomic MERGE commit — matched keys replace, new keys insert, changelog carries the batch once") {
    val tdir = freshDir("upsert")
    import spark.implicits._
    val base = (0L until 20L).map(i => (i, s"v0-$i")).toDF("id", "value")
    GraftTable.create(spark, tdir,
      base.repartitionByRange(4, col("id")), Seq("id"))

    // update 3 of the 5 rows in the first range file (2 survive its
    // rewrite), insert 5 new keys
    val batch = ((0L until 3L) ++ (100L until 105L))
      .map(i => (i, s"v1-$i")).toDF("id", "value")
    assert(GraftTable.upsert(spark, tdir, "id", batch, Seq("id")) == 1)
    assert(GraftTable.manifest(tdir, 1).op == "upsert")

    val head = GraftTable.read(spark, tdir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(head.size == 25)
    (0L until 3L).foreach(i => assert(head(i) == s"v1-$i", s"id $i must update"))
    (3L until 20L).foreach(i => assert(head(i) == s"v0-$i", s"id $i must survive"))
    (100L until 105L).foreach(i => assert(head(i) == s"v1-$i", s"id $i must insert"))

    // copy-on-write: the three untouched range files carry by reference
    val f0 = GraftTable.manifest(tdir, 0).files.map(_.path).toSet
    val m1 = GraftTable.manifest(tdir, 1)
    assert((f0 & m1.files.map(_.path).toSet).size == 3,
      "only the file containing ids 0-2 may rewrite")
    // the batch's files are arrivals; the rewrite half (ids 3-4) is not
    assert(m1.files.count(f => f.arrival && !f0(f.path)) >= 1)
    assert(m1.files.filter(f => !f.arrival).map(_.records).sum == 2,
      "the rewrite half holds exactly the touched file's surviving rows")

    // changelog (0,1] = exactly the batch rows, once — updates AND inserts
    // are ingest events; the rewritten survivors never re-emit
    val ch = GraftTable.readChanges(spark, tdir, 0, 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch == batch.collect().map(r => (r.getLong(0), r.getString(1))).toSet)

    // time travel: pre-upsert snapshot still serves the old values
    val v0 = GraftTable.read(spark, tdir, Some(0)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v0.size == 20 && v0(2L) == "v0-2" && !v0.contains(100L))

    // history counts only the arrival files as logical adds
    val h = GraftTable.history(spark, tdir).orderBy("version").collect()
    assert(h(1).getString(1) == "upsert" &&
      h(1).getInt(4) == m1.files.count(f => f.arrival && !f0(f.path)))

    // a TAILING stream (checkpointed past v0) sees the upsert as ONE
    // micro-batch of exactly the batch rows — the rewrite never re-emits.
    // (A stream STARTING after the upsert backfills the head snapshot
    // instead: current state, then tail — the Delta-source shape.)
    val ckpt = freshDir("upsert-ckpt")
    val more = (200L until 203L).map(i => (i, s"v2-$i")).toDF("id", "value")
    val seen = scala.collection.mutable.ListBuffer.empty[(Long, String)]
    def drain(): Unit = {
      val q = spark.readStream.format("graft-table").option("path", tdir).load()
        .writeStream.option("checkpointLocation", ckpt).outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getString(1)))
          seen.synchronized { seen ++= rows }; ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain() // backfill: the post-upsert head snapshot (25)
    assert(seen.size == 25)
    seen.clear()
    GraftTable.upsert(spark, tdir, "id", more, Seq("id")) // ids 200-202: pure insert
    GraftTable.upsert(spark, tdir, "id",
      Seq((201L, "v3-201")).toDF("id", "value"), Seq("id")) // one in-place update
    drain() // tail: the two upserts' arrival batches ONLY
    assert(seen.toSet == Set((200L, "v2-200"), (201L, "v2-201"), (202L, "v2-202"),
      (201L, "v3-201")),
      s"tail must be the arrival batches, no rewrite re-emission: ${seen.toSet}")
  }

  test("vacuum retention window: an interleaved slow commit's pre-publish files survive and publish") {
    val tdir = freshDir("vacuum-age")
    val base = docs(TestSpark.sf0001).limit(20)
    GraftTable.create(spark, tdir, base, Seq("doc_id"))

    // a SLOW writer mid-commit: data files landed under the salted v1 slot,
    // manifest not yet published — exactly the window the age guard covers
    val sub = "data/c00001_inflite"
    base.limit(5).coalesce(1).write.parquet(s"$tdir/$sub")
    val inflight = java.nio.file.Files.list(java.nio.file.Paths.get(tdir, sub))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(inflight.nonEmpty)
    // ...and a concurrent publish mid-link (temp manifest present)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tdir, "_log", ".tmp_inflight"), Array[Byte](7))

    // a concurrent vacuum — even at retainVersions = 0 — reclaims NOTHING
    // young: the writer's files and temp manifest are not yet referenced
    // but must survive or its publish would yield a corrupt snapshot
    assert(GraftTable.vacuum(tdir, retainVersions = 0) == 0)
    assert(inflight.forall(java.nio.file.Files.exists(_)))

    // the slow commit now completes: publish a manifest referencing the
    // surviving files (reflection: publish is private, as in the race test)
    val rel = inflight.map(p =>
      java.nio.file.Paths.get(tdir).relativize(p).toString)
    val m0 = GraftTable.manifest(tdir, 0)
    val pubM = GraftTable.getClass.getDeclaredMethods
      .find(_.getName == "publish").get
    pubM.setAccessible(true)
    pubM.invoke(GraftTable, tdir, GraftTable.Manifest(1, "append", m0.schemaDdl,
      m0.files ++ rel.map(GraftTable.TableFile(_, 5, Map.empty)), None))
    assert(GraftTable.read(spark, tdir).count() == 25,
      "the interleaved commit must land intact after the vacuum")

    // once AGED past the window, genuinely crashed leftovers do reclaim
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - GraftTable.DefaultVacuumRetainAgeMs - 60000)
    val stray = java.nio.file.Paths.get(tdir, "data", "stray.parquet")
    java.nio.file.Files.write(stray, Array[Byte](1))
    java.nio.file.Files.setLastModifiedTime(stray, old)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(tdir, "_log", ".tmp_inflight"), old)
    assert(GraftTable.vacuum(tdir) == 2,
      "aged stray data + aged orphan temp manifest reclaim under the default window")
    assert(GraftTable.read(spark, tdir).count() == 25)
  }

  test("string manifest stats: equality predicates skip files; lossy stats types refuse at commit") {
    val tdir = freshDir("strstats")
    val d = docs(TestSpark.sf0001)
      .repartitionByRange(4, col("source")) // files clustered by source
    GraftTable.create(spark, tdir, d, Seq("doc_id", "source"))
    val m = GraftTable.manifest(tdir, 0)
    assert(m.files.size == 4)
    assert(m.files.forall(f => f.strStats.contains("source") && f.stats.contains("doc_id")))

    val probe = docs(TestSpark.sf0001).select("source").distinct()
      .orderBy("source").collect().map(_.getString(0)).head
    // manifest-level: only files whose [min,max] source range covers the
    // probe value are kept — clustered layout makes that a strict subset
    val kept = m.files.count(_.strStats.get("source")
      .forall { case (mn, mx) =>
        GraftTable.strCmp(probe, mn) >= 0 && GraftTable.strCmp(probe, mx) <= 0 })
    assert(kept < m.files.size, s"expected source-file skipping, kept $kept/4")
    val expect = docs(TestSpark.sf0001).filter(col("source") === probe).count()
    assert(GraftTable.scanWhereEq(spark, tdir, None, "source", probe).count() == expect)

    // the SQL relation pushes the string filter into the same skipping
    val viaRelation = spark.read.format("graft-table").option("path", tdir).load()
      .filter(col("source") === probe)
    assert(viaRelation.count() == expect)
    val (read, total) = graft.sources.GraftTableRelation.lastScan.get()
    assert(total == 4 && read == kept, s"relation read $read/$total, manifest says $kept")

    // a double stats column would silently truncate bounds and prune live
    // files — it must refuse at commit time, not corrupt queries later
    val ev = Tables.table(spark, TestSpark.sf0001, "events").limit(10)
    val err = intercept[IllegalArgumentException] {
      GraftTable.create(spark, freshDir("badstats"), ev, Seq("value"))
    }
    assert(err.getMessage.contains("value"))
  }

  test("row-level delete: copy-on-write rewrite, time travel keeps history, changelog skips; d9 as a table op") {
    val tdir = freshDir("delete")
    val all = docs(TestSpark.sf0001)
    val n = all.count()
    GraftTable.create(spark, tdir,
      all.repartitionByRange(4, col("doc_id")), Seq("doc_id"))

    // delete a range that lives in ONE file: untouched files carry over by
    // reference (no rewrite), exactly one file is rewritten
    val cut = all.orderBy("doc_id").limit((n / 8).toInt)
      .agg(max(col("doc_id"))).head.getLong(0)
    val v1 = GraftTable.delete(spark, tdir, col("doc_id") <= cut, Seq("doc_id"))
    assert(v1 == 1 && GraftTable.manifest(tdir, 1).op == "delete")
    val f0 = GraftTable.manifest(tdir, 0).files.map(_.path).toSet
    val f1 = GraftTable.manifest(tdir, 1).files.map(_.path).toSet
    assert((f0 & f1).size == 3, "three untouched files must carry over by reference")
    val deleted = all.filter(col("doc_id") <= cut).count()
    assert(GraftTable.read(spark, tdir).count() == n - deleted)
    assert(GraftTable.read(spark, tdir)
      .agg(min(col("doc_id"))).head.getLong(0) > cut)
    // history is untouched: time travel to v0 still reads the deleted rows
    assert(GraftTable.read(spark, tdir, Some(0)).count() == n)
    // the changelog carries arrivals only — the rewrite contributes nothing
    assert(GraftTable.addedFiles(tdir, 0, 1).isEmpty)
    // a no-match delete is a no-op, not an empty commit
    assert(GraftTable.delete(spark, tdir, col("doc_id") < -1) == 1)
    // NULL predicate rows survive (SQL three-valued delete)
    // appends continue; per-commit changelog stays exact across the delete
    val extra = all.filter(col("doc_id") <= cut).limit(7)
    GraftTable.append(spark, tdir, extra, Seq("doc_id"))
    assert(GraftTable.readChanges(spark, tdir, 1, 2).count() == 7)

    // d9 keep-one as a TABLE operation: drop the non-canonical near-dup
    // group members via the key-set form (anti-join, no driver id list),
    // then the surviving table matches the declared query's per-lang counts
    val tdir2 = freshDir("delete-d9")
    GraftTable.create(spark, tdir2, all, Seq("doc_id"))
    val labels = graft.operators.Components.connectedComponentsCached(
      graft.operators.DocSimilarity.nearDupPairs(spark, TestSpark.sf0001)
        .select(col("d1").as("a"), col("d2").as("b")),
      cacheKey = s"${TestSpark.sf0001}#neardup", assumeCanonical = true)
    val dropped = labels.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
    GraftTable.deleteKeys(spark, tdir2, "doc_id", dropped, Seq("doc_id"))
    val gotByLang = GraftTable.read(spark, tdir2)
      .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wantByLang = SparkEntry.queries("d9_dedup_survivors")(spark, TestSpark.sf0001)
      .select("lang", "n_kept")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotByLang == wantByLang,
      "deduped table must match d9's oracle-checked per-lang survivor counts")
  }

  /** The SQL write surface: DataFrameWriter save() under every SaveMode and
    * INSERT INTO / INSERT OVERWRITE through a view — all landing as the
    * same atomic versioned commits, stats columns preserved throughout. */
  test("DataFrameWriter + SQL INSERT over graft-table: modes map to commits, stats survive") {
    val tdir = freshDir("writer")
    def batch(from: Long, n: Long, src: String) =
      spark.range(from, from + n).select(col("id").as("doc_id"), lit(src).as("source"))
    batch(0, 100, "s0").write.format("graft-table")
      .option("path", tdir).option("statsColumns", "doc_id,source").save()
    assert(GraftTable.currentVersion(tdir).contains(0))
    assert(GraftTable.statsColsOf(tdir) == Seq("doc_id", "source"))

    batch(100, 20, "s1").write.format("graft-table")
      .option("path", tdir).mode("append").save()
    assert(GraftTable.read(spark, tdir).count() == 120)
    // appended files carry stats without re-declaring statsColumns
    assert(GraftTable.manifest(tdir, 1).files.forall(f =>
      f.stats.contains("doc_id") && f.strStats.contains("source")))
    // a disagreeing statsColumns option must refuse, not silently switch
    val e0 = intercept[IllegalArgumentException] {
      batch(0, 1, "x").write.format("graft-table")
        .option("path", tdir).option("statsColumns", "doc_id").mode("append").save()
    }
    assert(e0.getMessage.contains("skipping schema"))

    intercept[IllegalStateException] { // default ErrorIfExists on existing
      batch(0, 1, "x").write.format("graft-table").option("path", tdir).save()
    }
    batch(0, 1, "x").write.format("graft-table")
      .option("path", tdir).mode("ignore").save() // no-op
    assert(GraftTable.read(spark, tdir).count() == 120)

    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW w_v USING `graft-table` OPTIONS (path '$tdir')")
    spark.sql("INSERT INTO w_v SELECT id + 200 AS doc_id, 'sX' AS source FROM range(10)")
    assert(spark.table("w_v").count() == 130)
    assert(GraftTable.readChanges(spark, tdir, 1, 2).count() == 10,
      "SQL insert is an ingest — the changelog carries exactly the batch")

    spark.sql("INSERT OVERWRITE w_v SELECT id + 500 AS doc_id, 'sY' AS source FROM range(5)")
    assert(spark.table("w_v").count() == 5, "overwrite truncates the live view")
    assert(GraftTable.read(spark, tdir, Some(2)).count() == 130,
      "pre-overwrite snapshot stays time-travelable")
    val ops = GraftTable.history(spark, tdir).orderBy(col("version"))
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("create", "append", "append", "overwrite"))
    assert(GraftTable.readChanges(spark, tdir, 2, 3).count() == 5,
      "an overwrite's rows are fresh arrivals to a tailing stream")

    // a pinned view refuses inserts — snapshots are immutable
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW w_pin USING `graft-table` " +
      s"OPTIONS (path '$tdir', versionAsOf '0')")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO w_pin SELECT 1L AS doc_id, 'z' AS source")
    }
    assert(e.getMessage.contains("immutable"), e.getMessage)
  }

  /** The expanding-box kNN's termination certificate reasons over the tile
    * DOMAIN from manifest stats; a table whose files lack tile-column
    * stats must fail FAST with the contract spelled out — not silently
    * understate the domain and truncate the answer (round-9 advice). */
  test("pointKnnOverTable fails fast when manifest files lack tile-column stats") {
    val tdir = freshDir("knnstats")
    val pts = spark.range(0, 50).select(
      col("id").as("user_id"), col("id").as("event_id"),
      (col("id") % 10).cast("double").as("x"),
      (col("id") % 7).cast("double").as("y"),
      floor(col("id") % 10).as("tx"), floor(col("id") % 7).as("ty"))
    GraftTable.create(spark, tdir, pts, Seq("user_id")) // no tx/ty stats
    val e = intercept[IllegalArgumentException] {
      graft.operators.TrajectorySearch.pointKnnOverTable(spark, tdir, 1.0, 1.0, 5)
    }
    assert(e.getMessage.contains("tile-column stats") && e.getMessage.contains("'tx'"))
  }

  /** Native streaming WRITE (`writeStream.format("graft-table")`, the V1
    * sink): a table-to-table pipeline with zero foreachBatch wiring —
    * changelog stream in, exactly-once commits out. */
  test("native streaming sink: table-to-table append with txn tokens and declared stats") {
    val src = freshDir("v1sink-src")
    val dst = freshDir("v1sink-dst")
    val ckpt = freshDir("v1sink-ckpt")
    val rows = docs(TestSpark.sf0001).orderBy("doc_id").limit(30).collect()
    def slice(a: Int, b: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.slice(a, b).toSeq, 1),
      docs(TestSpark.sf0001).schema)
    GraftTable.create(spark, src, slice(0, 10), Seq("doc_id"))

    val q = spark.readStream.format("graft-table").option("path", src).load()
      .writeStream.format("graft-table")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .option("statsColumns", "doc_id")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(GraftTable.read(spark, dst).count() == 10)
      GraftTable.append(spark, src, slice(10, 30), Seq("doc_id"))
      q.processAllAvailable()
      assert(GraftTable.read(spark, dst).select("doc_id")
        .collect().map(_.getLong(0)).toSet == rows.map(_.getLong(0)).toSet)
      val head = GraftTable.currentVersion(dst).get
      val m = GraftTable.manifest(dst, head)
      // exactly-once identity derived from the checkpoint location
      assert(m.txn.exists(_._1.startsWith("ckpt-")),
        s"expected a ckpt-derived txn token, got ${m.txn}")
      // the declared statsColumns reached the manifest — files stay prunable
      assert(m.files.forall(_.stats.contains("doc_id")))
    } finally q.stop()
  }

  test("native streaming sink: re-delivered micro-batch is a no-op (crash-recovery token)") {
    import org.apache.spark.sql.streaming.OutputMode
    val tdir = freshDir("v1sink-redeliver")
    val sink = new graft.sources.GraftTableSink(
      spark.sqlContext, tdir, "app-x", Seq("doc_id"), OutputMode.Append())
    val two = spark.range(0, 2).select(col("id").as("doc_id"))
    sink.addBatch(0, two)
    val v0 = GraftTable.currentVersion(tdir).get
    sink.addBatch(0, two) // re-delivery after crash recovery
    assert(GraftTable.currentVersion(tdir).contains(v0),
      "a re-delivered batchId must not publish a second commit")
    assert(GraftTable.read(spark, tdir).count() == 2)
    sink.addBatch(1, spark.range(2, 5).select(col("id").as("doc_id")))
    assert(GraftTable.read(spark, tdir).count() == 5)
  }

  test("native streaming sink: Update mode refuses on ANY construction path") {
    import org.apache.spark.sql.streaming.OutputMode
    // the provider's createSink refuses Update, but a directly-constructed
    // sink must hold the same invariant — Update re-emissions would
    // silently append as duplicate rows
    val e = intercept[IllegalArgumentException] {
      new graft.sources.GraftTableSink(
        spark.sqlContext, freshDir("v1sink-upd"), "app-u", Nil,
        OutputMode.Update())
    }
    assert(e.getMessage.contains("Append and Complete"))
  }

  test("native streaming sink: Complete mode maintains the aggregate head exactly-once") {
    val src = freshDir("v1sink-csrc")
    val dst = freshDir("v1sink-cdst")
    val ckpt = freshDir("v1sink-cckpt")
    GraftTable.create(spark, src, docs(TestSpark.sf0001).limit(40), Nil)

    val q = spark.readStream.format("graft-table").option("path", src).load()
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .writeStream.format("graft-table")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val expect1 = docs(TestSpark.sf0001).limit(40).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def headMap() = GraftTable.read(spark, dst)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(headMap() == expect1)

      GraftTable.append(spark, src, docs(TestSpark.sf0001)
        .orderBy(col("doc_id").desc).limit(25), Nil)
      q.processAllAvailable()
      // each batch OVERWRITES: the head is always exactly the latest full
      // aggregate, never an append-mode union of successive results
      val m = GraftTable.manifest(dst, GraftTable.currentVersion(dst).get)
      assert(m.op == "overwrite" && m.txn.nonEmpty)
      assert(headMap().values.sum == 65)
      // pre-overwrite snapshots stay time-travelable
      assert(GraftTable.read(spark, dst, Some(0))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expect1)
    } finally q.stop()
  }

  /** Shallow clone: zero-copy branching — the dev/test workflow over a
    * 100 TB production table (clone = one manifest write; mutations
    * copy-on-write into the clone; compact materializes). */
  test("shallow clone: zero data copied, reads equal, stats carried, changelog backfills") {
    val src = freshDir("clone-src")
    val dst = freshDir("clone-dst")
    GraftTable.create(spark, src, docs(TestSpark.sf0001).limit(20), Seq("doc_id"))
    GraftTable.append(spark, src,
      docs(TestSpark.sf0001).orderBy(col("doc_id").desc).limit(10), Seq("doc_id"))

    assert(GraftTable.cloneShallow(spark, src, dst) == 0)
    // zero-copy: the clone owns NO parquet of its own
    val dataDir = java.nio.file.Paths.get(s"$dst/data")
    if (Files.isDirectory(dataDir)) {
      val walk = Files.walk(dataDir)
      try assert(walk.iterator().asScala
        .count(p => p.toString.endsWith(".parquet")) == 0)
      finally walk.close()
    }
    // reads equal the source head
    val srcIds = GraftTable.read(spark, src).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(GraftTable.read(spark, dst).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq == srcIds)
    // the skipping declaration rides along
    assert(GraftTable.statsColsOf(dst) == Seq("doc_id"))
    // the cloned files are the clone's ARRIVALS — a stream feeding from
    // the clone's inception backfills them once, exactly like a create
    // (v0 backfill is the streaming source's job; readChanges(from,to) is
    // exclusive of `from`, so the equivalent batch read is over v0's files)
    val m0 = GraftTable.manifest(dst, 0)
    assert(m0.op == "clone" && m0.files.nonEmpty && m0.files.forall(_.arrival))
    assert(m0.files.forall(_.path.startsWith("/")),
      "clone v0 must reference the source's files absolutely")
    // cloning over an existing table refuses
    intercept[IllegalArgumentException] {
      GraftTable.cloneShallow(spark, src, dst)
    }
    // an out-of-range pin fails with the restore-style message, not raw IO
    val eV = intercept[IllegalArgumentException] {
      GraftTable.cloneShallow(spark, src, freshDir("clone-badv"), Some(99))
    }
    assert(eV.getMessage.contains("no snapshot v99"))
  }

  test("shallow clone: the changelog stream backfills the cloned snapshot through absolute paths") {
    val src = freshDir("clone-stream-src")
    val dst = freshDir("clone-stream-dst")
    GraftTable.create(spark, src, docs(TestSpark.sf0001).limit(12), Seq("doc_id"))
    GraftTable.cloneShallow(spark, src, dst)
    val q = spark.readStream.format("graft-table").option("path", dst).load()
      .writeStream.format("memory").queryName("clone_backfill")
      .option("checkpointLocation", freshDir("clone-stream-ckpt")).start()
    try {
      q.processAllAvailable()
      // the v0 backfill planned the clone's ABSOLUTE file entries
      assert(spark.table("clone_backfill").count() == 12)
      // a post-clone append streams incrementally like any table
      GraftTable.append(spark, dst,
        docs(TestSpark.sf0001).orderBy(col("doc_id").desc).limit(4), Seq("doc_id"))
      q.processAllAvailable()
      assert(spark.table("clone_backfill").count() == 16)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS clone_backfill")
    }
  }

  test("time-based vacuum retention: snapshots inside the window survive, older history reclaims") {
    val tdir = freshDir("vac-time")
    GraftTable.create(spark, tdir, docs(TestSpark.sf0001).limit(10), Seq("doc_id"))
    GraftTable.overwrite(spark, tdir, docs(TestSpark.sf0001).limit(6), Seq("doc_id"))
    GraftTable.overwrite(spark, tdir, docs(TestSpark.sf0001).limit(3), Seq("doc_id"))
    // backdate v0/v1's RECORDED commit time past the retention window (v2 =
    // head stays fresh). Manifest file MTIMES are deliberately left fresh —
    // the restore/rsync scenario — proving retention reads the recorded
    // commit time, not filesystem metadata.
    val oldMs = System.currentTimeMillis() - 48L * 3600 * 1000
    def backdateCommit(v: Int): Unit = {
      val p = java.nio.file.Paths.get(f"$tdir/_log/v$v%05d.manifest")
      val body = new String(Files.readAllBytes(p), "UTF-8")
      assert(body.contains("commitMs\t"), "publish must record a commit time")
      Files.write(p, body.replaceAll("(?m)^commitMs\t\\d+$",
        s"commitMs\t$oldMs").getBytes("UTF-8"))
    }
    backdateCommit(0); backdateCommit(1)
    // legacy manifests (no commitMs field) fall back to the file mtime:
    // strip v0's field and backdate its mtime — it must still count as old
    val p0 = java.nio.file.Paths.get(f"$tdir/_log/v00000.manifest")
    Files.write(p0, new String(Files.readAllBytes(p0), "UTF-8")
      .replaceAll("(?m)^commitMs\t\\d+\n", "").getBytes("UTF-8"))
    Files.setLastModifiedTime(p0,
      java.nio.file.attribute.FileTime.fromMillis(oldMs))
    assert(GraftTable.manifest(tdir, 0).commitMs == 0L)

    val n = GraftTable.vacuumRetainTime(tdir, retainMs = 24L * 3600 * 1000,
      retainAgeMs = 0)
    assert(n > 0, "expired history must reclaim files")
    // the head survives and reads exactly
    assert(GraftTable.read(spark, tdir).count() == 3)
    // time travel INSIDE the window works, past it is gone
    intercept[Exception] { GraftTable.read(spark, tdir, Some(0)).count() }
    // a cold table (head older than the window) must stay readable
    backdateCommit(2)
    GraftTable.vacuumRetainTime(tdir, retainMs = 1000, retainAgeMs = 0)
    assert(GraftTable.read(spark, tdir).count() == 3)
  }

  test("time-based vacuum: a corrupted commitMs value degrades to the mtime fallback, never throws") {
    val tdir = freshDir("vac-corrupt")
    GraftTable.create(spark, tdir, docs(TestSpark.sf0001).limit(6), Seq("doc_id"))
    GraftTable.overwrite(spark, tdir, docs(TestSpark.sf0001).limit(3), Seq("doc_id"))
    // corrupt v0's recorded commit time (torn write / bit rot in the kv
    // header) and backdate its MTIME: the horizon resolver must treat it
    // exactly like a legacy pre-commitMs manifest (mtime path), so the old
    // snapshot still expires — and nothing throws NumberFormatException
    val p0 = java.nio.file.Paths.get(f"$tdir/_log/v00000.manifest")
    Files.write(p0, new String(Files.readAllBytes(p0), "UTF-8")
      .replaceAll("(?m)^commitMs\t\\d+$", "commitMs\tgarbage!!").getBytes("UTF-8"))
    Files.setLastModifiedTime(p0, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000))
    val n = GraftTable.vacuumRetainTime(tdir, retainMs = 24L * 3600 * 1000,
      retainAgeMs = 0)
    assert(n > 0, "the corrupted-header snapshot must still expire via mtime")
    assert(GraftTable.read(spark, tdir).count() == 3)
  }

  test("shallow clone: refuses a vacuumed snapshot before publishing; survives encoded paths") {
    // source directory with a URI-encodable character: input_file_name()
    // yields file:/…my%20tables%2F… — the touched-file probe must decode
    // before matching the clone's raw absolute manifest entries, or a
    // delete on the clone silently rewrites nothing
    val root = Files.createTempDirectory("graft clone enc")
    val src = root.resolve("s").toString
    val dst = root.resolve("d").toString
    GraftTable.create(spark, src, docs(TestSpark.sf0001).limit(20), Seq("doc_id"))
    GraftTable.cloneShallow(spark, src, dst)
    val before = GraftTable.read(spark, dst).count()
    GraftTable.delete(spark, dst, col("doc_id") % 2 === 0, Seq("doc_id"))
    val after = GraftTable.read(spark, dst).count()
    assert(after < before && after > 0,
      s"delete on an encoded-path clone must rewrite the touched files (kept $after of $before)")

    // clone of a vacuumed-away snapshot refuses BEFORE publishing
    GraftTable.overwrite(spark, src, docs(TestSpark.sf0001).limit(5), Seq("doc_id"))
    GraftTable.vacuum(src, retainVersions = 0, retainAgeMs = 0)
    val dead = root.resolve("dead").toString
    val eGone = intercept[IllegalArgumentException] {
      GraftTable.cloneShallow(spark, src, dead, version = Some(0))
    }
    assert(eGone.getMessage.contains("vacuumed"))
    // nothing was published: the dir is still clonable from a live snapshot
    assert(GraftTable.currentVersion(dead).isEmpty)
    GraftTable.cloneShallow(spark, src, dead)
    assert(GraftTable.read(spark, dead).count() == 5)
  }

  test("shallow clone: divergence is independent both ways; compact materializes the clone") {
    val src = freshDir("clone2-src")
    val dst = freshDir("clone2-dst")
    GraftTable.create(spark, src, docs(TestSpark.sf0001).limit(20), Seq("doc_id"))
    GraftTable.cloneShallow(spark, src, dst)
    val srcN = GraftTable.read(spark, src).count()

    // mutate the CLONE: copy-on-write rewrite lands in the clone's data/,
    // the source is untouched
    GraftTable.delete(spark, dst, col("doc_id") % 2 === 0, Seq("doc_id"))
    assert(GraftTable.read(spark, src).count() == srcN)
    val dstN = GraftTable.read(spark, dst).count()
    assert(dstN < srcN && dstN > 0)
    // mutate the SOURCE: the clone is pinned to the cloned snapshot
    GraftTable.append(spark, src, docs(TestSpark.sf0001)
      .orderBy(col("doc_id").desc).limit(5), Seq("doc_id"))
    assert(GraftTable.read(spark, dst).count() == dstN)

    // time-travel clone of the pre-delete source snapshot
    val dst0 = freshDir("clone2-dst0")
    GraftTable.cloneShallow(spark, src, dst0, version = Some(0))
    assert(GraftTable.read(spark, dst0).count() == srcN)

    // compact = materialize: the head references only clone-local files
    GraftTable.compact(spark, dst, targetFiles = 2, statsCols = Seq("doc_id"))
    val head = GraftTable.manifest(dst, GraftTable.currentVersion(dst).get)
    assert(head.files.nonEmpty && head.files.forall(!_.path.startsWith("/")),
      s"materialized head must hold table-relative files, got ${head.files.map(_.path)}")
    assert(GraftTable.read(spark, dst).count() == dstN)
    // clone-side vacuum never reaches the source's files (they live
    // outside the clone's root); the clone survives it fully
    GraftTable.vacuum(dst, retainVersions = 0, retainAgeMs = 0)
    assert(GraftTable.read(spark, src).count() == srcN + 5)
    assert(GraftTable.read(spark, dst).count() == dstN)
  }

  test("native streaming sink: an empty first micro-batch does not erase the declared stats schema") {
    import org.apache.spark.sql.streaming.OutputMode
    val tdir = freshDir("v1sink-empty0")
    val sink = new graft.sources.GraftTableSink(
      spark.sqlContext, tdir, "app-e", Seq("doc_id"), OutputMode.Append())
    // batch 0 delivers zero rows: the create commits no files, so the head
    // is BOUNDLESS and statsColsOf yields Nil — the declared statsColumns
    // must survive into batch 1 instead of tripping the disagreement check
    sink.addBatch(0, spark.range(0, 0).select(col("id").as("doc_id")))
    assert(GraftTable.currentVersion(tdir).contains(0))
    sink.addBatch(1, spark.range(0, 4).select(col("id").as("doc_id")))
    val m = GraftTable.manifest(tdir, GraftTable.currentVersion(tdir).get)
    assert(m.files.nonEmpty && m.files.forall(_.stats.contains("doc_id")),
      "the stream's declared skipping schema must re-establish after an empty batch 0")
    assert(GraftTable.read(spark, tdir).count() == 4)
  }

  test("native streaming sink: Update mode and missing identity refuse with clear errors") {
    val src = freshDir("v1sink-rsrc")
    GraftTable.create(spark, src, docs(TestSpark.sf0001).limit(5), Nil)
    val stream = spark.readStream.format("graft-table").option("path", src).load()
    val eMode = intercept[IllegalArgumentException] {
      stream.groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .writeStream.format("graft-table")
        .option("path", freshDir("v1sink-rdst"))
        .option("checkpointLocation", freshDir("v1sink-rckpt"))
        .outputMode("update").start()
    }
    assert(eMode.getMessage.contains("Append and Complete"))
    val eId = intercept[IllegalArgumentException] {
      stream.writeStream.format("graft-table")
        .option("path", freshDir("v1sink-rdst2")).start()
    }
    assert(eId.getMessage.contains("appId"))
  }

  test("p36 shard export: shard-clustered table manifest counts match the declared manifest query") {
    val tdir = freshDir("shards")
    val d = docs(TestSpark.sf0001)
      .select(col("doc_id"),
        expr("size(filter(split(text,' '), x -> x <> ''))").cast("long").as("ntok"))
    val assigned = graft.operators.ShardPack.assignShards(d, "ntok", targetTokens = 2048L)
    val expected = assigned.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nShards = expected.size
    // shard-clustered write: range partitioning keeps each shard in ONE
    // partition (never split across files), so manifest shard stats are
    // tight and a per-shard read prunes to that shard's files
    GraftTable.create(spark, tdir,
      assigned.repartitionByRange(nShards, col("shard_id")), Seq("shard_id"))
    val m = GraftTable.manifest(tdir, 0)
    assert(m.files.map(_.records).sum == d.count(),
      "manifest total records must equal the corpus")
    // range files must not overlap in shard span
    val spans = m.files.flatMap(_.stats.get("shard_id")).sortBy(_._1)
    spans.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"overlapping shard spans in the manifest: $spans")
      case _ =>
    }
    // manifest-pruned per-shard reads land exactly the declared counts
    expected.keys.toSeq.sorted.take(5).foreach { sid =>
      val got = GraftTable.scanWhere(spark, tdir, None, "shard_id", sid, sid)
      assert(got.count() == expected(sid)._1, s"shard $sid doc count")
      assert(got.agg(sum(col("ntok"))).collect()(0).getLong(0) == expected(sid)._2,
        s"shard $sid token count")
    }
  }

  test("assignShards: groupSize is an implementation detail — identical layout at 1/7/256/4096") {
    // the group decomposition of the distributed prefix sum must never
    // leak into the assignment: any groupSize yields the same exact
    // exclusive prefix, hence the same shard ids
    val d = docs(TestSpark.sf0001)
      .select(col("doc_id"),
        expr("size(filter(split(text,' '), x -> x <> ''))").cast("long").as("ntok"))
    def layout(gs: Long) = graft.operators.ShardPack
      .assignShards(d, "ntok", targetTokens = 512L, groupSize = gs)
      .select(col("doc_id"), col("shard_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = layout(4096L)
    Seq(1L, 7L, 256L).foreach(gs =>
      assert(layout(gs) == base, s"groupSize $gs changed the shard layout"))
    // and the startTokens carry shifts every cum by exactly the offset
    val shifted = graft.operators.ShardPack
      .assignShards(d, "ntok", targetTokens = 512L, startTokens = 512L * 3)
      .select(col("doc_id"), col("shard_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shifted == base.map { case (k, v) => k -> (v + 3) },
      "a whole-shard carry must shift every assignment by exactly that many shards")
  }

  test("continuous shard export: batched appendAssign == one-shot assignShards; out-of-order refuses") {
    val tdir = freshDir("shards-incr")
    val d = docs(TestSpark.sf0001)
      .select(col("doc_id"),
        expr("size(filter(split(text,' '), x -> x <> ''))").cast("long").as("ntok"))
    // one-shot reference layout over the whole corpus
    val want = graft.operators.ShardPack.assignShards(d, "ntok", targetTokens = 2048L)
      .select(col("doc_id"), col("shard_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // arrive in 3 doc_id-ordered batches (the append convention)
    val ids = d.select(col("doc_id")).orderBy(col("doc_id"))
      .collect().map(_.getLong(0))
    val cuts = Seq(ids(ids.length / 3), ids(2 * ids.length / 3))
    val batches = Seq(
      d.filter(col("doc_id") <= cuts(0)),
      d.filter(col("doc_id") > cuts(0) && col("doc_id") <= cuts(1)),
      d.filter(col("doc_id") > cuts(1)))
    batches.foreach(b =>
      graft.operators.ShardPack.appendAssign(spark, tdir, b, "ntok", 2048L))
    val got = GraftTable.read(spark, tdir)
      .select(col("doc_id"), col("shard_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      "batched incremental export must assign exactly the one-shot layout")
    assert(GraftTable.currentVersion(tdir).contains(2), "3 batches = 3 commits")
    // append-stability guard: re-sending an already-exported id refuses
    val e = intercept[IllegalArgumentException] {
      graft.operators.ShardPack.appendAssign(spark, tdir,
        batches(0).limit(1), "ntok", 2048L)
    }
    assert(e.getMessage.contains("must exceed"), e.getMessage)
  }
}
