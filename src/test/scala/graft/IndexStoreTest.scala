package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches
import graft.sources.IndexStore

/** Build-once/query-many index artifacts: a second "session" (memo cleared)
  * must LOAD the parquet artifact instead of re-running the build scan, and
  * the loaded index must be byte-identical to the built one. */
class IndexStoreTest extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  test("IVF artifact: cold session loads centers+assignment, skipping the k-means fit") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx").toString
    spark.conf.set("graft.index.dir", tmp)
    try {
      graft.util.Memo.clearAll()
      val (idx1, cold) = timed {
        val i = Sketches.buildIvfIndex(spark, TestSpark.sf001)
        i.assigned.count() // force the assignment pass
        i
      }
      assert(!idx1.fromArtifact, "first build must fit")
      graft.util.Memo.clearAll() // simulate a new session: in-memory memo gone
      val (idx2, warm) = timed {
        val i = Sketches.buildIvfIndex(spark, TestSpark.sf001)
        i.assigned.count()
        i
      }
      assert(idx2.fromArtifact, "second session must load the artifact")
      assert(idx2.centers.map(_.toSeq).toSeq == idx1.centers.map(_.toSeq).toSeq)
      val a1 = idx1.assigned.select("vec_id", "list_id").orderBy("vec_id")
        .collect().map(_.toString).toSeq
      val a2 = idx2.assigned.select("vec_id", "list_id").orderBy("vec_id")
        .collect().map(_.toString).toSeq
      assert(a1 == a2)
      assert(warm < cold, s"artifact load ($warm s) should beat k-means build ($cold s)")
      // two queries against one memoized index: still a single build
      val q1 = Sketches.annIvfKnn(spark, TestSpark.sf001, 0L).collect()
      val q2 = Sketches.annIvfKnn(spark, TestSpark.sf001, 1L).collect()
      assert(q1.nonEmpty && q2.nonEmpty)
      assert(Sketches.buildIvfIndex(spark, TestSpark.sf001) eq idx2, "memo reused across queries")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("hamming pack artifact: second session loads the packed column; v8 answers unchanged") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx-ham").toString
    spark.conf.set("graft.index.dir", tmp)
    try {
      graft.util.Memo.clearAll()
      val (p1, from1) = Sketches.hammingPack(spark, TestSpark.sf001)
      val rows1 = p1.orderBy("vec_id").collect().map(_.toString).toSeq
      assert(!from1, "first call must build")
      graft.util.Memo.clearAll()
      val (p2, from2) = Sketches.hammingPack(spark, TestSpark.sf001)
      assert(from2, "second session must load the artifact")
      assert(p2.orderBy("vec_id").collect().map(_.toString).toSeq == rows1)
      val knn = SparkEntry.queries("v8_hamming_knn")(spark, TestSpark.sf001).collect()
      assert(knn.length == 10)
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("trajArrays artifact: reload serves identical arrays and boxes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx2").toString
    spark.conf.set("graft.index.dir", tmp)
    try {
      graft.util.Memo.clearAll()
      val t1 = Tables.trajArrays(spark, TestSpark.sf0001).orderBy("user_id")
        .collect().map(_.toString).toSeq
      assert(IndexStore.exists(spark,
        IndexStore.artifactPath(spark, TestSpark.sf0001, "traj_purchase_f4")))
      graft.util.Memo.clearAll()
      val t2 = Tables.trajArrays(spark, TestSpark.sf0001).orderBy("user_id")
        .collect().map(_.toString).toSeq
      assert(t1 == t2)
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  /** Round-7 contract test: the fingerprint key must make a MUTATED source
    * rebuild its artifacts end-to-end (not just change a path string), while
    * an untouched source keeps loading them. */
  test("staleness contract: untouched source reuses artifacts; mutated source rebuilds them") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmpIdx = Files.createTempDirectory("graft-idx-stale").toString
    val data = Files.createTempDirectory("graft-data-stale").toString
    spark.conf.set("graft.index.dir", tmpIdx)
    try {
      for (t <- Seq("embeddings", "events"))
        Files.copy(Paths.get(s"${TestSpark.sf0001}/$t.parquet"),
          Paths.get(s"$data/$t.parquet"))

      // hamming pack over embeddings
      graft.util.Memo.clearAll()
      val (p1, from1) = Sketches.hammingPack(spark, data)
      val rows1 = p1.orderBy("vec_id").collect().map(_.toString).toSeq
      assert(!from1, "first build must run")
      graft.util.Memo.clearAll()
      val (p2, from2) = Sketches.hammingPack(spark, data)
      assert(from2, "untouched source dir must serve the artifact")
      assert(p2.orderBy("vec_id").collect().map(_.toString).toSeq == rows1)

      // trajArrays (slice-box / tile feed) over events
      graft.util.Memo.clearAll()
      val u1 = Tables.trajArrays(spark, data).count()
      assert(IndexStore.exists(spark,
        IndexStore.artifactPath(spark, data, "traj_purchase_f4")))

      // REGENERATE the source dir: same table names, different content
      for (t <- Seq("embeddings", "events"))
        Files.copy(Paths.get(s"${TestSpark.sf001}/$t.parquet"),
          Paths.get(s"$data/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)

      graft.util.Memo.clearAll()
      val (p3, from3) = Sketches.hammingPack(spark, data)
      assert(!from3, "mutated source must REBUILD, never serve the stale artifact")
      // both SFs hold 500 vectors — the CONTENT differs, and the rebuilt
      // pack must reflect the new content, not the stale artifact's
      assert(p3.orderBy("vec_id").collect().map(_.toString).toSeq != rows1,
        "rebuilt artifact must reflect the new source content")

      graft.util.Memo.clearAll()
      val u2 = Tables.trajArrays(spark, data).count()
      assert(u2 != u1, "trajArrays artifact must rebuild from the new events")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("incremental mask index: roster+content-keyed artifact, reused after a session reset") {
    import graft.operators.DocSimilarity
    val tmpIdx = java.nio.file.Files.createTempDirectory("graft-idx-incr").toString
    spark.conf.set("graft.index.dir", tmpIdx)
    def artifacts(): Seq[String] =
      Option(new java.io.File(tmpIdx).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("k_"))
        .flatMap(d => Option(d.listFiles()).toSeq.flatten
          .filter(_.getName == "incr_mask").map(_ => d.getName))
        .sorted
    try {
      val olds = (0 to 9).map(i => s"src$i")
      graft.util.Memo.clearAll()
      val p1 = DocSimilarity.incrementalNearDups(spark, TestSpark.sf0001, olds)
        .orderBy("old_id", "new_id").collect().map(_.toString).toSeq
      assert(p1.nonEmpty)
      val a1 = artifacts()
      assert(a1.size == 1, s"corpus mask index must persist as ONE artifact, got $a1")

      // a fresh "session" (memo cleared) must serve identical pairs from the
      // persisted corpus index
      graft.util.Memo.clearAll()
      val p2 = DocSimilarity.incrementalNearDups(spark, TestSpark.sf0001, olds)
        .orderBy("old_id", "new_id").collect().map(_.toString).toSeq
      assert(p2 == p1)
      assert(artifacts() == a1, "rebuild must reuse the artifact, not write a second one")

      // a different corpus roster is a DIFFERENT index artifact
      graft.util.Memo.clearAll()
      DocSimilarity.incrementalNearDups(spark, TestSpark.sf0001,
        (0 to 4).map(i => s"src$i")).count()
      assert(artifacts().size == 2, "roster change must key a new artifact")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  /** Round-8 directive #1: the corpus index is keyed by (roster, corpus-
    * subset content), NOT the whole data dir — so a daily batch APPEND to
    * the same table must REUSE yesterday's index (no corpus re-group), while
    * any corpus-row change must rebuild it. */
  test("incremental mask index survives a batch append; corpus change rebuilds it") {
    import java.nio.file.{Files, Paths}
    import graft.operators.DocSimilarity
    val tmpIdx = Files.createTempDirectory("graft-idx-incr2").toString
    val data = Files.createTempDirectory("graft-data-incr2").toString
    // documents as a parquet DIRECTORY so files can be appended like a real
    // ingest (Spark reads file and directory layouts identically)
    Files.createDirectory(Paths.get(s"$data/documents.parquet"))
    Files.copy(Paths.get(s"${TestSpark.sf0001}/documents.parquet"),
      Paths.get(s"$data/documents.parquet/part-00000.parquet"))
    spark.conf.set("graft.index.dir", tmpIdx)
    try {
      val olds = (0 to 9).map(i => s"src$i")
      def reset(): Unit = graft.util.Memo.clearAll()

      reset()
      val builds0 = DocSimilarity.incrMaskBuilds.get()
      val p1 = DocSimilarity.incrementalNearDups(spark, data, olds)
        .orderBy("old_id", "new_id").collect().map(_.toString).toSeq
      assert(p1.nonEmpty)
      assert(DocSimilarity.incrMaskBuilds.get() == builds0 + 1, "first call builds")

      // INGEST: append a new-batch file (source outside the roster) — reuse
      // near-dup-rich content by cloning existing batch docs under new ids
      val batch = Tables.table(spark, data, "documents")
        .filter(!col("source").isin(olds: _*))
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"), col("lang"),
          lit("src_ingest").as("source"), col("n_chars"))
      val tmp = Files.createTempDirectory("graft-ingest")
      batch.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(p => p.toString.endsWith(".parquet")).findFirst().get
      Files.move(part, Paths.get(s"$data/documents.parquet/part-00001.parquet"))

      reset()
      val p2 = DocSimilarity.incrementalNearDups(spark, data, olds)
        .orderBy("old_id", "new_id").collect().map(_.toString).toSeq
      assert(DocSimilarity.incrMaskBuilds.get() == builds0 + 1,
        "append of batch rows must REUSE the corpus index (no rebuild)")
      // original probe docs keep exactly their old pairs; the appended
      // clones add the same pairs shifted by the id offset
      val p2Orig = DocSimilarity.incrementalNearDups(spark, data, olds)
        .filter(col("new_id") < 100000L)
        .orderBy("old_id", "new_id").collect().map(_.toString).toSeq
      assert(p2Orig == p1, "pre-ingest probe results must be unchanged")
      assert(p2.size > p1.size, "appended docs must be probed too")

      // CORPUS change: append rows under a roster source — key must change
      val corpusAdd = Tables.table(spark, data, "documents")
        .filter(col("source") === "src0").limit(5)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
      val tmp2 = Files.createTempDirectory("graft-ingest2")
      corpusAdd.coalesce(1).write.mode("overwrite").parquet(tmp2.toString)
      val part2 = Files.list(tmp2).filter(p => p.toString.endsWith(".parquet")).findFirst().get
      Files.move(part2, Paths.get(s"$data/documents.parquet/part-00002.parquet"))

      reset()
      DocSimilarity.incrementalNearDups(spark, data, olds).count()
      assert(DocSimilarity.incrMaskBuilds.get() == builds0 + 2,
        "a corpus-row change must REBUILD the index, never serve it stale")
    } finally {
      spark.conf.unset("graft.index.dir")
      graft.util.Memo.clearAll()
    }
  }

  test("artifact key fingerprints the data dir: a changed dir is not served stale") {
    val data = java.nio.file.Files.createTempDirectory("graft-data").toString
    val f = new java.io.File(data, "x.parquet")
    java.nio.file.Files.write(f.toPath, "a".getBytes)
    val p1 = IndexStore.artifactPath(spark, data, "art")
    java.nio.file.Files.write(f.toPath, "ab".getBytes) // size change
    val p2 = IndexStore.artifactPath(spark, data, "art")
    assert(p1 != p2, "fingerprint must change when source files change")
  }

  test("gc: dead-key artifacts reclaim past the age horizon, live ones keep serving loads") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val tmpIdx = Files.createTempDirectory("graft-idx-gc").toString
    spark.conf.set("graft.index.dir", tmpIdx)
    try {
      import spark.implicits._
      val frame = (0L until 100L).toDF("x")
      IndexStore.materializeKeyed(spark, "dead-v1", "a") { frame }
      IndexStore.materializeKeyed(spark, "live-v2", "a") { frame }
      // backdate every file under the dead key (the key rolled forward —
      // nothing will ever touch it again)
      val old = FileTime.fromMillis(System.currentTimeMillis() - 10L * 86400 * 1000)
      def backdate(p: java.nio.file.Path): Unit = {
        Files.setLastModifiedTime(p, old)
        if (Files.isDirectory(p)) Files.list(p).forEach(backdate)
      }
      backdate(Paths.get(s"$tmpIdx/k_dead-v1"))
      assert(IndexStore.gc(spark, maxAgeMs = 86400L * 1000) == 1)
      assert(!Files.exists(Paths.get(s"$tmpIdx/k_dead-v1")), "dead key reclaimed")
      // the live artifact still LOADS (no rebuild), the dead one rebuilds
      val (_, loaded) = IndexStore.materializeKeyed(spark, "live-v2", "a") {
        fail("live artifact must load, not rebuild") }
      assert(loaded)
      var rebuilt = false
      IndexStore.materializeKeyed(spark, "dead-v1", "a") { rebuilt = true; frame }
      assert(rebuilt, "reclaimed artifact rebuilds on next access — cost, not correctness")
    } finally {
      spark.conf.unset("graft.index.dir")
    }
  }
}
