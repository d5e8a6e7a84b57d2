package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.{Components, DocSimilarity, TrajectorySearch}
import graft.util.Memo

/** The session artifact registry: one access-order LRU bound over typed
  * keys, releasing exactly what each build materialized — a long-lived
  * service session iterating over many data dirs must not accumulate
  * executor storage (round-5 verdict item 3). */
class MemoEvictionTest extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def frame(i: Int)(m: Memo.Frames): DataFrame = {
    val df = m.persist(Seq(i).toDF("v"))
    df.count()
    df
  }

  /** Driver-value entries that push every older entry out of the LRU. */
  private def fill(n: Int, tag: String): Unit =
    (1 to n).foreach(i => Memo(spark, "filler", tag, i)(_ => i))

  /** Ids of the RDDs that hold executor storage, per `getRDDStorageInfo`. */
  private def stored(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  /** The storage `materialize` creates: at least `frames` RDDs (block
    * reports reach the status store asynchronously, so wait for them). */
  private def storageOf(frames: Int)(materialize: => Unit): Set[Int] = {
    val before = stored()
    materialize
    eventually(timeout(30.seconds), interval(100.millis)) {
      val created = stored() -- before
      assert(created.size >= frames, s"the build must hold storage in $frames RDDs: $created")
      created
    }
  }

  private def assertFreed(created: Set[Int]): Unit =
    assert((stored() & created).isEmpty, s"storage still held by RDDs ${stored() & created}")

  test("bounded memo evicts the eldest entry and unpersists it") {
    Memo.clearAll()
    val f1 = Memo(spark, "port", "eldest", 1)(frame(1))
    val f2 = Memo(spark, "port", "eldest", 2)(frame(2))
    fill(Memo.MaxEntries - 2, "eldest")
    assert(f1.storageLevel != StorageLevel.NONE)
    val f3 = Memo(spark, "port", "eldest", 3)(frame(3))
    assert(Memo.size == Memo.MaxEntries)
    assert(f1.storageLevel == StorageLevel.NONE, "eldest entry released on overflow")
    assert(f2.storageLevel != StorageLevel.NONE)
    assert(f3.storageLevel != StorageLevel.NONE)
    Memo.clearAll()
    assert(f2.storageLevel == StorageLevel.NONE, "clear releases everything")
    assert(f3.storageLevel == StorageLevel.NONE)
    assert(Memo.size == 0)
  }

  test("eviction is LRU: a re-read early entry survives, the stale one evicts") {
    Memo.clearAll()
    val f1 = Memo(spark, "port", "lru", 1)(frame(1))
    val f2 = Memo(spark, "port", "lru", 2)(frame(2))
    fill(Memo.MaxEntries - 2, "lru")
    Memo(spark, "port", "lru", 1)(_ => fail("key 1 must be a hit")) // touch 1: now 2 is LRU
    Memo(spark, "port", "lru", 3)(frame(3))
    assert(Memo.size == Memo.MaxEntries)
    assert(f1.storageLevel != StorageLevel.NONE,
      "recently-used early entry must survive (FIFO would evict it)")
    assert(f2.storageLevel == StorageLevel.NONE, "least-recently-used entry evicts")
    Memo.clearAll()
  }

  test("racing builders on one cold key: one canonical value wins, loser NOT released") {
    Memo.clearAll()
    val gate = new java.util.concurrent.CountDownLatch(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        results.add(Memo(spark, "port", "race") { m =>
          // both builds persist the SAME plan: one CacheManager entry
          val df = m.persist(spark.range(0, 7).toDF("v"))
          df.count()
          gate.countDown()
          gate.await() // both threads are mid-build simultaneously
          df
        })
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Memo.size == 1)
    val got = results.toArray(Array.empty[DataFrame])
    assert(got.length == 2 && (got(0) eq got(1)),
      "both callers must see one canonical value")
    // the loser's persisted plan aliases the winner's CacheManager entry,
    // so releasing it would have de-cached the canonical value
    assert(got(0).storageLevel != StorageLevel.NONE,
      "the losing build must NOT be released (cache aliasing)")
    Memo.clearAll()
    assert(got(0).storageLevel == StorageLevel.NONE)
  }

  test("two data dirs: the first dir's persisted pair set is released by clearAll") {
    val first = DocSimilarity.nearDupPairs(spark, TestSpark.sf0001)
    first.count()
    assert(first.storageLevel != StorageLevel.NONE)
    val second = DocSimilarity.nearDupPairs(spark, TestSpark.sf001)
    second.count()
    Memo.clearAll()
    assert(first.storageLevel == StorageLevel.NONE,
      "first dir's frame must be unpersisted after clear")
    assert(second.storageLevel == StorageLevel.NONE)
    // warm call after clear rebuilds (and re-persists) without error
    val again = DocSimilarity.nearDupPairs(spark, TestSpark.sf0001)
    assert(again.count() == first.count())
    Memo.clearAll()
  }

  test("localCheckpoint-backed memo releases its RDD storage on clear") {
    // the checkpoint's backing RDD under the LogicalRDD leaf — its own
    // storage level is immune to other suites' persist/unpersist traffic
    def checkpointRdds(df: DataFrame) =
      df.queryExecution.analyzed.collectLeaves().collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val labels = Components.connectedComponentsCached(edges, "memo-eviction-test")
    labels.count()
    val rdds = checkpointRdds(labels)
    assert(rdds.nonEmpty, "localCheckpoint should back the frame with an RDD leaf")
    assert(rdds.forall(_.getStorageLevel != StorageLevel.NONE))
    Memo.clearAll()
    assert(rdds.forall(_.getStorageLevel == StorageLevel.NONE),
      "checkpoint RDD storage must be released by clearAll")
  }

  test("evicting a persisted artifact frees its storage") {
    Memo.clearAll()
    var df: DataFrame = null
    val created = storageOf(1) {
      df = Memo(spark, "kind", "persisted")(_.persist(spark.range(0, 100, 1, 2).toDF("p")))
      df.count()
    }
    fill(Memo.MaxEntries, "persisted")
    assertFreed(created)
    assert(df.storageLevel == StorageLevel.NONE)
  }

  test("evicting a snapped artifact frees its checkpoint storage") {
    Memo.clearAll()
    val created = storageOf(1)(
      Memo(spark, "kind", "snapped")(_.snap(spark.range(0, 100, 1, 2).toDF("c"))))
    fill(Memo.MaxEntries, "snapped")
    assertFreed(created)
  }

  test("evicting a composite artifact frees every frame its build materialized") {
    Memo.clearAll()
    val created = storageOf(2) {
      val (p, _) = Memo(spark, "kind", "composite") { m =>
        (m.persist(spark.range(0, 50, 1, 2).toDF("p")), m.snap(spark.range(0, 60, 1, 2).toDF("c")))
      }
      p.count()
    }
    fill(Memo.MaxEntries, "composite")
    assertFreed(created)
  }

  test("evicting a driver value drops the entry, and the next call rebuilds") {
    Memo.clearAll()
    var builds = 0
    def stat(): Long = Memo(spark, "kind", "driver") { _ => builds += 1; 42L }
    assert(stat() == 42L && stat() == 42L && builds == 1)
    fill(Memo.MaxEntries, "driver")
    assert(Memo.size == Memo.MaxEntries)
    assert(stat() == 42L && builds == 2, "an evicted driver value is rebuilt")
    Memo.clearAll()
  }

  test("clearing the registry frees the all-pairs bound frame's checkpoint") {
    Memo.clearAll()
    val rnd = new scala.util.Random(7)
    val ta = Tables.withSliceBoxes((0L until 40L).map { u =>
      (u, Seq.fill(6)(rnd.nextDouble() * 100), Seq.fill(6)(rnd.nextDouble() * 100))
    }.toDF("user_id", "xs", "ys"))
    val created = storageOf(1)(
      TrajectorySearch.allPairsTopKAuto(ta, 5, cacheKey = Some("memo-lb-test")).collect())
    Memo.clearAll()
    assertFreed(created)
  }

  test("artifacts differing only in name, or in how a key splits, never share an entry") {
    Memo.clearAll()
    assert(Memo(spark, "nameA", "src", 1, "p")(_ => "a") == "a")
    assert(Memo(spark, "nameB", "src", 1, "p")(_ => "b") == "b")
    assert(Memo(spark, "nameA", "src", 1, "p")(_ => "rebuilt") == "a")
    // the old caller-built string keys: "$dir#containment" vs (dir, containment)
    assert(Memo(spark, "split", "d#containment")(_ => 1) == 1)
    assert(Memo(spark, "split", "d", "containment")(_ => 2) == 2)
    assert(Memo.size == 4)
    // two real artifacts over the same dir with no params stay distinct
    val near = DocSimilarity.nearDupPairs(spark, TestSpark.sf0001)
    val cont = DocSimilarity.containmentNearDups(spark, TestSpark.sf0001)
    assert(!(near eq cont) && near.columns.toSeq != cont.columns.toSeq)
    Memo.clearAll()
  }
}
