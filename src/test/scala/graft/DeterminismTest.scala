package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §5.2 layer 4: every declared query must produce identical results
  * under a different shuffle-partition count — the tripwire for any §2.7b
  * violation (float-sum ordering, missing tie-breakers) before the driver's
  * DuckDB gate sees it.
  */
class DeterminismTest extends AnyFunSuite {

  private def runAll(partitions: Int): Map[String, Seq[String]] = {
    val spark = TestSpark.spark
    // memoized persisted frames would otherwise serve partition-4 results to
    // the partition-7 run, hiding exactly the bugs this test exists to catch
    graft.util.Memo.clearAll()
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try
      SparkEntry.queries.map { case (name, fn) =>
        name -> fn(spark, TestSpark.sf0001).collect().toSeq.map(_.toString)
      }
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("declared queries identical under 4 vs 7 shuffle partitions") {
    val a = runAll(4)
    val b = runAll(7)
    assert(a.keySet == b.keySet)
    a.keys.toSeq.sorted.foreach { k =>
      assert(a(k) == b(k), s"query $k differs between partition counts")
    }
  }
}
