package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs one block of code runs. The block runs under a
  * job group of its own and only jobs of that group are counted, so jobs
  * from other threads or from background cleanup are never included; the
  * listener bus is drained before the count is read, so no sleep is
  * needed. */
object JobCount {
  private val groups = new AtomicInteger

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${groups.incrementAndGet()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
