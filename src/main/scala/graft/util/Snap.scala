package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Materialize a SMALL derived frame eagerly and truncate its lineage — the
  * shared "build once, read from ExistingRDD many times" step behind the
  * duplicated-subtree eliminations (r13/r14: DocSimilarity mask groups,
  * r17/r20/r21 global-scalar subtrees, v6's sums frame, the trajectory
  * bound frames).
  *
  * FAULT TOLERANCE (round-13 ADVICE, documented once here for every site):
  * `localCheckpoint` blocks are EXECUTOR-LOCAL and the truncated lineage
  * cannot recompute them — on a real cluster an executor loss makes the
  * checkpointed partitions unrecoverable and fails the consuming job; the
  * blocks are reclaimed only by GC/ContextCleaner. That is the right trade
  * for these frames: each is bounded (≤ |groups| / |parts| / |suppliers|
  * rows) and rebuilding it costs one bounded job. Deployments that want
  * recoverability set `sc.setCheckpointDir(...)` (or `spark.checkpoint.dir`)
  * and every Snap site switches to a RELIABLE checkpoint (one distributed
  * write, recoverable across executor loss) — except [[local]] ones, which
  * no owner would ever delete. Eager in both modes:
  * consumers must never observe a half-built frame, and the build is
  * charged to the query that runs it.
  */
object Snap {
  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(true)

  /** A snapshot no owner will [[release]]: always a local checkpoint, which
    * the ContextCleaner reclaims — a reliable one would leave its `rdd-*`
    * files behind for good (Spark's cleaner keeps them by default). */
  def local(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Free a snapped frame's storage now instead of at GC. The checkpoint
    * RDD is persisted at the RDD layer, not in the SQL CacheManager, so
    * `df.unpersist()` would be a no-op: unpersist the RDD under the
    * LogicalRDD leaf, and delete a reliable checkpoint's files (Spark's
    * ContextCleaner leaves them by default). The frame is unreadable
    * afterwards. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
        }
      case _ => ()
    }

  /** Chainable form: `frame.snap()` ≡ `Snap(frame)`. */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def snap(): DataFrame = Snap(df)
  }
}
