package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session artifact registry: the one place that knows how a derived
  * artifact (pair set, index frame, prepared scan, table stat) is keyed,
  * materialized, bounded and released.
  *
  * KEY. An entry is keyed by (session, artifact name, source identity,
  * params). The source is what the artifact is derived from — a data dir,
  * a caller key, `table@version`, a canonical plan — and the params are
  * everything else the build reads. Call sites pass the parts, never a
  * pre-joined string, so two artifacts differing in any part can never
  * share an entry.
  *
  * RELEASE FOLLOWS MATERIALIZATION. A build receives a [[Frames]] handle
  * and materializes through it: `persist` (MEMORY_AND_DISK) or `snap`
  * ([[Snap]]). The registry records exactly the frames the build
  * materialized and releases exactly those when the entry is evicted or
  * cleared, whatever shape the value has — one frame, a composite of
  * several, or a plain driver value that recorded nothing. Under a
  * reliable checkpoint dir the release frees nothing: a checkpoint's
  * files stay on disk until Spark's ContextCleaner deletes them
  * (`spark.cleaner.referenceTracking.cleanCheckpoints`).
  *
  * UNCACHED CALLS. [[get]] with no source builds without registering: its
  * `persist` is the identity (nothing would ever release it) and its
  * `snap` still truncates lineage, reclaimed by the ContextCleaner.
  *
  * BOUND. One access-order LRU over all artifacts ([[MaxEntries]]): a hot
  * entry created early survives, and a service session iterating over
  * many data dirs cannot accumulate storage without end. [[clearAll]]
  * releases everything (disk `IndexStore` artifacts stay).
  *
  * CONCURRENCY. Map reads/writes are synchronized, but a build runs
  * OUTSIDE the lock — it launches Spark jobs and may build other
  * artifacts, and holding the monitor across it would serialize every
  * query behind one build. Two threads racing the same cold key may both
  * build; the winner's value is returned to both. The loser's frames are
  * NOT released: Spark's CacheManager keys cached data by logical plan,
  * so a loser's persisted frames usually alias the winner's cache entries
  * and releasing them would drop the canonical artifact's storage; a
  * loser's checkpoints are distinct RDDs the ContextCleaner reclaims.
  * Registry traffic is driver-side planning — a handful of lookups per
  * query, never per row.
  */
object Memo {
  /** Entries kept across all artifacts. Measured peaks: 46 for a full
    * `graft.Verify` over one data dir (sf0.01, all 191 queries), 2 for the
    * perfbench topk-search workload and 5 for pair-joins — so 128 keeps
    * two data dirs' full traffic warm with room to spare. */
  val MaxEntries: Int = 128

  private final case class Key(session: SparkSession, name: String,
                               source: Any, params: Seq[Any])

  /** What a build may materialize; registered builds record each frame. */
  final class Frames private[Memo] (register: Boolean) {
    private var releases = List.empty[() => Unit]
    private def kept(df: DataFrame)(release: () => Unit): DataFrame = {
      if (register) synchronized { releases ::= release }
      df
    }

    /** `df.persist(MEMORY_AND_DISK)`, released by `unpersist`. */
    def persist(df: DataFrame): DataFrame =
      if (!register) df
      else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        kept(p)(() => p.unpersist())
      }

    /** [[Snap]]`(df)`, released by unpersisting its checkpoint RDD. */
    def snap(df: DataFrame): DataFrame = {
      val c = Snap(df)
      kept(c)(() => Snap.release(c))
    }

    private[Memo] def release(): Unit = synchronized(releases).foreach { r =>
      try r() catch { case _: Throwable => () }
    }
  }

  private final class Entry(val value: Any, val frames: Frames)

  // access-order = true: get() touches an entry, eviction order is LRU
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)

  /** The artifact `name` of `source` under `params`: a hit returns the
    * registered value, a miss runs `build` and registers its result. */
  def apply[V](s: SparkSession, name: String, source: Any, params: Any*)(
      build: Frames => V): V =
    get(s, name, Some(source), params: _*)(build)

  /** [[apply]] for an optional source: `None` builds without registering. */
  def get[V](s: SparkSession, name: String, source: Option[Any], params: Any*)(
      build: Frames => V): V = source match {
    case None => build(new Frames(register = false))
    case Some(src) =>
      val k = Key(s, name, src, params)
      val hit = entries.synchronized(Option(entries.get(k)))
      hit.getOrElse {
        val frames = new Frames(register = true)
        val v = build(frames) // outside the lock — may run jobs / nested builds
        entries.synchronized {
          Option(entries.get(k)).getOrElse { // a racing winner stays canonical
            val e = new Entry(v, frames)
            entries.put(k, e)
            while (entries.size > MaxEntries) {
              val it = entries.values.iterator()
              it.next().frames.release()
              it.remove()
            }
            e
          }
        }
      }.value.asInstanceOf[V]
  }

  /** Evict every artifact, releasing what each build materialized. */
  def clearAll(): Unit = entries.synchronized {
    entries.values.forEach(_.frames.release())
    entries.clear()
  }

  def size: Int = entries.synchronized(entries.size)
}
