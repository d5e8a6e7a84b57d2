package graft


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Memo

/** Table loaders + derived trajectory views for the declared query contract
  * (SURVEY.md §1.2, FIXTURES.md).
  *
  * All queries read plain parquet from `sfDir`. DataFrames are memoized per
  * (session, sfDir, name) so the many declared queries share one logical scan
  * definition (and, when `cacheHot` is used by Bench, one InMemoryRelation).
  *
  * Design note (100 TB): loaders are plain `spark.read.parquet` — at cluster
  * scale these become partitioned tables; nothing here collects to the
  * driver, and every derived view is a narrow projection on top of the scan
  * so Catalyst can prune columns/predicates into the file source.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoization contract: inputs under sfDir are immutable for the life of
  // the session (true for the fixtures); `Memo.clearAll()` forces
  // re-execution.

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Memo(spark, "table", sfDir, name) { _ =>
      if (name == "events") {
        // The fixture has shipped events.ts under two physical layouts:
        // TIMESTAMP(NANOS) (Spark 4.x refuses it unless the legacy flag maps
        // it to BIGINT nanoseconds — set BEFORE the first read, at
        // schema-conversion time) and TIMESTAMP(MICROS) (reads natively as
        // a timestamp). The loader canonicalizes BOTH to the engine-wide
        // convention `ts` = BIGINT NANOSECONDS since epoch, so every
        // consumer (`ts DIV 1000`, replay slicing, sentinel arithmetic,
        // the streaming file-source schema) sees one layout. Sessions are
        // pinned to UTC (build.sbt/TestSpark/Verify), making the
        // timestamp→epoch cast exact.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = spark.read.parquet(s"$sfDir/events.parquet")
        raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => raw // ns layout, already canonical
          case _ => raw.withColumn("ts",
            unix_micros(col("ts").cast("timestamp")) * lit(1000L))
        }
      } else spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** `events` with the canonical microsecond time column `ts_us`
    * (FIXTURES.md convention 1: raw ns is not portable across engines). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events").withColumn("ts_us", expr("ts DIV 1000"))

  /** Trajectory view (SURVEY §2.7): one event type, planar coords
    * x = days since 2024-01-01 (exact int64 subtraction, one IEEE division),
    * y = value. Long-form — per-user ordering is applied by each consumer
    * via (ts_us, event_id), never by a global sort.
    */
  def pts(spark: SparkSession, sfDir: String, eventType: String = "purchase"): DataFrame =
    events(spark, sfDir)
      .filter(col("event_type") === eventType)
      .select(
        col("user_id"), col("event_id"), col("ts_us"),
        ((col("ts_us") - lit(1704067200000000L)).cast("double") / lit(86400e6)).as("x"),
        col("value").as("y"))

  /** Default per-user point cap in [[trajArrays]] — bounds task memory: one
    * row never exceeds ~2·8·10⁵ bytes of coordinate data regardless of how
    * skewed a single user's history is. */
  val MaxTrajPoints: Int = 100000

  /** Time slices per trajectory in [[trajArrays]]'s `boxes` column. */
  val TrajSlices: Int = 8

  /** Per-user point arrays ordered by (ts_us, event_id) — the input shape for
    * the array-based trajectory metrics (Hausdorff / Fréchet UDFs). Kept as
    * two primitive DOUBLE arrays (not ARRAY<STRUCT>) so the UDF path avoids
    * row boxing (SURVEY §4.3a).
    *
    * Also carries `boxes`: [[TrajSlices]] time-contiguous MBRs per user —
    * the reference's segment-level decomposition (O4/O7), used as the cheap
    * lower bound that keeps exact kernels out of pair joins
    * (TrajectorySearch.slicedBoxLb).
    *
    * CONTRACT (capped, not exact, beyond [[MaxTrajPoints]]): a user's array
    * is the FIRST `maxPoints` points in (ts_us, event_id) order; points past
    * the cap are dropped so one mega-user cannot exceed task memory (SURVEY
    * §7.5 risk 5). No fixture user is anywhere near the cap, so capped ≡
    * exact for the declared oracles.
    */
  def trajArrays(spark: SparkSession, sfDir: String, eventType: String = "purchase"): DataFrame =
    // persisted index artifact (arrays + slice boxes): a later session
    // reads the parquet instead of re-aggregating the event stream; the
    // name carries the layout version (f4 = flat 4-double boxes) so a code
    // change can never read an old-layout artifact. Tiny (one row per
    // user); shared by t2 (self-join both sides) and t3.
    Memo(spark, "trajArrays", sfDir, eventType)(_.persist(
      graft.sources.IndexStore.materialize(spark, sfDir, s"traj_${eventType}_f4") {
        trajArraysOf(pts(spark, sfDir, eventType))
      }._1))

  /** Core of [[trajArrays]] over any (user_id, ts_us, event_id, x, y) frame —
    * exposed so tests can drive synthetic (e.g. mega-user) trajectories. */
  def trajArraysOf(p: DataFrame, maxPoints: Int = MaxTrajPoints,
                   slices: Int = TrajSlices): DataFrame =
    withSliceBoxes(
      p.groupBy(col("user_id"))
        .agg(
          slice(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("x"), col("y")))),
            1, maxPoints).as("pts"))
        .select(
          col("user_id"),
          expr("transform(pts, p -> p.x)").as("xs"),
          expr("transform(pts, p -> p.y)").as("ys")),
      slices)

  /** Append `boxes`: per-row time-contiguous slice MBRs derived from the
    * ordered `xs`/`ys` arrays, FLAT layout [minx,maxx,miny,maxy]·k — the
    * input shape of the codegen'd `graft_boxlb` bound expression
    * (functions.SlicedBoxLb). Contiguous slice i covers indices
    * (i·n DIV k, (i+1)·n DIV k]; trajectories shorter than k leave some
    * slices empty → dropped. The HOFs here run once per USER at build time
    * (never per pair). */
  def withSliceBoxes(ta: DataFrame, slices: Int = TrajSlices): DataFrame = {
    def sliceArr(arr: String) = s"slice($arr, 1 + (i * size($arr)) DIV $slices, " +
      s"((i + 1) * size($arr)) DIV $slices - (i * size($arr)) DIV $slices)"
    ta.withColumn("boxes",
      expr(
        s"""flatten(filter(
           |  transform(sequence(0, ${slices - 1}), i ->
           |    array(array_min(${sliceArr("xs")}), array_max(${sliceArr("xs")}),
           |          array_min(${sliceArr("ys")}), array_max(${sliceArr("ys")}))),
           |  b -> b[0] IS NOT NULL))""".stripMargin))
  }

  /** Tokenized documents — (doc_id, lang, tok), empty tokens dropped, one
    * row per token OCCURRENCE (not distinct). Shared (memoized + persisted)
    * across the document-pipeline queries so the corpus is exploded once
    * per session, not once per query. */
  def docTokens(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, "docTokens", sfDir)(_.persist(
      table(spark, sfDir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")))

  /** Per-(doc, token) term frequency over [[docTokens]] — the posting-list
    * base frame of p18 (TF-IDF) and d20 (BM25). Memoized + persisted so
    * the (doc_id, tok) aggregation runs once per session and every
    * retrieval scorer joins the same cached frame; at cluster scale this
    * is the materialized inverted-index fact table a search tier maintains
    * incrementally, not a per-query recompute. */
  def docTermFreq(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, "docTermFreq", sfDir)(_.persist(
      docTokens(spark, sfDir)
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))))

  /** Per-(doc, bigram) term frequency — the n=2 posting frame of the
    * bigram language-model family (p21 surprisal + p25 argmax), memoized +
    * persisted like [[docTermFreq]] so the shingle explode and its
    * (doc, w1, w2) aggregation run once per session. Kept as two word
    * columns (never a concatenated string): the consumers join/group on
    * the pair directly, so no concat on the build side and no re-split on
    * the read side (guide §2.3 — shuffle narrower rows). Documents shorter
    * than 2 tokens yield no rows (same as the shingle form). */
  def docBigramTf(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, "docBigramTf", sfDir)(_.persist(
      table(spark, sfDir, "documents")
        .select(col("doc_id"), expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ts) - 2), i -> named_struct('w1', ts[i], 'w2', ts[i + 1]))"))
          .as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))))

  /** Per-doc token count over [[docTermFreq]] — the BM25 document-length
    * frame (d20 + d21 both consume it per call), memoized + persisted so
    * the doc-length aggregation over the posting frame runs once per
    * session. Corpus-side only (query-independent) — the same
    * materialized-index story as [[docTermFreq]]. */
  def docLengths(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, "docLengths", sfDir)(_.persist(
      docTermFreq(spark, sfDir)
        .groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))))

  /** Per-token document frequency over [[docTermFreq]] — the IDF side of
    * the retrieval index (vocabulary-sized), memoized + persisted: d20/d21
    * were re-scanning the posting frame per call to count df for the few
    * query terms; the full df table is query-independent and is exactly
    * what a search tier persists beside its postings. */
  def tokenDocFreq(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, "tokenDocFreq", sfDir)(_.persist(
      docTermFreq(spark, sfDir)
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))))

  /** [[docTermFreq]] widened with the per-doc length — the BM25 scoring
    * fact frame (r14): a search index stores dl beside its postings
    * precisely so the scorer reads ONE frame; joining docLengths per
    * d20/d21 call re-ran a corpus-sized join + its broadcast build job
    * every invocation. Query-independent, memoized + persisted like its
    * two inputs (which it is derived from, one pass each). */
  def bm25Postings(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, "bm25Postings", sfDir)(_.persist(
      docTermFreq(spark, sfDir)
        .join(docLengths(spark, sfDir), "doc_id")))

  /** One-row corpus stats frame (n_docs, total token occurrences) — the
    * BM25 normalization scalars, memoized + persisted (query-independent;
    * d20/d21 re-aggregated documents AND the posting frame per call). */
  def corpusTokenStats(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, "corpusTokenStats", sfDir)(_.persist(
      table(spark, sfDir, "documents").agg(count(lit(1)).as("n_docs"))
        .crossJoin(docTermFreq(spark, sfDir).agg(sum(col("tf")).as("total")))))

  /** Corpus bigram counts (w1, w2, n) over [[docBigramTf]] — the
    * vocabulary²-bounded fact frame of the bigram-LM family (r14): p21 and
    * p25 each re-aggregated the per-doc posting frame on EVERY call to get
    * the same query-independent counts; the aggregation now runs once per
    * session (Σ per-doc tf ≡ the raw bigram count — exact integers). */
  def bigramCounts(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, "bigramCounts", sfDir)(_.persist(
      docBigramTf(spark, sfDir)
        .groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("n"))))

  /** Measured vocabulary size = rows of [[tokenDocFreq]] — one cheap count
    * over the persisted sidecar, memoized per (session, dir). Gates the
    * vocabulary-frame broadcast HINTS (p3/p18, round-13 ADVICE): a corpus
    * vocabulary is unbounded, and a hint past the planner's guard is a
    * forced driver OOM, not a plan — so the hint applies only while the
    * measured size fits the broadcast cap; past it the join falls back to
    * the planner/AQE. */
  def vocabSize(spark: SparkSession, sfDir: String): Long =
    Memo(spark, "vocabSize", sfDir)(_ => tokenDocFreq(spark, sfDir).count())

  /** Measured distinct (tok, lang) count = rows of p3's per-language
    * frequency frame, memoized like [[vocabSize]]: gates that frame's
    * broadcast hint on its own size, not on an assumed language count. */
  def tokLangPairs(spark: SparkSession, sfDir: String): Long =
    Memo(spark, "tokLangPairs", sfDir)(
      _ => docTokens(spark, sfDir).select(col("tok"), col("lang")).distinct().count())

  /** Benchmark-decontamination hit list (doc_id, n_hits) under the
    * fixture's declared split (benchmark = doc_id % 50 == 0, 3-gram
    * shingles, Bloom-prefiltered exact join) — the IDENTICAL frame d5
    * reports and p24's funnel consumes as its stage-4 input. Memoized +
    * persisted: the shingle explode AND the Bloom build (a driver-side
    * aggregation job per call before this change) run once per session —
    * the build-once blocklist artifact a real pipeline would persist
    * beside the corpus. */
  def decontamHits(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, "decontamHits", sfDir) { m =>
      val sh = graft.operators.Decontaminate.wordShingles(
        table(spark, sfDir, "documents").select(col("doc_id"), col("text")), 3)
      m.persist(graft.operators.Decontaminate.hitsBloom(
          sh.filter(col("doc_id") % 50 =!= 0),
          sh.filter(col("doc_id") % 50 === 0)))
    }

  /** Cache the frequently-scanned fact tables in memory — called by Bench
    * (one scan instead of ~40 across the declared set). At cluster scale the
    * analog is a shared InMemoryRelation / warmed storage layer, not a
    * correctness dependency; Verify runs uncached.
    */
  def cacheHot(spark: SparkSession, sfDir: String): Unit =
    Seq("lineitem", "orders", "customer", "part", "events", "documents", "embeddings")
      .foreach(n => Memo(spark, "hotTable", sfDir, n)(_.persist(table(spark, sfDir, n)).count()))
}
