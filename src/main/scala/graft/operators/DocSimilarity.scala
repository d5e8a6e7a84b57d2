package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Memo
import graft.util.Snap.Ops

/** Exact token-set (Jaccard) near-duplicate detection over `documents`
  * (SURVEY d3/d3b; LLM-pipeline dedup surface).
  *
  * Two physical strategies, chosen by measured vocabulary size:
  *
  *  - vocab ≤ 64: each document's distinct-token set is packed into one
  *    64-bit mask (token→bit via a broadcast dictionary); documents sharing
  *    a (mask, lang) collapse into one group, and the pair space shrinks to
  *    distinct-group pairs evaluated with popcount arithmetic
  *    (`bit_count(m1 & m2)`) — no O(tokens²) shuffle at all. Intersection /
  *    union counts are identical integers to the inverted-index form, so
  *    results hash-match exactly.
  *  - otherwise: classic inverted-index self-join on (token, lang) — the
  *    generic cluster-scale path (equi-join, shuffle-partitioned by token).
  *
  * The qualifying-pair DataFrame is memoized + persisted per (session, dir)
  * so d3 (top-100) and d3b (count) share one computation.
  */
object DocSimilarity {

  /** Vocabulary bound for the bitmap strategy: 64 words × 64 bits. Above
    * this the dictionary stops being a cheap broadcast and the prefix-
    * filtered inverted index takes over. */
  val MaxMaskVocab: Int = 4096

  /** All same-lang doc pairs (d1 < d2) with 5·|∩| ≥ 3·|∪| (Jaccard ≥ 0.6
    * in exact integer arithmetic): columns (d1, d2, lang, jaccard). */
  def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    Memo(s, "nearDupPairs", dir) { m =>
      // persisted: consumed by the vocab probe plus two branches of the DAG
      m.persist(jaccardPairs(m.persist(distinctTokens(s, dir)), 3, 5))
    }

  /** [[jaccardPairs]] memoized + persisted per (session, caller key) — for
    * a token frame that is itself a build-once artifact (p8's shingle
    * table): the vocabulary probe, the mask-group build and the pair join
    * are deterministic functions of the artifact, so a warm session must
    * not re-pay them on every call (exactly [[nearDupPairs]]' contract,
    * keyed by the caller's artifact id instead of the corpus dir).
    * Session-scoped only — nothing persists across JVMs. */
  def jaccardPairsCached(toks: DataFrame, num: Int, den: Int,
                         cacheKey: String): DataFrame =
    Memo(toks.sparkSession, "jaccardPairs", cacheKey, num, den)(
      _.persist(jaccardPairs(toks, num, den)))

  /** All ordered same-lang containment pairs at 10·|∩| ≥ 9·|S(d1)| —
    * memoized + persisted per (session, dir) like [[nearDupPairs]]. */
  def containmentNearDups(s: SparkSession, dir: String): DataFrame =
    Memo(s, "containmentPairs", dir)(_.persist(containmentPairs(distinctTokens(s, dir), 9, 10)))

  /** Incremental-ingestion near-dup probe: CROSS pairs only, between the
    * existing corpus (docs whose `source` is in `oldSources`) and the new
    * batch (everything else) — columns (old_id, new_id, lang, jaccard) at
    * Jaccard ≥ 0.6. The production shape for continuous ingestion: the
    * old corpus is INDEX side, the new batch PROBE side, and the old×old /
    * new×new pair spaces are never enumerated — at 100 TB the daily batch
    * is orders of magnitude smaller than the corpus, so probe cost tracks
    * the batch, not the corpus. Memoized per (session, dir, roster). */
  /** Builds of the corpus mask-group artifact (tests assert reuse-under-
    * append: an ingest that only adds batch rows must NOT bump this). */
  private[graft] val incrMaskBuilds = new java.util.concurrent.atomic.AtomicLong

  /** Validity key of the incremental-dedup corpus index: roster hash +
    * CORPUS-SUBSET content fingerprint. The artifact's only inputs are the
    * corpus rows (vocabulary and masks are corpus-side-only by
    * construction), so a daily batch APPEND to the same table leaves the
    * key — hence the artifact — intact; any corpus-row change (content or
    * roster membership) changes it. The fingerprint is one column-pruned,
    * shuffle-free scan with the roster predicate pushed to parquet
    * (bit_xor of per-row hashes — commutative, partitioning-independent);
    * a deployment with a versioned table skips even that scan by setting
    * `graft.incr.corpusVersion` to the snapshot/commit version. */
  private[graft] def incrCorpusKey(s: SparkSession, dir: String,
                                   oldSources: Seq[String]): String = {
    val roster = java.security.MessageDigest.getInstance("MD5")
      .digest(oldSources.sorted.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val content = s.conf.getOption("graft.incr.corpusVersion") match {
      case Some(v) => Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(v))
      case None =>
        val r = Tables.table(s, dir, "documents")
          .filter(col("source").isin(oldSources: _*))
          .agg(
            expr("bit_xor(xxhash64(doc_id, lang, source, text))").as("fp"),
            count(lit(1)).as("n"))
          .head()
        val fp = if (r.isNullAt(0)) 0L else r.getLong(0)
        java.lang.Long.toHexString(fp ^ (r.getLong(1) * 0x9e3779b97f4a7c15L))
    }
    s"$roster-$content"
  }

  def incrementalNearDups(s: SparkSession, dir: String,
                          oldSources: Seq[String]): DataFrame =
    Memo(s, "incrementalNearDups", dir, oldSources.sorted) { m =>
      val toks = m.persist(distinctTokens(s, dir))
      val srcMap = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      val oldIds = srcMap.filter(col("source").isin(oldSources: _*))
        .select(col("doc_id"))
      val newIds = srcMap.filter(!col("source").isin(oldSources: _*))
        .select(col("doc_id"))
      val toksA = toks.join(oldIds, Seq("doc_id"), "left_semi")
      val toksB = toks.join(newIds, Seq("doc_id"), "left_semi")
      val pairs = incrementalPairsOver(s, toksA, toksB,
        Some(incrCorpusKey(s, dir, oldSources)))
      m.persist(pairs)
    }

  /** The incremental-probe core, over pre-tokenized corpus/batch sides:
    * CORPUS-side vocabulary ONLY (bounded probe, MaxMaskVocab+1 rows) — a
    * batch token outside it can never intersect the corpus, and the
    * probe-side groups count their TRUE set size, so out-of-vocabulary
    * tokens contribute exactly their union share: the same answer as a
    * union vocabulary, with the vocabulary (hence the corpus masks and
    * their artifact) independent of the arriving batch. When `corpusKey`
    * is set, the corpus mask groups are a build-once IndexStore artifact
    * under that validity key: a daily ingest probes yesterday's index
    * instead of re-grouping the corpus — the artifact the streaming gate
    * broadcasts. Masks depend only on corpus content through the SORTED
    * corpus vocabulary, which is exactly what the key must fingerprint
    * (content hash, or a table snapshot version — see
    * [[incrementalNearDupsTable]]). */
  def incrementalPairsOver(s: SparkSession, toksA: DataFrame, toksB: DataFrame,
                           corpusKey: Option[String]): DataFrame = {
    val vocab = toksA.select(col("tok")).distinct()
      .limit(MaxMaskVocab + 1).collect().map(_.getString(0))
    if (vocab.length <= MaxMaskVocab) {
      val gA = corpusKey match {
        case Some(k) =>
          graft.sources.IndexStore.materializeKeyed(s, k, "incr_mask") {
            incrMaskBuilds.incrementAndGet()
            corpusMaskGroups(toksA, vocab)
          }._1
        case None =>
          incrMaskBuilds.incrementAndGet()
          corpusMaskGroups(toksA, vocab)
      }
      crossMaskGroupsJoin(gA, probeMaskGroups(toksB, vocab), 3, 5,
        nWords = math.max(1, (vocab.length + 63) / 64))
    } else crossPrefixPairs(toksA, toksB, 3, 5)
  }

  /** [[incrementalNearDups]] over a versioned [[graft.sources.GraftTable]]
    * of documents: corpus = snapshot `corpusVersion`, batch = the manifest
    * changelog (corpusVersion, batchVersion] — the files the ingest
    * appended, read WITHOUT rescanning the corpus. The corpus mask
    * artifact is keyed by `(table, corpusVersion)` alone: snapshots are
    * immutable, so the version IS the content fingerprint and the
    * zero-scan keying SCALE.md promises for versioned tables is realized
    * here (no `bit_xor` corpus pass at all). Day N's ingest probes day
    * N−1's artifact; the artifact is rebuilt only when the corpus snapshot
    * itself rolls forward. */
  def incrementalNearDupsTable(s: SparkSession, tableDir: String,
                               corpusVersion: Int, batchVersion: Int): DataFrame =
    Memo(s, "incrementalNearDupsTable", tableDir, corpusVersion, batchVersion) { m =>
      val toksOf = (df: DataFrame) => df
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "").distinct()
      val corpus = graft.sources.GraftTable.read(s, tableDir, Some(corpusVersion))
      val batch = graft.sources.GraftTable
        .readChanges(s, tableDir, corpusVersion, batchVersion)
      val toksA = m.persist(toksOf(corpus))
      val key = tableSnapshotKey(tableDir, corpusVersion)
      m.persist(incrementalPairsOver(s, toksA, toksOf(batch), Some(key)))
    }

  /** Snapshot-version validity key: immutable snapshot ⇒ the version pins
    * the corpus content with zero scanning. The table identity is a 64-bit
    * digest ([[graft.sources.IndexStore.dirId]]) — a 32-bit hash could
    * collide across tables sharing one index root and silently serve the
    * wrong table's mask artifact. */
  private[graft] def tableSnapshotKey(tableDir: String, v: Int): String =
    s"tbl${graft.sources.IndexStore.dirId(tableDir)}-v$v"

  /** Cross-corpus Jaccard join (a ∈ A, b ∈ B only): same measured-vocab
    * strategy chooser as [[jaccardPairs]] — ≤[[MaxMaskVocab]] union
    * vocabulary gets popcount arithmetic over both sides' mask groups;
    * otherwise PPJoin prefix filtering under ONE shared rarest-first order
    * (per-side frequencies would break the shared total order the prefix
    * theorem needs). PRECONDITION: both inputs distinct (doc_id, lang, tok)
    * rows with disjoint doc ids. */
  def crossJaccardPairs(toksA: DataFrame, toksB: DataFrame,
                        num: Int, den: Int): DataFrame = {
    val vocab = toksA.unionAll(toksB).select(col("tok")).distinct()
      .limit(MaxMaskVocab + 1).collect().map(_.getString(0))
    if (vocab.length <= MaxMaskVocab) crossMaskPairs(toksA, toksB, vocab, num, den)
    else crossPrefixPairs(toksA, toksB, num, den)
  }

  /** Bitmap strategy for the cross join: each side's distinct-token-set
    * groups under the SAME broadcast dictionary, then an (A-group, B-group)
    * popcount join per lang. Disjoint sides make every group pair a real
    * candidate (no `m1 < m2` dedup, no identical-set special case — equal
    * masks across sides land at Jaccard exactly 1 through the same
    * arithmetic). */
  def crossMaskPairs(toksA: DataFrame, toksB: DataFrame,
                     vocabTokens: Array[String], num: Int, den: Int): DataFrame =
    crossMaskGroupsJoin(maskGroups(toksA, vocabTokens),
      maskGroups(toksB, vocabTokens), num, den,
      nWords = math.max(1, (vocabTokens.length + 63) / 64))

  /** Popcount intersection `Σ_w bit_count(m1[w] & m2[w])` with the word
    * count UNROLLED at plan-build time (it is always known: ceil(|V|/64)
    * from the measured vocabulary, or the mask column's array length read
    * off the frame). The `zip_with`/`aggregate` HOF form this replaces is
    * interpreted per pair — lambda dispatch + an ArrayData allocation per
    * evaluation — and dominated the group-pair join (measured: d12 cold
    * 64.9 s → 4.1 s after unroll + length prune, guide §1.2/§4: the
    * per-pair work IS the distributed algorithm here). The unrolled sum is
    * plain `bit_count`/`&`/`element_at` expressions — whole-stage codegen.
    *
    * GENERATED-CODE BOUND: the unroll emits `nWords` terms, and every caller
    * derives nWords from a vocabulary already capped at [[MaxMaskVocab]], so
    * the expression tree is at most ceil(4096/64) = 64 popcount terms — far
    * below codegen limits. A larger vocabulary never reaches this code: the
    * strategy choosers route it to the prefix-filtered inverted index. */
  private def maskInterCol(nWords: Int): org.apache.spark.sql.Column =
    (0 until nWords)
      .map(w => expr(s"bit_count(m1[$w] & m2[$w])"))
      .reduce(_ + _).cast("long")

  /** Length prune for Jaccard ≥ num/den (prune-only, classic set-similarity
    * size filter): i ≤ min(c1,c2) and u ≥ max(c1,c2), so any qualifying
    * pair has den·min ≥ num·max. Evaluated in the join condition BEFORE
    * the popcount projection. */
  private def lengthPrune(num: Int, den: Int): org.apache.spark.sql.Column =
    lit(den) * least(col("c1"), col("c2")) >= lit(num) * greatest(col("c1"), col("c2"))

  /** The popcount join at GROUP level — callers supply the two sides'
    * mask-group frames (fresh, memoized, or loaded from an IndexStore
    * artifact; both must be built under the same sorted vocabulary) plus
    * the mask word count (ceil(|V|/64)) so the intersection unrolls to
    * codegen arithmetic. */
  def crossMaskGroupsJoin(groupsA: DataFrame, groupsB: DataFrame,
                          num: Int, den: Int, nWords: Int): DataFrame = {
    // A memoized/IndexStore mask artifact built under a DIFFERENT vocabulary
    // width would make the unrolled element_at read nulls and silently drop
    // pairs — fail loudly instead (one size() compare per group row).
    def checkedMask(side: String) =
      when(size(col("mask")) === nWords, col("mask")).otherwise(raise_error(
        concat(lit(s"mask word-count mismatch ($side side): expected $nWords, got "),
          size(col("mask")).cast("string"))))
    val gA = groupsA
      .select(col("lang"), checkedMask("A").as("m1"), col("c").as("c1"),
        col("docs").as("docs1"))
    val gB = groupsB
      .select(col("lang").as("lang2"), checkedMask("B").as("m2"), col("c").as("c2"),
        col("docs").as("docs2"))
    gA.join(gB, col("lang") === col("lang2") && lengthPrune(num, den))
      .withColumn("i", maskInterCol(nWords))
      .withColumn("u", col("c1") + col("c2") - col("i"))
      .filter(lit(den) * col("i") >= lit(num) * col("u"))
      .select(col("lang"), col("i"), col("u"), explode(col("docs1")).as("old_id"), col("docs2"))
      .select(col("lang"), col("i"), col("u"), col("old_id"), explode(col("docs2")).as("new_id"))
      .select(col("old_id"), col("new_id"), col("lang"),
        round(col("i").cast("double") / col("u"), 6).as("jaccard"))
  }

  /** Prefix-filtered cross join — the big-vocabulary path: both sides'
    * rarest prefixes under frequencies measured over the UNION, prefix
    * equi-join for candidates, exact verification against the full sets. */
  def crossPrefixPairs(toksA: DataFrame, toksB: DataFrame,
                       num: Int, den: Int): DataFrame = {
    val freq = toksA.unionAll(toksB).groupBy(col("tok")).agg(count(lit(1)).as("f"))
    val pa = rarestPrefix(toksA, num, den, Some(freq))
      .select(col("doc_id").as("old_id"), col("lang"), col("tok"))
    val pb = rarestPrefix(toksB, num, den, Some(freq))
      .select(col("doc_id").as("new_id"), col("lang").as("lang_b"), col("tok").as("tok_b"))
    val cands = pa.join(pb,
        col("tok") === col("tok_b") && col("lang") === col("lang_b"))
      .select(col("old_id"), col("new_id"), col("lang"))
      .distinct()
    val setsOf = (t: DataFrame) => t.groupBy(col("doc_id"))
      .agg(collect_set(col("tok")).as("set"), count(lit(1)).as("c"))
    cands
      .join(setsOf(toksA).select(col("doc_id").as("old_id"), col("set").as("s1"), col("c").as("c1")), "old_id")
      .join(setsOf(toksB).select(col("doc_id").as("new_id"), col("set").as("s2"), col("c").as("c2")), "new_id")
      .withColumn("i", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .filter(lit(den) * col("i") >= lit(num) * (col("c1") + col("c2") - col("i")))
      .select(col("old_id"), col("new_id"), col("lang"),
        round(col("i").cast("double") / (col("c1") + col("c2") - col("i")), 6).as("jaccard"))
  }

  /** Naive cross reference: full inverted-index join A×B — equivalence
    * baseline for both cross strategies (tests only at scale). */
  def crossInvertedPairs(toksA: DataFrame, toksB: DataFrame,
                         num: Int, den: Int): DataFrame = {
    val sA = toksA.groupBy(col("doc_id")).agg(count(lit(1)).as("c1"))
    val sB = toksB.groupBy(col("doc_id")).agg(count(lit(1)).as("c2"))
    val a = toksA.select(col("doc_id").as("old_id"), col("lang"), col("tok"))
    val b = toksB.select(col("doc_id").as("new_id"), col("lang").as("lang_b"), col("tok").as("tok_b"))
    a.join(b, col("tok") === col("tok_b") && col("lang") === col("lang_b"))
      .groupBy(col("old_id"), col("new_id"), col("lang"))
      .agg(count(lit(1)).as("i"))
      .join(sA.select(col("doc_id").as("old_id"), col("c1")), "old_id")
      .join(sB.select(col("doc_id").as("new_id"), col("c2")), "new_id")
      .filter(lit(den) * col("i") >= lit(num) * (col("c1") + col("c2") - col("i")))
      .select(col("old_id"), col("new_id"), col("lang"),
        round(col("i").cast("double") / (col("c1") + col("c2") - col("i")), 6).as("jaccard"))
  }

  /** Strategy chooser on MEASURED vocabulary size: a corpus whose distinct
    * token set fits [[MaxMaskVocab]] bits gets the bitmap join (popcount
    * arithmetic over ≤64 longs per pair — no token-level join at all); a
    * larger vocabulary gets the prefix-filtered inverted index. The probe
    * collect is bounded at MaxMaskVocab+1 rows by construction. */
  def jaccardPairs(toks: DataFrame, num: Int, den: Int): DataFrame = {
    val vocab = toks.select(col("tok")).distinct()
      .limit(MaxMaskVocab + 1).collect().map(_.getString(0))
    if (vocab.length <= MaxMaskVocab) maskPairs(toks, vocab, num, den)
    else prefixFilteredPairs(toks, num, den)
  }

  /** Distinct (doc_id, lang, tok), empty tokens dropped. */
  def distinctTokens(s: SparkSession, dir: String): DataFrame =
    Tables.docTokens(s, dir).distinct()

  /** Bitmap strategy, generalized to multi-word masks: each document's
    * token set is packed into `ceil(|V|/64)` longs via a broadcast
    * dictionary; documents sharing (mask, lang) collapse into one group, and
    * pair similarity is exact popcount arithmetic
    * `Σ_w bit_count(m1[w] & m2[w])` — native HOF expressions, no token-level
    * shuffle, no kernel UDF. Intersection/union counts are identical
    * integers to the inverted-index form, so results hash-match exactly. */
  def maskPairs(toks: DataFrame, vocabTokens: Array[String], num: Int, den: Int): DataFrame = {
    val nWords = math.max(1, (vocabTokens.length + 63) / 64)
    // r13: the group frame feeds three consumers (both join sides + the
    // identical-set branch) — materialize the ≤|docs|-row frame once
    val groups = graft.util.Snap(maskGroups(toks, vocabTokens))
    val g1 = groups.select(col("lang"), col("mask").as("m1"), col("c").as("c1"), col("docs").as("docs1"))
    val g2 = groups.select(col("lang").as("lang2"), col("mask").as("m2"), col("c").as("c2"), col("docs").as("docs2"))
    // m1 < m2 dedups unordered group pairs; the length prune and the
    // unrolled popcount are the codegen hot path (see maskInterCol).
    // NOT banded: turning the prune into a size-band equi-key enumerated
    // only 11% fewer group pairs on the measured corpus (set sizes
    // concentrate near the vocab size) and ran ~20% SLOWER per pass — the
    // explode+wider-key overhead beats the cut; flat + residual prune is the
    // measured winner (OPTIMIZATION_r14.md, "d12/d13 — size-band join key").
    val cross = g1.join(g2,
        col("lang") === col("lang2") && col("m1") < col("m2") && lengthPrune(num, den))
      .withColumn("i", maskInterCol(nWords))
      .withColumn("u", col("c1") + col("c2") - col("i"))
      .filter(lit(den) * col("i") >= lit(num) * col("u"))
      .select(col("lang"), col("i"), col("u"), explode(col("docs1")).as("da"), col("docs2"))
      .select(col("lang"), col("i"), col("u"), col("da"), explode(col("docs2")).as("db"))
      .select(
        least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"),
        col("lang"),
        round(col("i").cast("double") / col("u"), 6).as("jaccard"))

    // identical token sets: every intra-group pair has Jaccard exactly 1.0
    val same = groups.filter(size(col("docs")) >= 2)
      .select(col("lang"), explode(col("docs")).as("da"), col("docs"))
      .select(col("lang"), col("da"), explode(col("docs")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("d1"), col("db").as("d2"), col("lang"), lit(1.0).as("jaccard"))

    cross.unionAll(same)
  }

  /** The mask strategy's INDEX side as a reusable artifact: corpus
    * distinct-token-set groups under a fixed vocabulary — what the
    * streaming incremental gate broadcasts and probes per micro-batch
    * (`StreamingQueries.streamIncrementalGate`), and what IndexStore would
    * persist per corpus snapshot at cluster scale. */
  def corpusMaskGroups(toks: DataFrame, vocabTokens: Array[String]): DataFrame =
    maskGroups(toks, vocabTokens)

  /** Mask groups for the PROBE side under a CORPUS-side vocabulary: the
    * mask covers only in-vocabulary tokens (the only ones that can
    * intersect the corpus), but `c` is the TRUE distinct-token count — an
    * out-of-vocabulary token can never intersect, and counting it in `c`
    * is exactly its union contribution, so the popcount Jaccard stays
    * exact (the streaming gate's per-row expression makes the same
    * argument). The left-outer dictionary join keeps every token row;
    * OOV rows contribute 0 bits to every mask word. */
  def probeMaskGroups(toks: DataFrame, vocabTokens: Array[String]): DataFrame = {
    val nWords = math.max(1, (vocabTokens.length + 63) / 64)
    val sp = toks.sparkSession
    import sp.implicits._
    val dict = vocabTokens.sorted.zipWithIndex.toSeq.toDF("tok", "tid")
    val sets = toks.join(broadcast(dict), Seq("tok"), "left_outer")
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        array((0 until nWords).map(w => expr(
          s"bit_or(CASE WHEN tid DIV 64 = $w THEN shiftleft(CAST(1 AS BIGINT), tid % 64) ELSE CAST(0 AS BIGINT) END)")): _*
        ).as("mask"),
        count(lit(1)).as("c"))
    sets.groupBy(col("mask"), col("lang"), col("c"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
  }

  /** Distinct-token-set groups for the bitmap strategy: one row per
    * (mask, lang, set size) with the sorted member doc ids. */
  private def maskGroups(toks: DataFrame, vocabTokens: Array[String]): DataFrame = {
    val nWords = math.max(1, (vocabTokens.length + 63) / 64)
    val sp = toks.sparkSession
    import sp.implicits._
    val dict = vocabTokens.sorted.zipWithIndex.toSeq.toDF("tok", "tid")
    val sets = toks.join(broadcast(dict), "tok")
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        array((0 until nWords).map(w => expr(
          s"bit_or(CASE WHEN tid DIV 64 = $w THEN shiftleft(CAST(1 AS BIGINT), tid % 64) ELSE CAST(0 AS BIGINT) END)")): _*
        ).as("mask"),
        count(lit(1)).as("c"))
    sets.groupBy(col("mask"), col("lang"), col("c"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
  }


  /** Prefix-filtered exact set-similarity join (PPJoin-family, public
    * algorithm): for Jaccard ≥ t = num/den, two sets must share a token in
    * each one's PREFIX — the first `|d| − ceil(t·|d|) + 1` tokens under a
    * global rarest-first token order. Only prefixes enter the inverted-index
    * join (a large constant-factor cut over indexing every token), then
    * candidates are verified exactly against the full sets via
    * `array_intersect`. Identical results to [[invertedIndexPairs]]
    * (OperatorsTest), with far fewer join rows — the generic scale path
    * when the vocabulary exceeds the 64-bit mask.
    *
    * PRECONDITION: `toks` must be DISTINCT (doc_id, lang, tok) rows (as
    * produced by [[distinctTokens]]) — per-doc set size is `count(*)`, so
    * duplicate occurrence rows would overcount `c` and corrupt the exact
    * Jaccard filter. Same contract as [[invertedIndexPairs]].
    */
  def prefixFilteredPairs(toks: DataFrame, num: Int, den: Int): DataFrame = {
    val prefix = rarestPrefix(toks, num, den)
    val a = prefix.select(col("doc_id").as("d1"), col("lang"), col("tok"))
    val b = prefix.select(col("doc_id").as("d2"), col("lang").as("lang_b"), col("tok").as("tok_b"))
    val cands = a.join(b,
        col("tok") === col("tok_b") && col("lang") === col("lang_b") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("lang"))
      .distinct()

    // exact verification against full sets
    val sets = toks.groupBy(col("doc_id"))
      .agg(collect_set(col("tok")).as("set"), count(lit(1)).as("c"))
    cands
      .join(sets.select(col("doc_id").as("d1"), col("set").as("s1"), col("c").as("c1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("set").as("s2"), col("c").as("c2")), "d2")
      .withColumn("i", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .filter(lit(den) * col("i") >= lit(num) * (col("c1") + col("c2") - col("i")))
      .select(col("d1"), col("d2"), col("lang"),
        round(col("i").cast("double") / (col("c1") + col("c2") - col("i")), 6).as("jaccard"))
  }

  /** Each document's rarest-prefix tokens: the first
    * `|d| − ceil(t·|d|) + 1` (t = num/den, exact ints) under a global
    * rarest-first total order. Prefix filtering needs SOME total order on
    * the vocabulary, not a dense rank permutation — so order by the tuple
    * (f, xxhash64(tok), tok) directly and skip the dictionary window
    * entirely. (A `row_number() OVER (ORDER BY ...)` here would pull the
    * whole vocabulary through ONE task — a single-reducer sort that a
    * billion-term shingle vocabulary cannot survive. The tuple order needs
    * no shuffle at all beyond the freq groupBy.) The hash decorrelates the
    * sort key from lexicographic skew; `tok` breaks hash ties so the order
    * stays deterministic and total. */
  private def rarestPrefix(toks: DataFrame, num: Int, den: Int,
                           freqIn: Option[DataFrame] = None): DataFrame = {
    val freq = freqIn.getOrElse(toks.groupBy(col("tok")).agg(count(lit(1)).as("f")))
    val ranked = toks.join(freq, "tok")
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("f"), xxhash64(col("tok")), col("tok"))
    val withPos = ranked
      .withColumn("rn", row_number().over(wDoc))
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // prefix length = c - ceil(t*c) + 1; ceil(num*c/den) in exact ints
    withPos.filter(
      col("rn") <= col("c") - expr(s"(c * $num + $den - 1) DIV $den") + 1)
  }

  /** Containment (overlap-vs-left) similarity join: ORDERED pairs
    * (d1, d2, lang, containment) with d1 ≠ d2 and
    * `|S(d1) ∩ S(d2)| ≥ t·|S(d1)|` (t = num/den, exact integers) — d1 is
    * the CONTAINED document. The asymmetric predicate of subset-duplicate
    * detection: a doc quoted/boilerplate-wrapped inside another has
    * containment ≈ 1 while its Jaccard can be arbitrarily low.
    *
    * Same measured-vocab strategy chooser as [[jaccardPairs]]: multi-word
    * bitmap popcount pairs on a ≤[[MaxMaskVocab]] vocabulary, else the
    * prefix-filtered inverted index — prefix on the CONTAINED side only
    * (pigeonhole: missing all of A's `|A| − ceil(t·|A|) + 1` rarest tokens
    * caps the intersection below `ceil(t·|A|)`), full index on the other
    * side. Both strategies hash-match [[invertedContainmentPairs]]
    * (OperatorsTest). PRECONDITION: distinct (doc_id, lang, tok) rows. */
  def containmentPairs(toks: DataFrame, num: Int, den: Int): DataFrame = {
    val vocab = toks.select(col("tok")).distinct()
      .limit(MaxMaskVocab + 1).collect().map(_.getString(0))
    if (vocab.length <= MaxMaskVocab) maskContainment(toks, vocab, num, den)
    else prefixContainment(toks, num, den)
  }

  /** Bitmap-strategy containment — popcount arithmetic over distinct-set
    * groups; each unordered group pair is evaluated once and emits the
    * qualifying directions; identical-set groups emit all ordered intra-
    * group pairs at containment exactly 1. */
  def maskContainment(toks: DataFrame, vocabTokens: Array[String],
                      num: Int, den: Int): DataFrame = {
    val nWords = math.max(1, (vocabTokens.length + 63) / 64)
    val sp = toks.sparkSession
    import sp.implicits._
    val dict = vocabTokens.sorted.zipWithIndex.toSeq.toDF("tok", "tid")
    val sets = toks.join(broadcast(dict), "tok")
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        array((0 until nWords).map(w => expr(
          s"bit_or(CASE WHEN tid DIV 64 = $w THEN shiftleft(CAST(1 AS BIGINT), tid % 64) ELSE CAST(0 AS BIGINT) END)")): _*
        ).as("mask"),
        count(lit(1)).as("c"))
    // r13: three consumers of the group frame (see maskPairs) — one build
    val groups = sets.groupBy(col("mask"), col("lang"), col("c"))
      .agg(sort_array(collect_list(col("doc_id"))).as("docs"))
      .snap()

    val g1 = groups.select(col("lang"), col("mask").as("m1"), col("c").as("c1"), col("docs").as("docs1"))
    val g2 = groups.select(col("lang").as("lang2"), col("mask").as("m2"), col("c").as("c2"), col("docs").as("docs2"))
    // containment has no symmetric length prune (the contained side is the
    // SMALLER set, so den·min ≥ num·c_contained holds trivially); the win
    // here is the unrolled codegen popcount
    val cross = g1.join(g2, col("lang") === col("lang2") && col("m1") < col("m2"))
      .withColumn("i", maskInterCol(math.max(1, (vocabTokens.length + 63) / 64)))
    def dir(contained: String, other: String, cCont: String): DataFrame =
      cross.filter(lit(den) * col("i") >= lit(num) * col(cCont))
        .select(col("lang"), col("i"), col(cCont).as("cc"),
          explode(col(contained)).as("d1"), col(other))
        .select(col("d1"), explode(col(other)).as("d2"), col("lang"),
          round(col("i").cast("double") / col("cc"), 6).as("containment"))
    // identical token sets: every ordered intra-group pair is containment 1
    val same = groups.filter(size(col("docs")) >= 2)
      .select(col("lang"), explode(col("docs")).as("d1"), col("docs"))
      .select(col("d1"), explode(col("docs")).as("d2"), col("lang"),
        lit(1.0).as("containment"))
      .filter(col("d1") =!= col("d2"))
    dir("docs1", "docs2", "c1").unionAll(dir("docs2", "docs1", "c2")).unionAll(same)
  }

  /** Prefix-filtered containment — the big-vocabulary path: the CONTAINED
    * side contributes only its rarest prefix to the inverted-index join; the
    * containing side is fully indexed; exact verification on candidates. */
  def prefixContainment(toks: DataFrame, num: Int, den: Int): DataFrame = {
    val a = rarestPrefix(toks, num, den)
      .select(col("doc_id").as("d1"), col("lang"), col("tok"))
    val b = toks.select(col("doc_id").as("d2"), col("lang").as("lang_b"), col("tok").as("tok_b"))
    val cands = a.join(b,
        col("tok") === col("tok_b") && col("lang") === col("lang_b") && col("d1") =!= col("d2"))
      .select(col("d1"), col("d2"), col("lang"))
      .distinct()
    val sets = toks.groupBy(col("doc_id"))
      .agg(collect_set(col("tok")).as("set"), count(lit(1)).as("c"))
    cands
      .join(sets.select(col("doc_id").as("d1"), col("set").as("s1"), col("c").as("c1")), "d1")
      .join(sets.select(col("doc_id").as("d2"), col("set").as("s2")), "d2")
      .withColumn("i", size(array_intersect(col("s1"), col("s2"))).cast("long"))
      .filter(lit(den) * col("i") >= lit(num) * col("c1"))
      .select(col("d1"), col("d2"), col("lang"),
        round(col("i").cast("double") / col("c1"), 6).as("containment"))
  }

  /** Naive containment reference: full inverted-index join both sides —
    * the equivalence baseline for both strategies (tests only at scale).
    * PRECONDITION: distinct rows, as above. */
  def invertedContainmentPairs(toks: DataFrame, num: Int, den: Int): DataFrame = {
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val a = toks.select(col("doc_id").as("d1"), col("lang"), col("tok"))
    val b = toks.select(col("doc_id").as("d2"), col("lang").as("lang_b"), col("tok").as("tok_b"))
    a.join(b, col("tok") === col("tok_b") && col("lang") === col("lang_b") && col("d1") =!= col("d2"))
      .groupBy(col("d1"), col("d2"), col("lang"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("d1"), col("c").as("c1")), "d1")
      .filter(lit(den) * col("i") >= lit(num) * col("c1"))
      .select(col("d1"), col("d2"), col("lang"),
        round(col("i").cast("double") / col("c1"), 6).as("containment"))
  }

  /** Generic path: inverted-index self-join on (tok, lang) → per-pair
    * intersection counts → exact integer Jaccard >= num/den threshold.
    * PRECONDITION: `toks` must be DISTINCT (doc_id, lang, tok) rows — see
    * [[prefixFilteredPairs]]. */
  def invertedIndexPairs(toks: DataFrame, num: Int, den: Int): DataFrame = {
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
    val a = toks.select(col("doc_id").as("d1"), col("lang"), col("tok"))
    val b = toks.select(col("doc_id").as("d2"), col("lang").as("lang_b"), col("tok").as("tok_b"))
    a.join(b, col("tok") === col("tok_b") && col("lang") === col("lang_b") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"), col("lang"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("d1"), col("c").as("c1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("c").as("c2")), "d2")
      .filter(lit(den) * col("i") >= lit(num) * (col("c1") + col("c2") - col("i")))
      .select(col("d1"), col("d2"), col("lang"),
        round(col("i").cast("double") / (col("c1") + col("c2") - col("i")), 6).as("jaccard"))
  }
}
