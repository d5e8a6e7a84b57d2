package graft.operators


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.util.Memo

/** Randomized/sketch-based near-duplicate and similarity operators
  * (SURVEY §2.8; LLM-pipeline dedup surface). All seeds are fixed, so runs
  * are reproducible, but results are approximate by construction — these are
  * oracle-exempt and verified by recall bounds against the exact operators
  * (d3, v1) in SketchesTest.
  *
  * Scale design: every operator here is "signature → equi-join on bucket
  * key" — the LSH reformulation of an all-pairs theta join. That is the only
  * join shape that survives 100 TB: candidates come from hash-partitioned
  * buckets, never from a cartesian product.
  */
object Sketches {

  /** Query embedding lookup — one bounded row to the driver (the same way
    * the reference broadcasts its query trajectory). Fails with a clear
    * error when the id is absent. */
  private def queryEmbedding(s: SparkSession, dir: String, queryId: Long): Seq[Float] =
    Tables.table(s, dir, "embeddings")
      .filter(col("vec_id") === queryId).select(col("embedding"))
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"queryId $queryId not found in embeddings under $dir"))
      .getSeq[Float](0)

  /** Embedding dimensionality, inferred FROM THE DATA in one place (one
    * bounded 1-row read — round-11 directive #4): 64 is a property of the
    * shipped fixture, not of the sketch family, so every index build
    * threads this through instead of assuming it. A registered artifact
    * like every other per-(session, dir) cache — `Memo.clearAll()` makes a
    * rewritten fixture re-probe. */
  private[graft] def embeddingDim(s: SparkSession, dir: String): Int =
    Memo(s, "embeddingDim", dir)(_ => embeddingDimOf(Tables.table(s, dir, "embeddings")))
  private[graft] def embeddingDimOf(vecs: DataFrame): Int =
    vecs.limit(1).select(size(col("embedding"))).collect().headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        "cannot infer embedding dim from an empty vector frame"))

  /** 64-bit SimHash over the token multiset (two seeded 32-bit murmurs). */
  private def simhash64(tokens: Seq[String]): Long = {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      val h1 = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(t, 0x85ebca6b)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    votes.zipWithIndex.foldLeft(0L) { case (acc, (v, b)) =>
      if (v > 0) acc | (1L << b) else acc
    }
  }

  private val simhashUdf = udf((toks: Seq[String]) => simhash64(toks))

  /** Per-document 64-bit SimHash fingerprints. */
  def simhashes(s: SparkSession, dir: String): DataFrame =
    Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        simhashUdf(expr("filter(split(text, ' '), x -> x <> '')")).as("simhash"))

  /** SimHash near-dup candidates: banded LSH (4×16-bit bands) — pairs
    * agreeing on ≥1 band are candidates; report those within the Hamming
    * radius. Output: (lang, n_candidate_pairs, n_within_radius). */
  def simhashNearDups(s: SparkSession, dir: String, radius: Int = 12): DataFrame = {
    val sh = simhashes(s, dir)
    val banded = sh.select(col("doc_id"), col("lang"), col("simhash"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bkey", expr("(simhash >> (band * 16)) & 65535"))
    val a = banded.select(col("band"), col("bkey"), col("lang"),
      col("doc_id").as("d1"), col("simhash").as("s1"))
    val b = banded.select(col("band").as("band_b"), col("bkey").as("bkey_b"),
      col("lang").as("lang_b"), col("doc_id").as("d2"), col("simhash").as("s2"))
    a.join(b, col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
        col("lang") === col("lang_b") && col("d1") < col("d2"))
      .select(col("lang"), col("d1"), col("d2"),
        expr("bit_count(s1 ^ s2)").as("hamming"))
      .distinct() // a pair can collide in several bands
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_candidate_pairs"),
        sum(when(col("hamming") <= radius, 1).otherwise(0)).as("n_within_radius"))
      .orderBy(col("lang"))
  }

  /** MinHash signatures (k seeded permutation-style hash functions over the
    * distinct token set) and banded-LSH candidate pairs; exact-Jaccard
    * verification of candidates happens in the caller/test. */
  private val minhashUdf = udf { (toks: Seq[String], k: Int) =>
    (0 until k).map { i =>
      var m = Long.MaxValue
      toks.foreach { t =>
        val h = scala.util.hashing.MurmurHash3.stringHash(t, 0x1b873593 + i).toLong & 0xffffffffL
        if (h < m) m = h
      }
      m
    }
  }

  // k=16, bands=8 (2 rows/band): P(candidate | J=0.6) = 1-(1-0.36)^8 ≈ 0.97
  //
  // `maxBucketSize` is the production hot-bucket guard: an LSH bucket with B
  // members contributes B² candidate pairs, and on duplicate-heavy corpora
  // (the norm at web scale) a few degenerate buckets can dominate the whole
  // join. Buckets above the cap are DROPPED from candidate generation —
  // their members are either near-identical clusters (caught upstream by
  // exact dedup d1/d3) or ubiquitous-shingle noise. The declared p6 keeps
  // the uncapped default so its output is a deterministic contract.
  /** Banded-LSH candidate pairs memoized + persisted per (session, dir,
    * params) — a deterministic derived artifact (seeded hashes) consumed by
    * p6 and by any downstream near-dup verify, so a warm session builds the
    * ~|near-dup-pairs|-row candidate set once (the d3-pair-set precedent). */
  def minhashCandidates(s: SparkSession, dir: String, k: Int = 16, bands: Int = 8,
                        maxBucketSize: Int = Int.MaxValue): DataFrame =
    Memo(s, "minhashCandidates", dir, k, bands, maxBucketSize)(
      _.persist(minhashCandidatesUncached(s, dir, k, bands, maxBucketSize)))

  private def minhashCandidatesUncached(s: SparkSession, dir: String, k: Int, bands: Int,
                                        maxBucketSize: Int): DataFrame = {
    val rowsPerBand = k / bands
    val sig = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        minhashUdf(expr("array_distinct(filter(split(text, ' '), x -> x <> ''))"), lit(k)).as("sig"))
    val banded0 = sig.select(col("doc_id"), col("lang"),
      explode(expr(s"sequence(0, ${bands - 1})")).as("band"), col("sig"))
      .withColumn("bkey", expr(s"slice(sig, band * $rowsPerBand + 1, $rowsPerBand)"))
    val banded =
      if (maxBucketSize == Int.MaxValue) banded0
      else {
        import org.apache.spark.sql.expressions.Window
        val wB = Window.partitionBy(col("band"), col("bkey"), col("lang"))
        banded0.withColumn("_bn", count(lit(1)).over(wB))
          .filter(col("_bn") <= maxBucketSize).drop("_bn")
      }
    val a = banded.select(col("band"), col("bkey"), col("lang"), col("doc_id").as("d1"))
    val b = banded.select(col("band").as("band_b"), col("bkey").as("bkey_b"),
      col("lang").as("lang_b"), col("doc_id").as("d2"))
    a.join(b, col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
        col("lang") === col("lang_b") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("lang"))
      .distinct()
  }

  /** Per-doc MinHash signature + distinct token set — a pure projection
    * (streaming-safe: no shuffle, no state), the row shape the streaming
    * ingest gate broadcasts for its corpus side and computes per arriving
    * document on its probe side. */
  def minhashSignatures(docs: DataFrame, k: Int = 16): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        expr("array_distinct(filter(split(text, ' '), x -> x <> ''))").as("toks"))
      .withColumn("sig", minhashUdf(col("toks"), lit(k)))

  /** Corpus banded-index builds observed (build-once contract test hook —
    * the d14 `incrMaskBuilds` precedent). */
  private[graft] val mhIndexBuilds = new java.util.concurrent.atomic.AtomicLong

  /** d18: MinHash-LSH INCREMENTAL ingest gate — the lexical-sketch member
    * of the incremental-dedup trilogy (d14/d16 exact token-set probe, v11
    * semantic gate, this). The corpus's banded signature rows
    * `(band, bkey, lang, doc_id)` are a build-once IndexStore artifact
    * keyed by corpus content + sketch params; an arriving batch computes
    * its OWN signatures with the same seeded hash family and probes the
    * index by `(band, bkey, lang)` equi-join — candidate pairs are
    * CROSS-side only (old×old and new×new bucket spaces never
    * materialize), and probe cost tracks the batch, not the corpus.
    * Every candidate is then EXACT-verified (Jaccard ≥ 3/5 over distinct
    * token sets, pair-restricted — the verify join fans out candidate
    * pairs by their tokens, never re-enumerating a quadratic space).
    * Returns the verified duplicate NEW doc ids, one column `new_id`.
    *
    * vs d14: same admission contract, different index. d14's bitmap-mask
    * probe carries the corpus VOCABULARY (bounded, but content-bearing);
    * this carries `bands` longs per corpus doc regardless of vocabulary —
    * the form that survives an unbounded-vocabulary corpus at 100 TB, at
    * the price of probabilistic candidate recall
    * (P(candidate | J=0.6) = 1−(1−0.6²)⁸ ≈ 0.97 per pair at k=16/b=8 —
    * sf0.1 measurably misses ~1 borderline pair, so d18 is oracle-exempt;
    * SketchesTest proves rejections ⊆ d14's exact set, recall ≥ 0.95,
    * planted-twin catch, and build-once artifact reuse instead). */
  def minhashIngestGate(s: SparkSession, dir: String, oldSources: Seq[String],
                        k: Int = 16, bands: Int = 8): DataFrame =
    Memo(s, "minhashIngestGate", dir, oldSources.sorted, k, bands) { m =>
      val docs = Tables.table(s, dir, "documents")
      // build-once corpus index: keyed by roster + corpus content (append
      // of NEW sources leaves it valid — the d14 keying contract) + params
      val key = DocSimilarity.incrCorpusKey(s, dir, oldSources) + s"-mh$k-$bands"
      m.persist(minhashCrossGate(s,
        docs.filter(col("source").isin(oldSources: _*)),
        docs.filter(!col("source").isin(oldSources: _*)),
        DocSimilarity.distinctTokens(s, dir), Some(key), k, bands))
    }

  /** The d18 core over explicit corpus/batch document frames (ScaleSmoke
    * fixes the batch while growing the corpus through this seam). `toks`
    * must cover both sides' doc ids — it is pair-restricted by the
    * candidate semi-structure before any quadratic space could form. */
  /** [[minhashCrossGate]] over a versioned [[graft.sources.GraftTable]]:
    * corpus = snapshot `corpusVersion`, batch = the manifest changelog
    * (corpusVersion, batchVersion] — the appended files only, the corpus
    * never rescanned. The banded corpus index keys by `table@version` +
    * sketch params: immutable snapshots make the version the content
    * fingerprint, so validity costs ZERO scans (d16's keying pattern on
    * the d18 index — the lexical-sketch gate now has the same
    * batch-probes-snapshot production shape as the exact and semantic
    * gates). Contract-tested in `GraftTableTest`: equal to the
    * roster-split gate, index reused under appends, rebuilt on a corpus
    * snapshot roll. */
  def minhashGateTable(s: SparkSession, tableDir: String,
                       corpusVersion: Int, batchVersion: Int,
                       k: Int = 16, bands: Int = 8): DataFrame = {
    val corpus = graft.sources.GraftTable.read(s, tableDir, Some(corpusVersion))
    val batch = graft.sources.GraftTable
      .readChanges(s, tableDir, corpusVersion, batchVersion)
    val toksOf = (df: DataFrame) => df
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val key = DocSimilarity.tableSnapshotKey(tableDir, corpusVersion) + s"-mh$k-$bands"
    minhashCrossGate(s, corpus, batch,
      toksOf(corpus.unionByName(batch)), Some(key), k, bands)
  }

  /** The candidate stage of [[minhashCrossGate]]: banded corpus index
    * (built or loaded under `corpusKey`) bucket-joined with the batch's
    * banded rows — one (old_id, new_id, lang) row per candidate cross
    * pair; with `collisions` the row carries `nb` = the number of bands
    * the pair collided in (a monotone Jaccard estimate the gate ranks
    * by). */
  def minhashCrossCandidates(s: SparkSession, corpusDocs: DataFrame,
                             batchDocs: DataFrame, corpusKey: Option[String],
                             k: Int = 16, bands: Int = 8,
                             collisions: Boolean = false): DataFrame = {
    val rowsPerBand = k / bands
    val bandRows = (df: DataFrame) => df
      .select(col("doc_id"), col("lang"),
        minhashUdf(expr("array_distinct(filter(split(text, ' '), x -> x <> ''))"),
          lit(k)).as("sig"))
      .select(col("doc_id"), col("lang"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("band"), col("sig"))
      .select(col("doc_id"), col("lang"), col("band"),
        expr(s"slice(sig, band * $rowsPerBand + 1, $rowsPerBand)").as("bkey"))
    val idx = corpusKey match {
      case Some(key) =>
        graft.sources.IndexStore.materializeKeyed(s, key, "mh_bands") {
          mhIndexBuilds.incrementAndGet()
          bandRows(corpusDocs)
        }._1
      case None =>
        mhIndexBuilds.incrementAndGet()
        bandRows(corpusDocs)
    }
    // broadcast the BATCH side explicitly: the artifact's parquet compresses
    // below the auto-broadcast threshold, so the planner would otherwise
    // broadcast the CORPUS-sized index (measured 5× slower at ×10 corpus —
    // a driver-side hash build of millions of banded rows). A daily ingest
    // batch is the bounded side by contract; the index streams through the
    // join, the scalable direction at any corpus size.
    val hits = idx
      .select(col("band"), col("bkey"), col("lang"), col("doc_id").as("old_id"))
      .join(broadcast(bandRows(batchDocs)
        .select(col("band"), col("bkey"), col("lang"), col("doc_id").as("new_id"))),
        Seq("band", "bkey", "lang"))
    if (collisions)
      hits.groupBy(col("old_id"), col("new_id"), col("lang"))
        .agg(count(lit(1)).as("nb"))
    else hits.select(col("old_id"), col("new_id"), col("lang")).distinct()
  }

  def minhashCrossGate(s: SparkSession, corpusDocs: DataFrame, batchDocs: DataFrame,
                       toks: DataFrame, corpusKey: Option[String],
                       k: Int = 16, bands: Int = 8,
                       maxVerifyPerDoc: Int = 16): DataFrame = {
    val candAll = minhashCrossCandidates(s, corpusDocs, batchDocs, corpusKey,
      k, bands, collisions = true)
    // Bound EXACT VERIFICATION per arriving doc: one verified hit rejects
    // a doc, so verifying its every candidate is pure waste on dup-heavy
    // corpora (measured: the ×10 fixture yields 14M TRUE-pair candidates
    // for 2 270 rejections — verification fan-out, not candidate
    // generation, was the whole probe cost). Candidates rank by
    // band-collision count (a monotone estimate of Jaccard: more matching
    // bands ⇒ higher signature agreement), old_id as the determinism
    // tie-break; only the top maxVerifyPerDoc per new doc fan out their
    // tokens — per-doc verification cost is CONSTANT in the corpus. The
    // recall trade: a doc whose capped-in candidates all fail verification
    // while a capped-out one would have passed is a missed rejection —
    // ranked capping makes that the unlikeliest ordering (the capped-in
    // ones have the highest estimated overlap); the ≥0.95 doc-recall
    // bound is measured with the default cap in SketchesTest.
    // Int.MaxValue restores exhaustive verification.
    val cand =
      if (maxVerifyPerDoc == Int.MaxValue) candAll.drop("nb")
      else Rank.topKPerGroup(candAll, Seq(col("new_id")),
        Seq(col("nb").desc, col("old_id").asc), maxVerifyPerDoc)
        .select(col("old_id"), col("new_id"), col("lang"))
    // exact verification over candidate PAIRS only. Token work is
    // semi-restricted to CANDIDATE docs first — the semi joins push below
    // the caller's token `distinct()` (PushDownLeftSemiAntiJoin: doc_id is
    // a grouping column), so the per-probe token shuffle and the size
    // aggregation track the candidate set, never the corpus (measured:
    // this took the ×10-corpus probe from ~corpus-linear to candidate-
    // bound in ScaleSmoke's mh mode)
    val oldIds = cand.select(col("old_id").as("doc_id")).distinct()
    val newIds = cand.select(col("new_id").as("doc_id")).distinct()
    val oldToks = toks.join(oldIds, Seq("doc_id"), "left_semi")
    val newToks = toks.join(newIds, Seq("doc_id"), "left_semi")
    cand
      .join(oldToks.select(col("doc_id").as("old_id"), col("lang"), col("tok")),
        Seq("old_id", "lang"))
      .join(newToks.select(col("doc_id").as("new_id"), col("lang"), col("tok")),
        Seq("new_id", "lang", "tok"))
      .groupBy(col("old_id"), col("new_id")).agg(count(lit(1)).as("i"))
      .join(oldToks.groupBy(col("doc_id")).agg(count(lit(1)).as("c1"))
        .withColumnRenamed("doc_id", "old_id"), "old_id")
      .join(newToks.groupBy(col("doc_id")).agg(count(lit(1)).as("c2"))
        .withColumnRenamed("doc_id", "new_id"), "new_id")
      .filter(col("i") * 5 >= (col("c1") + col("c2") - col("i")) * 3)
      .select(col("new_id")).distinct()
  }

  /** Random-projection LSH ANN: 8 seeded hyperplanes → 256-bucket space;
    * multiprobe the query bucket plus all 1-, 2- and 3-bit flips (93 buckets
    * — a recall/cost point chosen for the weakly clustered fixture);
    * exact cosine on candidates only. Approximate analog of v1_vector_knn.
    * The single query point is collected to the driver (bounded, one row —
    * the same way the reference broadcasts the query trajectory). */
  def annCosineKnn(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val dim = embeddingDim(s, dir)
    val nPlanes = 8
    val rnd = new scala.util.Random(1234)
    val planes = Array.fill(nPlanes, dim)(rnd.nextGaussian())
    val bPlanes = s.sparkContext.broadcast(planes)
    def sign(emb: Seq[Float]): Int = {
      val ps = bPlanes.value
      var sig = 0
      var i = 0
      while (i < ps.length) {
        var d = 0.0
        var j = 0
        while (j < dim && j < emb.length) { d += ps(i)(j) * emb(j); j += 1 }
        if (d >= 0) sig |= (1 << i)
        i += 1
      }
      sig
    }
    val sigUdf = udf((emb: Seq[Float]) => sign(emb))
    val em = Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), sigUdf(col("embedding")).as("sig"))
    val qEmb = queryEmbedding(s, dir, queryId)
    val qSig = sign(qEmb)
    val probes: Seq[Int] = (Seq(qSig)
      ++ (0 until nPlanes).map(i => qSig ^ (1 << i))
      ++ (for (i <- 0 until nPlanes; j <- (i + 1) until nPlanes) yield qSig ^ (1 << i) ^ (1 << j))
      ++ (for (i <- 0 until nPlanes; j <- (i + 1) until nPlanes; l <- (j + 1) until nPlanes)
            yield qSig ^ (1 << i) ^ (1 << j) ^ (1 << l)))
    em.filter(col("vec_id") =!= queryId && col("sig").isInCollection(probes))
      .select(col("vec_id"),
        round(VectorOps.dot(col("embedding"), typedLit(qEmb)) /
          (sqrt(VectorOps.norm2Col("embedding")) * sqrt(typedLit(qEmb.map(x => x.toDouble * x.toDouble).sum))), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** ALL-PAIRS random-projection LSH similarity join — the scale path
    * SCALE.md promises for v2: candidate pairs from L independent
    * hyperplane signature tables (bucket equi-joins over SLIM signature
    * rows, never n²/2 vector pairs), exact cosine refine after candidate
    * dedup, so every emitted pair's similarity is exact and recall is
    * 1-(1-p^b)^L with p = 1-θ/π (≈ 0.93 at cos 0.9 with b=8, L=12 —
    * measured on planted near-dups in SketchesTest). LSH is a HIGH-
    * similarity tool: at mid thresholds p^b collapses and candidate volume
    * approaches all-pairs — callers wanting cos ≥ 0.5 on weakly clustered
    * data should use the exact v2 bound-then-refine instead. */
  /** Candidate pair sets memoized + persisted per (session, cacheKey,
    * params) — like the p6/d3 pair sets, the deduped LSH candidate set is a
    * deterministic derived artifact (seeded hyperplanes) that a warm session
    * reuses across refine calls (construct-once / query-many).
    *
    * CONTRACT: `cacheKey` must uniquely identify the `vecs` SOURCE (e.g. the
    * parquet dir it was read from) — the memo is keyed by (session, cacheKey,
    * params), NOT by the DataFrame, so passing a different `vecs` under a
    * reused key returns the first call's persisted candidate set. Pass None
    * to disable memoization for ad-hoc inputs. */
  def lshRefinedPairs(vecs: DataFrame, nPlanes: Int = 8, tables: Int = 12,
                      cacheKey: Option[String] = None): DataFrame = {
    val s = vecs.sparkSession
    graft.functions.FloatDotProduct.register(s)
    val dim = embeddingDimOf(vecs)
    val rnd = new scala.util.Random(20240812L)
    val planes = Array.fill(tables, nPlanes, dim)(rnd.nextGaussian())
    val bPlanes = s.sparkContext.broadcast(planes)
    val sigsUdf = udf { (emb: Seq[Float]) =>
      val ps = bPlanes.value
      (0 until ps.length).map { t =>
        var sig = 0
        var i = 0
        while (i < nPlanes) {
          var d = 0.0
          var j = 0
          while (j < dim && j < emb.length) { d += ps(t)(i)(j) * emb(j); j += 1 }
          if (d >= 0) sig |= (1 << i)
          i += 1
        }
        sig
      }
    }
    // per-vector norm computed ONCE over the n base rows (codegen
    // graft_dot(x,x) ≡ the old per-pair HOF fold bit-for-bit, per the
    // FloatNorm2 rewrite contract) — never per candidate pair
    val base = vecs.select(col("vec_id"), col("embedding"),
      sqrt(expr("graft_dot(embedding, embedding)")).as("nrm"))
    // slim signature rows only — embeddings rejoin AFTER candidate dedup so
    // the bucket join and the distinct never shuffle vector payloads
    def buildCand(): DataFrame = {
      val em = base.select(col("vec_id"), posexplode(sigsUdf(col("embedding"))).as(Seq("t", "sig")))
      val a = em.select(col("t"), col("sig"), col("vec_id").as("id1"))
      val b = em.select(col("t").as("tb"), col("sig").as("sigb"), col("vec_id").as("id2"))
      a.join(b, col("t") === col("tb") && col("sig") === col("sigb") &&
          col("id1") < col("id2"))
        .select(col("id1"), col("id2")).distinct()
    }
    val cand = Memo.get(s, "lshCandidates", cacheKey, nPlanes, tables)(_.persist(buildCand()))
    // the candidate set (~collision pairs) vastly outnumbers the base rows at
    // any scale where LSH pays, so the rejoin streams candidates against the
    // slim (id, emb, nrm) side — AQE broadcasts it when it fits
    cand.join(base.select(col("vec_id").as("id1"), col("embedding").as("e1"), col("nrm").as("n1")), "id1")
      .join(base.select(col("vec_id").as("id2"), col("embedding").as("e2"), col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(expr("graft_dot(e1, e2)") / (col("n1") * col("n2")), 6).as("cos_sim"))
  }

  /** Near-dup form: LSH candidates refined against `threshold` (cos ≥ 0.9
    * default — the regime where the bucket join actually prunes). */
  def lshNearDupPairs(s: SparkSession, dir: String, threshold: Double = 0.9,
                      nPlanes: Int = 8, tables: Int = 12): DataFrame =
    lshRefinedPairs(Tables.table(s, dir, "embeddings"), nPlanes, tables,
      cacheKey = Some(dir))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("cos_sim").desc, col("id1"), col("id2"))

  /** IVF coarse index: quantizer centroid array (bounded, nlist rows) plus
    * the per-vector list assignment table. Built ONCE per (session, dir,
    * nlist), memoized in-session AND persisted as a parquet artifact via
    * [[graft.sources.IndexStore]] — the reference's "construct index once
    * (minutes), answer many queries (seconds)" lifecycle, surviving across
    * sessions. At 100 TB `assigned` is a table partitioned by `list_id`;
    * `centers` is driver-resident metadata (nlist·dim doubles). */
  final case class IvfIndex(centers: Array[Array[Double]], assigned: DataFrame,
                            fromArtifact: Boolean)

  /** Build (or load) the IVF index: if the (centers, assigned) parquet
    * artifacts are complete, read them — no k-means scan at all; otherwise
    * run the seeded k-means fit once, assign each vector to its list, and
    * write both artifacts for the next session. */
  def buildIvfIndex(s: SparkSession, dir: String, nlist: Int = 16): IvfIndex =
    Memo(s, "ivfIndex", dir, nlist) { m =>
      import graft.sources.IndexStore
      val cPath = IndexStore.artifactPath(s, dir, s"ivf${nlist}_centers")
      val aPath = IndexStore.artifactPath(s, dir, s"ivf${nlist}_assigned")
      val canLoad = IndexStore.persistEnabled(s) &&
        IndexStore.exists(s, cPath) && IndexStore.exists(s, aPath)
      if (canLoad) {
        val centers = s.read.parquet(cPath).orderBy(col("list_id")).collect()
          .map(_.getSeq[Double](1).toArray)
        IvfIndex(centers, m.persist(s.read.parquet(aPath)), fromArtifact = true)
      } else {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.linalg.Vectors
        val toVec = udf((emb: Seq[Float]) => Vectors.dense(emb.map(_.toDouble).toArray))
        val em = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), toVec(col("embedding")).as("f"))
        val model = new KMeans().setK(nlist).setSeed(42).setMaxIter(10)
          .setFeaturesCol("f").setPredictionCol("list_id")
          .fit(em.select(col("f")))
        val centers = model.clusterCenters.map(_.toArray)
        var assigned = model.transform(em)
          .select(col("vec_id"), col("embedding"), col("list_id"))
        if (IndexStore.persistEnabled(s)) {
          import s.implicits._
          centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
            .toDF("list_id", "center")
            .write.mode("overwrite").parquet(cPath)
          assigned.write.mode("overwrite").parquet(aPath)
          assigned = s.read.parquet(aPath)
        }
        IvfIndex(centers, m.persist(assigned), fromArtifact = false)
      }
    }

  /** Map-side nearest-centroid routing: each vector to its argmin list via
    * a single PROJECTION over an array-literal of the centroids — a
    * left-fold argmin (strict `<`, so ties break to the LOWEST list id)
    * inside one higher-order expression. Zero shuffle, zero join, zero
    * window: the round-7 relational form (`crossJoin(broadcast(centers))`
    * → row_number) fanned every vector out ×nlist WITH its full embedding
    * through a window exchange, i.e. a full-corpus index build shuffled
    * nlist× the corpus bytes; this form touches each row exactly once
    * where it already lives (plan-guarded Exchange-free in
    * ExplainPlanTest). Per-row independent and deterministic — the
    * per-centroid distance is the same fixed-order zip_with/aggregate
    * fold as before and the argmin scans centroids in list-id order — so
    * routing a batch and routing the full table against the same centers
    * agree vector-for-vector, the property incremental ingestion rests
    * on (append ≡ one-shot tests in SketchesTest). */
  def ivfRoute(vecs: DataFrame, centers: Array[Array[Double]]): DataFrame =
    if (centers.length.toLong *
        (if (centers.isEmpty) 0L else centers(0).length.toLong) >
        ivfRouteLiteralMaxCells(vecs.sparkSession))
      ivfRouteBroadcast(vecs, centers)
    else {
      val cs = array(centers.map(c => array(c.map(lit(_)): _*)): _*)
      vecs.select(col("vec_id"), col("embedding"), cs.as("cs"))
        .withColumn("list_id", expr(
          """aggregate(
            |  transform(cs, (c, i) -> named_struct(
            |    'd', aggregate(zip_with(embedding, c, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), CAST(0.0 AS DOUBLE), (a, v) -> a + v),
            |    'id', i)),
            |  named_struct('d', CAST('Infinity' AS DOUBLE), 'id', -1),
            |  (best, cur) -> IF(cur.d < best.d, cur, best)).id""".stripMargin))
        .select(col("vec_id"), col("embedding"), col("list_id").cast("int"))
    }

  /** Literal-fold cell budget for [[ivfRoute]] (centroid cells =
    * nlist × dim): below it the centers inline as an expression literal
    * (zero setup, constant-folded); above it the expression tree and its
    * generated code blow up — production nlist ≥ 4096 × 64 dims is
    * 256 k doubles of plan — so routing switches to the broadcast-variable
    * static-invoke kernel ([[ivfRouteBroadcast]]). Overridable via
    * `spark.graft.ivfRouteLiteralMaxCells` (tests pin it low to exercise
    * both shapes on one fixture). */
  private[graft] val IvfRouteLiteralMaxCells = 4096L

  private[graft] def ivfRouteLiteralMaxCells(s: SparkSession): Long =
    s.conf.getOption("spark.graft.ivfRouteLiteralMaxCells").map(_.toLong)
      .getOrElse(IvfRouteLiteralMaxCells)

  /** Large-nlist form of [[ivfRoute]]: same map-side zero-shuffle argmin,
    * centers carried by a broadcast variable read inside a codegen static
    * call ([[graft.functions.IvfRouteKernel]]) — bit-identical routing to
    * the literal fold (parity-tested), Exchange-free plan (plan-tested). */
  /** One broadcast + registered kernel per distinct centers array per
    * session, so per-batch routing in a long-lived serving loop reuses ONE
    * broadcast instead of leaking a ~32 MB variable and a registry entry
    * on every call. The cache is BOUNDED (insertion-ordered, capped at
    * [[MaxRouteKernels]]): past the cap the oldest kernel is unregistered
    * and its broadcast destroyed — quantizer re-fit history cannot
    * accumulate without bound. (An evicted kernel's broadcast dies with
    * it; any un-executed plan still referencing one would fail, so route
    * outputs are always materialized promptly — IndexStore does.) Keys
    * compare by ARRAY IDENTITY (the memoized quantizer hands out one
    * array per index), never by content. */
  private val MaxRouteKernels = 8
  private val routeKernels = scala.collection.mutable.LinkedHashMap
    .empty[(SparkSession, Array[Array[Double]]),
           (String, org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])]

  def ivfRouteBroadcast(vecs: DataFrame, centers: Array[Array[Double]]): DataFrame = {
    val s = vecs.sparkSession
    val fn = routeKernels.synchronized {
      routeKernels.get((s, centers)) match {
        case Some((f, _)) => f
        case None =>
          if (routeKernels.size >= MaxRouteKernels) {
            val (k, (oldFn, oldBc)) = routeKernels.head
            try {
              graft.functions.IvfRouteKernel.unregister(k._1, oldFn)
              oldBc.destroy()
            } catch { case _: Exception => () } // stopped session etc.
            routeKernels.remove(k)
          }
          val bc = s.sparkContext.broadcast(centers)
          val f = graft.functions.IvfRouteKernel.register(s, bc)
          routeKernels.put((s, centers), (f, bc)); f
      }
    }
    vecs.select(col("vec_id"), col("embedding"),
      call_function(fn, col("embedding")).as("list_id"))
  }

  /** k-means fits run by [[buildIvfIndexOver]] (tests assert the warm /
    * artifact-served / append paths never refit). */
  private[graft] val ivfFits = new java.util.concurrent.atomic.AtomicLong

  /** [[buildIvfIndex]] generalized to an ARBITRARY vector frame under an
    * explicit artifact name prefix: the seeded k-means fits ONCE over
    * `vecs`, the assignment is the relational [[ivfRoute]] (so corpus
    * assignment and any later batch routing are the same deterministic
    * function), and both artifacts persist per (data dir, name). */
  def buildIvfIndexOver(s: SparkSession, dir: String, name: String,
                        vecs: => DataFrame, nlist: Int = 16): IvfIndex =
    Memo(s, "ivfIndexOver", dir, name, nlist) { m =>
      import graft.sources.IndexStore
      buildIvfIndexAt(s,
        IndexStore.artifactPath(s, dir, s"$name${nlist}_centers"),
        IndexStore.artifactPath(s, dir, s"$name${nlist}_assigned"),
        vecs, nlist, m)
    }

  /** [[buildIvfIndexOver]] under an EXPLICIT validity key (the
    * `artifactPathKeyed` convention): for quantizers over a corpus whose
    * identity is already pinned by something cheaper than a dir
    * fingerprint — e.g. a [[graft.sources.GraftTable]] snapshot version. */
  def buildIvfIndexKeyed(s: SparkSession, key: String,
                         vecs: => DataFrame, nlist: Int = 16): IvfIndex =
    Memo(s, "ivfIndexKeyed", key, nlist) { m =>
      import graft.sources.IndexStore
      buildIvfIndexAt(s,
        IndexStore.artifactPathKeyed(s, key, s"ivf${nlist}_centers"),
        IndexStore.artifactPathKeyed(s, key, s"ivf${nlist}_assigned"),
        vecs, nlist, m)
    }

  private def buildIvfIndexAt(s: SparkSession, cPath: String, aPath: String,
                              vecs: => DataFrame, nlist: Int, m: Memo.Frames): IvfIndex = {
    {
      import graft.sources.IndexStore
      val canLoad = IndexStore.persistEnabled(s) &&
        IndexStore.exists(s, cPath) && IndexStore.exists(s, aPath)
      if (canLoad) {
        val centers = s.read.parquet(cPath).orderBy(col("list_id")).collect()
          .map(_.getSeq[Double](1).toArray)
        IvfIndex(centers, m.persist(s.read.parquet(aPath)), fromArtifact = true)
      } else {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.linalg.Vectors
        ivfFits.incrementAndGet()
        val toVec = udf((emb: Seq[Float]) => Vectors.dense(emb.map(_.toDouble).toArray))
        val v = vecs
        val model = new KMeans().setK(nlist).setSeed(42).setMaxIter(10)
          .setFeaturesCol("f").setPredictionCol("list_id")
          .fit(v.select(toVec(col("embedding")).as("f")))
        val centers = model.clusterCenters.map(_.toArray)
        var assigned = ivfRoute(v, centers)
        if (IndexStore.persistEnabled(s)) {
          import s.implicits._
          centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
            .toDF("list_id", "center")
            .write.mode("overwrite").parquet(cPath)
          assigned.write.mode("overwrite").parquet(aPath)
          assigned = s.read.parquet(aPath)
        }
        IvfIndex(centers, m.persist(assigned), fromArtifact = false)
      }
    }
  }

  /** Incremental IVF ingestion — the vector-space analog of the d14
    * cross-probe (round-8 directive #2): the coarse quantizer fits ONCE on
    * the EXISTING corpus (vec_id % 10 != 0 models it on the frozen
    * fixture); a NEW embedding batch is then ASSIGNED to those frozen
    * centroids by [[ivfRoute]] — a broadcast-argmin over the batch rows
    * only, no k-means refit, no corpus rescan — and the routed rows
    * persist as an append DELTA artifact beside the corpus assignment
    * (exactly a partitioned lake append: at cluster scale the delta lands
    * as new files under the list_id-partitioned assignment table; a
    * real multi-ingest deployment keys the artifacts by corpus-subset
    * content / snapshot version, the d14 precedent). The served index is
    * corpus ∪ delta. Returns (corpus index, delta, union assignment). */
  def ivfIncremental(s: SparkSession, dir: String,
                     nlist: Int = 16): (IvfIndex, DataFrame, DataFrame) = {
    val em = Tables.table(s, dir, "embeddings")
    val idx = buildIvfIndexOver(s, dir, "ivfc90_",
      em.filter(col("vec_id") % 10 =!= 0), nlist)
    val (delta, _) = graft.sources.IndexStore
      .materialize(s, dir, s"ivfc90_${nlist}_delta") {
        ivfRoute(em.filter(col("vec_id") % 10 === 0), idx.centers)
      }
    (idx, delta, idx.assigned.unionByName(delta))
  }

  /** [[ivfIncremental]] over a versioned [[graft.sources.GraftTable]] of
    * embeddings — the v-side twin of `incrementalNearDupsTable`, making
    * the "snapshot version keys the artifacts" scaladoc above literal: the
    * quantizer fits ONCE on snapshot `corpusVersion` with its centers /
    * assignment artifacts keyed by `table@version` (immutable snapshot ⇒
    * zero-scan validity; a later ingest append cannot invalidate them),
    * and each batch is the manifest changelog routed against the frozen
    * centers, persisted as a per-batch-version delta artifact. The served
    * index is corpus ∪ delta. */
  def ivfIncrementalTable(s: SparkSession, tableDir: String, corpusVersion: Int,
                          batchVersion: Int, nlist: Int = 16)
      : (IvfIndex, DataFrame, DataFrame) = {
    import graft.sources.{GraftTable, IndexStore}
    val key = "ivftbl" + IndexStore.dirId(tableDir) + s"-v$corpusVersion"
    val idx = buildIvfIndexKeyed(s, key,
      GraftTable.read(s, tableDir, Some(corpusVersion))
        .select(col("vec_id"), col("embedding")), nlist)
    val (delta, _) = IndexStore.materializeKeyed(s, key, s"delta_v$batchVersion") {
      ivfRoute(GraftTable.readChanges(s, tableDir, corpusVersion, batchVersion)
        .select(col("vec_id"), col("embedding")), idx.centers)
    }
    (idx, delta, idx.assigned.unionByName(delta))
  }

  /** Re-fit policy for the frozen IVF quantizer (round-9 directive 4):
    * incremental ingest routes batches against FROZEN centers — correct
    * and cheap, but under distribution drift the quantizer decays silently
    * (a shifted batch piles into few lists, so within-list pair spaces and
    * probe costs blow up and cluster-bounded quality drops). The policy
    * encodes WHEN the frozen quantizer must re-key:
    *  - `maxSkew`: max/median per-list occupancy of the SERVED
    *    (corpus ∪ delta) assignment — a drifted batch concentrates into
    *    the nearest few old lists and spikes this;
    *  - `maxAppendFrac`: appended rows / corpus rows — past it the
    *    quantizer has simply not seen most of the data it serves.
    * Either trigger ⇒ re-fit into a NEW versioned artifact (the old
    * snapshot's index is immutable — readers of the old version keep it). */
  final case class IvfDriftPolicy(maxSkew: Double = 8.0, maxAppendFrac: Double = 0.5)

  /** Occupancy/volume statistics of a served assignment: ONE slim
    * aggregate over (list_id → count) — nlist bounded rows, never the
    * vectors. */
  final case class IvfDriftStats(corpusRows: Long, deltaRows: Long,
                                 maxList: Long, medianList: Double) {
    def appendFrac: Double = deltaRows.toDouble / math.max(corpusRows, 1L)
    def skew: Double = maxList.toDouble / math.max(medianList, 1.0)
  }

  def ivfDriftStats(corpusAssigned: DataFrame, delta: DataFrame): IvfDriftStats = {
    val occ = corpusAssigned.select(col("list_id"))
      .unionByName(delta.select(col("list_id")))
      .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")), expr("median(n)")).head()
    IvfDriftStats(corpusAssigned.count(), delta.count(),
      occ.getLong(0), occ.getDouble(1))
  }

  def ivfNeedsRefit(stats: IvfDriftStats, policy: IvfDriftPolicy): Boolean =
    stats.skew > policy.maxSkew || stats.appendFrac > policy.maxAppendFrac

  /** nlist policy for a RE-FIT: the √N rule of thumb (FAISS public
    * guidance — lists ≈ √rows balances probe cost against list length),
    * floored at the index's current nlist (a re-fit never coarsens) and
    * capped so the centroid table stays a bounded broadcast. This is how
    * nlist SCALES with the corpus under continuous ingest: each policy-
    * fired re-key re-derives it from the rows actually served. */
  def nlistFor(rows: Long, floor: Int = 16, cap: Int = 65536): Int =
    math.max(floor, math.min(cap,
      math.round(math.sqrt(math.max(rows, 1L).toDouble)).toInt))

  /** Drift-checked serving form of [[ivfIncrementalTable]]: route the
    * batch against the frozen `corpusVersion` quantizer, measure the
    * served occupancy, and — when [[ivfNeedsRefit]] fires — re-fit a NEW
    * quantizer over the FULL `batchVersion` snapshot under the
    * `table@batchVersion` artifact key (build-once for every later reader
    * of that snapshot; the old version's artifacts are never touched).
    * Returns (served index, served assignment, refitted?). At 100 TB the
    * stats aggregate is nlist rows and the re-fit is the same one-time
    * index build any quantizer roll pays — the policy just makes the roll
    * DETERMINISTIC instead of a silently decaying frozen index. */
  def ivfServeTable(s: SparkSession, tableDir: String, corpusVersion: Int,
                    batchVersion: Int, nlist: Int = 16,
                    policy: IvfDriftPolicy = IvfDriftPolicy(),
                    scaleNlist: Boolean = false)
      : (IvfIndex, DataFrame, Boolean) = {
    import graft.sources.{GraftTable, IndexStore}
    val (idx, delta, union) =
      ivfIncrementalTable(s, tableDir, corpusVersion, batchVersion, nlist)
    val stats = ivfDriftStats(idx.assigned, delta)
    if (!ivfNeedsRefit(stats, policy))
      (idx, union, false)
    else {
      // scaleNlist: the re-key re-derives nlist from the rows it will
      // actually serve (√N policy) — the hook that keeps list occupancy
      // bounded as the corpus grows under continuous ingest
      val n2 = if (scaleNlist)
        nlistFor(stats.corpusRows + stats.deltaRows, floor = nlist) else nlist
      val key = "ivftbl" + IndexStore.dirId(tableDir) + s"-v$batchVersion"
      val re = buildIvfIndexKeyed(s, key,
        GraftTable.read(s, tableDir, Some(batchVersion))
          .select(col("vec_id"), col("embedding")), n2)
      (re, re.assigned, true)
    }
  }

  /** CDC-consistent serving form of [[ivfIncrementalTable]] — the consumer
    * the change feed exists for: the assignment an ANN query scans is the
    * frozen-quantizer corpus index FOLDED with the table's change feed over
    * (corpusVersion, headVersion]. Inserts and update POSTIMAGES route
    * against the frozen centers (v10 mechanics); deletes and update
    * PREIMAGES tombstone their vec_ids; a re-inserted id serves its LATEST
    * embedding (per-id last-change-wins, resolved by (_commit_version,
    * add-over-delete)) — never a stale posting. Cost tracks the FEED: the
    * corpus assignment is an immutable artifact, the fold is one
    * feed-sized groupBy plus an anti-join on vec_id, and no corpus vector
    * is ever re-read or re-routed. Without this, a purged document keeps
    * surfacing from the ANN index — the staleness class d17's table
    * delete removes from the lexical side, closed here for vectors. */
  def ivfServeTableCdc(s: SparkSession, tableDir: String, corpusVersion: Int,
                       headVersion: Int, nlist: Int = 16)
      : (IvfIndex, DataFrame) = {
    import graft.sources.{GraftTable, IndexStore}
    val key = "ivftbl" + IndexStore.dirId(tableDir) + s"-v$corpusVersion"
    val idx = buildIvfIndexKeyed(s, key,
      GraftTable.read(s, tableDir, Some(corpusVersion))
        .select(col("vec_id"), col("embedding")), nlist)
    val feed = GraftTable.readCdc(s, tableDir, corpusVersion, headVersion)
    val isAdd = col(GraftTable.ChangeTypeCol).isin("insert", "update_postimage")
    // last change per vec_id wins; within one commit the postimage
    // outranks the preimage (an upsert tombstones AND re-adds in one
    // version), so `rank` sits after the version in the ordering struct
    val resolved = feed
      .select(col("vec_id"),
        struct(col("_commit_version"),
          when(isAdd, 1).otherwise(0).as("rank"), col("embedding")).as("st"))
      .groupBy(col("vec_id")).agg(max(col("st")).as("last"))
      .select(col("vec_id"), col("last.rank").as("rank"),
        col("last.embedding").as("embedding"))
    val adds = resolved.filter(col("rank") === 1)
      .select(col("vec_id"), col("embedding"))
    val (delta, _) = IndexStore.materializeKeyed(s, key,
      s"cdcdelta_v$headVersion") { ivfRoute(adds, idx.centers) }
    // every CHANGED id leaves the corpus postings; survivors re-enter
    // routed at their latest embedding
    val served = idx.assigned
      .join(resolved.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .unionByName(delta)
    (idx, served)
  }

  /** Build-once embeddings table fixture for v15: v0 = the full corpus;
    * the upgrade (CDC enabled) is a purge DELETE of `vec_id % 7 == 3`
    * followed by a re-embedding UPSERT of `vec_id % 10 == 5` with a
    * deterministic affine shift — ids ≡ 35 (mod 70) are deleted THEN
    * re-inserted, exercising last-change-wins. */
  def embCdcTable(s: SparkSession, dir: String): String = {
    import graft.sources.{GraftTable, IndexStore}
    val tdir = IndexStore.artifactPath(s, dir, "emb_cdc_table")
    GraftTable.getOrCreate(s, tdir, statsCols = Seq("vec_id")) {
      Tables.table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .repartitionByRange(4, col("vec_id"))
    }
    // whole upgrade under the GraftTable lock (the session-wide cdc conf
    // must not be unset by a concurrent builder mid-commit); step guards
    // are OP-aware so a no-op step never dead-ends the remaining ones and
    // a crash between commits resumes at the missing step
    GraftTable.synchronized {
      val prev = s.conf.getOption("spark.graft.cdc")
      s.conf.set("spark.graft.cdc", "true")
      try {
        def headOp = GraftTable.currentVersion(tdir)
          .map(v => GraftTable.manifest(tdir, v).op)
        if (headOp.contains("create"))
          try GraftTable.delete(s, tdir, col("vec_id") % 7 === 3, Seq("vec_id"))
          catch { case _: GraftTable.CommitConflict
            if GraftTable.currentVersion(tdir).exists(_ > 0) => () }
        if (headOp.exists(op => op == "create" || op == "delete"))
          try GraftTable.upsert(s, tdir, "vec_id",
            Tables.table(s, dir, "embeddings")
              .filter(col("vec_id") % 10 === 5)
              .select(col("vec_id"),
                expr("transform(embedding, x -> CAST(x * 0.5 + 0.1 AS FLOAT))")
                  .as("embedding")),
            Seq("vec_id"))
          catch { case _: GraftTable.CommitConflict
            if GraftTable.currentVersion(tdir).exists(_ > 1) => () }
      } finally prev match {
        case Some(v) => s.conf.set("spark.graft.cdc", v)
        case None => s.conf.unset("spark.graft.cdc")
      }
    }
    tdir
  }

  /** Declared v15 form: the CDC-consistent served assignment summarized
    * per list — count, exact id checksum, and the re-embedded member
    * count (ids ≡ 5 mod 10 route at their SHIFTED embedding, possibly to
    * a different list than their original). No oracle (seeded k-means);
    * SketchesTest proves served ≡ routing the head snapshot's content
    * under the same frozen centers, purged ids absent, re-inserts present. */
  def annCdcSummary(s: SparkSession, dir: String, nlist: Int = 16): DataFrame = {
    val tdir = embCdcTable(s, dir)
    val head = graft.sources.GraftTable.currentVersion(tdir).get
    val (_, served) = ivfServeTableCdc(s, tdir, 0, head, nlist)
    served.groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_served"),
        sum(col("vec_id")).as("ck_served"),
        sum(when(col("vec_id") % 10 === 5, 1L).otherwise(0L)).as("n_reembedded"))
      .orderBy(col("list_id"))
  }

  /** SemDeDup-shape semantic dedup (Abbas et al. 2023, public method) over
    * an assigned (vec_id, list_id, embedding) frame: candidate pairs are
    * enumerated ONLY within clusters (a list_id equi self-join — never an
    * all-pairs product), and a vector is DROPPED iff a smaller-id
    * same-cluster neighbor sits at cosine ≥ threshold (greedy min-id
    * representative — deterministic, keeps exactly one member of every
    * duplicate neighborhood chain head). Cosine compares as
    * `dot ≥ τ·‖a‖·‖b‖` (codegen graft_dot, no division); norms compute
    * once per row, never per pair. At 100 TB nlist scales with the corpus
    * (SemDeDup runs ~10⁵ clusters) so each cluster's pair space stays
    * bounded; the join shuffles by list_id like any key join.
    * Returns the dropped (list_id, vec_id) rows. */
  def semanticDedupOver(assigned: DataFrame, threshold: Double): DataFrame = {
    val s = assigned.sparkSession
    graft.functions.FloatDotProduct.register(s)
    val base = assigned.select(col("list_id"), col("vec_id"), col("embedding"),
      sqrt(expr("graft_dot(embedding, embedding)")).as("nrm"))
    val a = base.select(col("list_id"), col("vec_id").as("id1"),
      col("embedding").as("e1"), col("nrm").as("n1"))
    val b = base.select(col("list_id").as("l2"), col("vec_id").as("id2"),
      col("embedding").as("e2"), col("nrm").as("n2"))
    a.join(b, col("list_id") === col("l2") && col("id1") < col("id2"))
      .filter(expr("graft_dot(e1, e2)") >= lit(threshold) * col("n1") * col("n2"))
      .select(col("list_id"), col("id2").as("vec_id"))
      .distinct()
  }

  /** Declared d15 form: semantic dedup of the corpus embeddings through the
    * SAME build-once IVF quantizer p9/v9 probe (clustering adds no build),
    * summarized per cluster: size, dropped count, and an exact id checksum
    * of the dropped members. */
  def semanticDedupSummary(s: SparkSession, dir: String, threshold: Double = 0.5,
                           nlist: Int = 16): DataFrame = {
    val idx = buildIvfIndex(s, dir, nlist)
    val dropped = semanticDedupOver(idx.assigned, threshold)
      .withColumn("dropped", lit(true))
    idx.assigned.select(col("list_id"), col("vec_id"))
      .join(dropped, Seq("list_id", "vec_id"), "left_outer")
      .groupBy(col("list_id"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(col("dropped"), col("vec_id"))), lit(0L)).as("ck_dropped"))
      .orderBy(col("list_id"))
  }

  /** Cross-side SemDeDup pairs — d14's cross-probe shape in embedding
    * space: (corpus member, batch member) pairs within the SAME coarse
    * cluster at cosine ≥ threshold; corpus×corpus and batch×batch pair
    * spaces are never enumerated, so at 100 TB the probe cost tracks the
    * arriving batch, not the corpus. Both inputs must be
    * (vec_id, list_id, embedding) frames assigned under the same FROZEN
    * quantizer (routing a batch with [[ivfRoute]] against the corpus
    * centers guarantees that). */
  def crossSemanticPairs(corpusAssigned: DataFrame, batchAssigned: DataFrame,
                         threshold: Double): DataFrame = {
    val s = corpusAssigned.sparkSession
    graft.functions.FloatDotProduct.register(s)
    val a = corpusAssigned.select(col("list_id"), col("vec_id").as("old_id"),
      col("embedding").as("e1"),
      sqrt(expr("graft_dot(embedding, embedding)")).as("n1"))
    val b = batchAssigned.select(col("list_id").as("l2"),
      col("vec_id").as("new_id"), col("embedding").as("e2"),
      sqrt(expr("graft_dot(embedding, embedding)")).as("n2"))
    a.join(b, col("list_id") === col("l2"))
      .withColumn("dot", expr("graft_dot(e1, e2)"))
      .filter(col("dot") >= lit(threshold) * col("n1") * col("n2"))
      .select(col("old_id"), col("new_id"), col("list_id"),
        round(col("dot") / (col("n1") * col("n2")), 6).as("cosine"))
  }

  /** Incremental semantic-dedup gate (v11): the NEW embedding batch routes
    * to the FROZEN corpus quantizer (no refit, no corpus rescan —
    * [[ivfIncremental]]), and a new vector is rejected iff some CORPUS
    * member of its cluster sits at cosine ≥ threshold. The embedding-space
    * analog of the d14 ingest gate, completing the pair: d14 gates
    * lexical near-dups at ingest, this gates paraphrase/translation
    * duplicates lexical hashing cannot see. */
  def incrementalSemanticDups(s: SparkSession, dir: String,
                              threshold: Double = 0.3, nlist: Int = 16): DataFrame = {
    val (idx, delta, _) = ivfIncremental(s, dir, nlist)
    crossSemanticPairs(idx.assigned, delta, threshold)
  }

  /** Declared v11 form: per-cluster admit/reject summary of the gate with
    * an exact rejected-id checksum (pins the rejection SET). */
  def semanticGateSummary(s: SparkSession, dir: String,
                          threshold: Double = 0.3, nlist: Int = 16): DataFrame = {
    val (idx, delta, _) = ivfIncremental(s, dir, nlist)
    val rejected = crossSemanticPairs(idx.assigned, delta, threshold)
      .select(col("list_id"), col("new_id").as("vec_id")).distinct()
      .withColumn("rej", lit(true))
    delta.select(col("list_id"), col("vec_id"))
      .join(rejected, Seq("list_id", "vec_id"), "left_outer")
      .groupBy(col("list_id"))
      .agg(
        count(lit(1)).as("n_new"),
        sum(when(col("rej"), 1L).otherwise(0L)).as("n_rejected"),
        coalesce(sum(when(col("rej"), col("vec_id"))), lit(0L)).as("ck_rejected"))
      .orderBy(col("list_id"))
  }

  /** IVF (inverted-file) ANN: the query ranks the index's centroids on the
    * driver (nlist bounded scalars — no data scan), probes its `nprobe`
    * nearest lists, and refines with exact cosine. The partition-then-probe
    * structure is the same idea as the reference's STR partitioning +
    * global-index pruning, applied to vector space: at 100 TB the list id
    * becomes the table's partition key so a query touches nprobe/nlist of
    * the data — and the quantizer is NOT refit per query (build-once via
    * [[buildIvfIndex]]).
    */
  def annIvfKnn(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10,
                nlist: Int = 16, nprobe: Int = 8): DataFrame = {
    val index = buildIvfIndex(s, dir, nlist)
    val qEmb = queryEmbedding(s, dir, queryId)
    val qArr = qEmb.map(_.toDouble).toArray
    val probeLists = index.centers.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(qArr).map { case (x, y) => val t = x - y; t * t }.sum
        (i, d)
      }
      .sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1).toSeq
    index.assigned.filter(col("vec_id") =!= queryId && col("list_id").isInCollection(probeLists))
      .select(col("vec_id"),
        round(VectorOps.dot(col("embedding"), typedLit(qEmb)) /
          (sqrt(VectorOps.norm2Col("embedding")) * sqrt(typedLit(qEmb.map(x => x.toDouble * x.toDouble).sum))), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** FILTERED IVF ANN (v14): v13's metadata predicate composed into the
    * IVF route — the approximate path for filtered search at 100 TB. The
    * query routes to its `nprobe` nearest lists exactly like [[annIvfKnn]];
    * WITHIN the probed lists, candidates are restricted to the predicate by
    * a slim id semi-join BEFORE the exact cosine re-rank, so the shortlist
    * fills with matching rows — post-filtering a global unfiltered
    * shortlist under-fills whenever the filter is selective. At production
    * scale the predicate columns live IN the assigned table (partitioned by
    * list_id) and the semi-join becomes a pushed scan filter; here the slim
    * (vec_id) frame stands in (AQE broadcasts it at this size). */
  def annIvfKnnFiltered(s: SparkSession, dir: String, queryId: Long = 0L,
                        k: Int = 10, nlist: Int = 16, nprobe: Int = 8,
                        label: Int = 3): DataFrame = {
    val index = buildIvfIndex(s, dir, nlist)
    val qEmb = queryEmbedding(s, dir, queryId)
    val qArr = qEmb.map(_.toDouble).toArray
    val probeLists = index.centers.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(qArr).map { case (x, y) => val t = x - y; t * t }.sum
        (i, d)
      }
      .sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1).toSeq
    val keep = Tables.table(s, dir, "embeddings")
      .filter(col("label") === label).select(col("vec_id"))
    index.assigned
      .filter(col("vec_id") =!= queryId && col("list_id").isInCollection(probeLists))
      .join(keep, Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        round(VectorOps.dot(col("embedding"), typedLit(qEmb)) /
          (sqrt(VectorOps.norm2Col("embedding")) * sqrt(typedLit(qEmb.map(x => x.toDouble * x.toDouble).sum))), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Batch IVF ANN — top-k per query for a query-id SET, one job, with the
    * probe-list selection fully relational: queries × centroids is a
    * bounded (|q|·nlist) broadcast cross join ranked per query; candidates
    * come from ONE equi-join on `list_id` against the shared build-once
    * index; exact cosine (codegen `graft_dot`) refines, ranked per query.
    * No driver-side threshold or per-query loop — the reference's
    * query-set workload in a single plan. */
  def annIvfKnnBatch(s: SparkSession, dir: String, queryIds: Seq[Long], k: Int = 10,
                     nlist: Int = 16, nprobe: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    graft.functions.FloatDotProduct.register(s)
    val index = buildIvfIndex(s, dir, nlist)
    val cdf = index.centers.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
      .toSeq.toDF("list_id", "center")

    val q = Tables.table(s, dir, "embeddings")
      .filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("cdist"), col("list_id"))
    val probes = q.crossJoin(broadcast(cdf))
      .withColumn("cdist", expr(
        "aggregate(zip_with(q_emb, center, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("list_id"))

    val cands = index.assigned.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(expr("graft_dot(embedding, q_emb)") /
          (sqrt(VectorOps.norm2Col("embedding")) * sqrt(expr("graft_dot(q_emb, q_emb)"))), 6)
          .as("cos_sim"))
    // per-query candidates are an nprobe/nlist fraction of the table — still
    // unbounded at scale, so the final pick is the two-stage top-k
    Rank.topKPerGroup(cands, Seq(col("q_id")),
        Seq(col("cos_sim").desc, col("vec_id")), k)
      .select(col("q_id"), col("vec_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("cos_sim").desc, col("vec_id"))
  }

  /** Product-quantization index (Jégou/Douze/Schmid TPAMI'11): per-subspace
    * codebooks `[m][k][subDim]` over UNIT-NORMALIZED vectors plus the
    * encoded codes table (vec_id, codes, embedding). */
  final case class PqIndex(codebooks: Array[Array[Array[Double]]], codes: DataFrame,
                           fromArtifact: Boolean)

  /** Build (or load) the PQ index: the 64-dim space splits into `m`
    * subspaces; each gets its own seeded k-means codebook (k centroids of
    * dim/m floats) trained on the unit-normalized sub-vectors, and every
    * vector is encoded as `m` small codes. Normalize-then-PQ makes ADC's L2
    * distances a monotone proxy for cosine (‖a−b‖² = 2−2·cos on the unit
    * sphere). Codes are m bytes per vector vs 4·dim raw — the compression
    * that lets a 100 TB corpus's shortlist scan fit in memory. Artifacts
    * persist via IndexStore like the IVF index (construct-once). */
  def buildPqIndex(s: SparkSession, dir: String, m: Int = 16, k: Int = 16): PqIndex =
    Memo(s, "pqIndex", dir, m, k) { frames =>
      import graft.sources.IndexStore
      val dim = embeddingDim(s, dir)
      require(dim % m == 0,
        s"PQ subspace count m=$m must divide the embedding dim $dim " +
          s"(subDim would be fractional)")
      val subDim = dim / m
      val cPath = IndexStore.artifactPath(s, dir, s"pq${m}x${k}_codebooks")
      val ePath = IndexStore.artifactPath(s, dir, s"pq${m}x${k}_codes")
      val canLoad = IndexStore.persistEnabled(s) &&
        IndexStore.exists(s, cPath) && IndexStore.exists(s, ePath)
      if (canLoad) {
        val books = Array.ofDim[Array[Double]](m, k)
        s.read.parquet(cPath).collect().foreach { r =>
          books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
        }
        PqIndex(books.map(_.toArray), frames.persist(s.read.parquet(ePath)), fromArtifact = true)
      } else {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.linalg.Vectors
        val toUnit = udf { (emb: Seq[Float]) =>
          val a = emb.map(_.toDouble).toArray
          val n = math.sqrt(a.map(x => x * x).sum)
          if (n == 0) a else a.map(_ / n)
        }
        val unit = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), toUnit(col("embedding")).as("u"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val subVec = udf((u: Seq[Double], off: Int) =>
          Vectors.dense(u.slice(off, off + subDim).toArray))
        // one bounded k-means fit per subspace over a slim subDim-float
        // projection — m scans of the cached unit frame, build-once
        val books: Array[Array[Array[Double]]] = (0 until m).map { mi =>
          new KMeans().setK(k).setSeed(42 + mi).setMaxIter(10)
            .setFeaturesCol("f").setPredictionCol("c")
            .fit(unit.select(subVec(col("u"), lit(mi * subDim)).as("f")))
            .clusterCenters.map(_.toArray)
        }.toArray
        val bBooks = s.sparkContext.broadcast(books)
        val encode = udf { (u: Seq[Double]) =>
          val bs = bBooks.value
          val ua = u.toArray
          (0 until bs.length).map { mi =>
            val off = mi * subDim
            var best = 0; var bestD = Double.MaxValue
            var j = 0
            while (j < bs(mi).length) {
              val c = bs(mi)(j)
              var d = 0.0; var t = 0
              while (t < subDim) { val df = ua(off + t) - c(t); d += df * df; t += 1 }
              if (d < bestD) { bestD = d; best = j }
              j += 1
            }
            best
          }
        }
        var codes = unit.select(col("vec_id"), col("embedding"), encode(col("u")).as("codes"))
        if (IndexStore.persistEnabled(s)) {
          import s.implicits._
          books.zipWithIndex.flatMap { case (book, mi) =>
            book.zipWithIndex.map { case (c, j) => (mi, j, c.toSeq) }
          }.toSeq.toDF("m", "j", "center").write.mode("overwrite").parquet(cPath)
          codes.write.mode("overwrite").parquet(ePath)
          codes = s.read.parquet(ePath)
        }
        unit.unpersist()
        PqIndex(books, frames.persist(codes), fromArtifact = false)
      }
    }

  /** Encode a NEW vector batch against an EXISTING PQ index's FROZEN
    * codebooks — the codes-side analog of [[ivfRoute]] for incremental
    * ingestion: a batch-only scan against broadcast codebooks, no
    * retraining, no corpus rescan. The arithmetic (unit-normalize, then
    * per-subspace L2 argmin, ties to the lowest code) is identical to the
    * build's encoder, so the emitted (vec_id, embedding, codes) rows are
    * byte-identical to what a full rebuild would produce for the same
    * vectors (tested) — appending them as a delta beside the codes
    * artifact is exactly a lake append of new list entries. */
  def pqEncodeBatch(s: SparkSession, index: PqIndex, newVecs: DataFrame): DataFrame = {
    val books = index.codebooks
    val m = books.length
    val subDim = books(0)(0).length // the codebook carries its own subDim
    val bBooks = s.sparkContext.broadcast(books)
    val encodeUnit = udf { (emb: Seq[Float]) =>
      val a = emb.map(_.toDouble).toArray
      val n = math.sqrt(a.map(x => x * x).sum)
      val ua = if (n == 0) a else a.map(_ / n)
      val bs = bBooks.value
      (0 until bs.length).map { mi =>
        val off = mi * subDim
        var best = 0; var bestD = Double.MaxValue
        var j = 0
        while (j < bs(mi).length) {
          val c = bs(mi)(j)
          var d = 0.0; var t = 0
          while (t < subDim) { val df = ua(off + t) - c(t); d += df * df; t += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        best
      }
    }
    newVecs.select(col("vec_id"), col("embedding"),
      encodeUnit(col("embedding")).as("codes"))
  }

  /** PQ ANN via ADC (asymmetric distance computation): the query builds an
    * m×k distance table against the codebooks (driver-side, bounded), the
    * scan sums m table lookups per vector — no per-vector float math at
    * all — and TakeOrdered keeps a small shortlist that the exact codegen
    * cosine re-ranks. Approximation lives ONLY in the shortlist membership;
    * every emitted similarity is exact. */
  def annPqKnn(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10,
               m: Int = 16, kCodes: Int = 16, shortlist: Int = 128): DataFrame = {
    graft.functions.FloatDotProduct.register(s)
    val index = buildPqIndex(s, dir, m, kCodes)
    val subDim = index.codebooks(0)(0).length
    val qEmb = queryEmbedding(s, dir, queryId)
    val qa = qEmb.map(_.toDouble).toArray
    val qn = math.sqrt(qa.map(x => x * x).sum)
    val qu = if (qn == 0) qa else qa.map(_ / qn)
    // ADC lookup table: d²(q_m, c_mj) for every subspace × centroid
    val dtable: Array[Array[Double]] = Array.tabulate(m) { mi =>
      Array.tabulate(kCodes) { j =>
        val c = index.codebooks(mi)(j)
        var d = 0.0; var t = 0
        while (t < subDim) { val df = qu(mi * subDim + t) - c(t); d += df * df; t += 1 }
        d
      }
    }
    val bTable = s.sparkContext.broadcast(dtable)
    val adc = udf { (codes: Seq[Int]) =>
      val tb = bTable.value
      var d = 0.0; var mi = 0
      while (mi < tb.length) { d += tb(mi)(codes(mi)); mi += 1 }
      d
    }
    val short = index.codes.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("embedding"), adc(col("codes")).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(shortlist)
    short
      .select(col("vec_id"),
        round(VectorOps.dot(col("embedding"), typedLit(qEmb)) /
          (sqrt(VectorOps.norm2Col("embedding")) *
            sqrt(typedLit(qEmb.map(x => x.toDouble * x.toDouble).sum))), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Scalar-quantization (SQ8) index: per-dimension [lo, hi] bounds
    * trained on the UNIT-NORMALIZED corpus + the uint8 codes table
    * (vec_id, codes, embedding) — the remaining faiss index-family member
    * beside Flat/LSH/IVF/PQ/IVFPQ/Hamming (v1/v4/p9/v5/v9/v8). Unlike PQ
    * there is no codebook training: the "fit" is one min/max aggregation,
    * fully deterministic. Memory per vector = dim bytes (4× under
    * float32); finer than PQ's m·log₂k bits, coarser than raw. */
  final case class SqIndex(lo: Array[Double], hi: Array[Double],
                           codes: DataFrame, fromArtifact: Boolean)

  def buildSqIndex(s: SparkSession, dir: String): SqIndex =
    Memo(s, "sqIndex", dir) { m =>
      import graft.sources.IndexStore
      val dim = embeddingDim(s, dir)
      val bPath = IndexStore.artifactPath(s, dir, "sq8_bounds")
      val cPath = IndexStore.artifactPath(s, dir, "sq8_codes")
      val canLoad = IndexStore.persistEnabled(s) &&
        IndexStore.exists(s, bPath) && IndexStore.exists(s, cPath)
      if (canLoad) {
        val lo = new Array[Double](dim); val hi = new Array[Double](dim)
        s.read.parquet(bPath).collect().foreach { r =>
          lo(r.getInt(0)) = r.getDouble(1); hi(r.getInt(0)) = r.getDouble(2)
        }
        SqIndex(lo, hi, m.persist(s.read.parquet(cPath)), fromArtifact = true)
      } else {
        val toUnit = udf { (emb: Seq[Float]) =>
          val a = emb.map(_.toDouble).toArray
          val n = math.sqrt(a.map(x => x * x).sum)
          if (n == 0) a else a.map(_ / n)
        }
        val unit = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), toUnit(col("embedding")).as("u"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        // the whole "training": per-dim bounds in ONE shuffle of dim groups
        val bRows = unit.select(posexplode(col("u")).as(Seq("d", "x")))
          .groupBy(col("d")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
          .collect() // bounded: dim rows
        val lo = new Array[Double](dim); val hi = new Array[Double](dim)
        bRows.foreach { r => lo(r.getInt(0)) = r.getDouble(1); hi(r.getInt(0)) = r.getDouble(2) }
        val bLo = s.sparkContext.broadcast(lo)
        val bHi = s.sparkContext.broadcast(hi)
        val encode = udf { (u: Seq[Double]) =>
          val l = bLo.value; val h = bHi.value
          Array.tabulate(u.length) { i =>
            val span = h(i) - l(i)
            if (span <= 0) 0
            else math.min(255, math.max(0, math.round((u(i) - l(i)) / span * 255).toInt))
          }.toSeq
        }
        var codes = unit.select(col("vec_id"), col("embedding"),
          encode(col("u")).as("codes"))
        if (IndexStore.persistEnabled(s)) {
          import s.implicits._
          (0 until dim).map(i => (i, lo(i), hi(i))).toDF("d", "lo", "hi")
            .write.mode("overwrite").parquet(bPath)
          codes.write.mode("overwrite").parquet(cPath)
          codes = s.read.parquet(cPath)
        }
        unit.unpersist()
        SqIndex(lo, hi, m.persist(codes), fromArtifact = false)
      }
    }

  /** v12: SQ8 ANN — asymmetric distance (exact unit query against the
    * DEQUANTIZED corpus grid) ranks a bounded shortlist, exact cosine
    * re-ranks it, so every emitted similarity is exact. Deterministic
    * (no seeds anywhere), but the quantization grid is engine-side float
    * arithmetic no SQL oracle reproduces — declared exempt with recall /
    * determinism / rerank-parity tests like v5. */
  def annSqKnn(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10,
               shortlist: Int = 128): DataFrame = {
    graft.functions.FloatDotProduct.register(s)
    val index = buildSqIndex(s, dir)
    val qEmb = queryEmbedding(s, dir, queryId)
    val qa = qEmb.map(_.toDouble).toArray
    val qn = math.sqrt(qa.map(x => x * x).sum)
    val qu = if (qn == 0) qa else qa.map(_ / qn)
    val bQ = s.sparkContext.broadcast(qu)
    val bLo = s.sparkContext.broadcast(index.lo)
    val bSpan = s.sparkContext.broadcast(
      index.lo.indices.map(i => (index.hi(i) - index.lo(i)) / 255.0).toArray)
    // both sides unit-normalized ⇒ the dequantized dot IS approximate cosine
    val approx = udf { (codes: Seq[Int]) =>
      val q = bQ.value; val l = bLo.value; val sp = bSpan.value
      var d = 0.0; var i = 0
      while (i < q.length) { d += q(i) * (l(i) + codes(i) * sp(i)); i += 1 }
      d
    }
    index.codes.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("embedding"), approx(col("codes")).as("sq"))
      .orderBy(col("sq").desc, col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"),
        round(VectorOps.dot(col("embedding"), typedLit(qEmb)) /
          (sqrt(VectorOps.norm2Col("embedding")) *
            sqrt(typedLit(qEmb.map(x => x.toDouble * x.toDouble).sum))), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Sign-quantized Hamming pack (v8's index): (vec_id, h1, h2) with the
    * 64 sign bits in two 32-bit BIGINT halves (bit 63 avoided — engines
    * disagree on 1<<63 overflow). A build-once IndexStore artifact like the
    * IVF/PQ structures: 8 bytes/vector, one linear pass to build, any
    * number of Hamming queries to amortize it over.
    * @return (packed frame, served-from-artifact flag) */
  def hammingPack(s: SparkSession, dir: String): (DataFrame, Boolean) =
    Memo(s, "hammingPack", dir) { m =>
      def half(off: Int) =
        s"aggregate(sequence(0, 31), 0L, (s, i) -> s + CASE WHEN " +
          s"element_at(embedding, i + ${off + 1}) >= 0 THEN shiftleft(1L, i) ELSE 0L END)"
      val (df, fromArtifact) = graft.sources.IndexStore.materialize(s, dir, "hamming_pack") {
        graft.Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), expr(half(0)).as("h1"), expr(half(32)).as("h2"))
      }
      (m.persist(df), fromArtifact)
    }

  /** IVF-PQ composite ANN — the production index shape (coarse quantizer
    * routes the query to `nprobe` lists, the ADC table scans ONLY those
    * lists' PQ codes, exact cosine re-ranks the bounded shortlist). Both
    * component indexes are the SAME build-once artifacts the standalone
    * p9/v5 queries use — composition adds routing, not a new build. At
    * scale this is the faiss `IVFx,PQy` layout: memory per vector = one
    * list id + m code bytes, scan cost = |probed lists| not n. */
  def annIvfPqKnn(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 10,
                  nlist: Int = 16, nprobe: Int = 8, m: Int = 16, kCodes: Int = 16,
                  shortlist: Int = 128): DataFrame = {
    graft.functions.FloatDotProduct.register(s)
    val ivf = buildIvfIndex(s, dir, nlist)
    val pq = buildPqIndex(s, dir, m, kCodes)
    val subDim = pq.codebooks(0)(0).length
    val qEmb = queryEmbedding(s, dir, queryId)
    val qa = qEmb.map(_.toDouble).toArray
    // coarse routing: nlist center distances on the driver (bounded scalars)
    val probeLists = ivf.centers.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(qa).map { case (x, y) => val t = x - y; t * t }.sum
        (i, d)
      }
      .sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1).toSeq
    val qn = math.sqrt(qa.map(x => x * x).sum)
    val qu = if (qn == 0) qa else qa.map(_ / qn)
    val dtable: Array[Array[Double]] = Array.tabulate(m) { mi =>
      Array.tabulate(kCodes) { j =>
        val c = pq.codebooks(mi)(j)
        var d = 0.0; var t = 0
        while (t < subDim) { val df = qu(mi * subDim + t) - c(t); d += df * df; t += 1 }
        d
      }
    }
    val bTable = s.sparkContext.broadcast(dtable)
    val adc = udf { (codes: Seq[Int]) =>
      val tb = bTable.value
      var d = 0.0; var mi = 0
      while (mi < tb.length) { d += tb(mi)(codes(mi)); mi += 1 }
      d
    }
    val short = pq.codes
      .join(ivf.assigned.select(col("vec_id").as("a_id"), col("list_id")),
        col("vec_id") === col("a_id"))
      .filter(col("vec_id") =!= queryId && col("list_id").isInCollection(probeLists))
      .select(col("vec_id"), col("embedding"), adc(col("codes")).as("adc"))
      .orderBy(col("adc"), col("vec_id"))
      .limit(shortlist)
    short
      .select(col("vec_id"),
        round(VectorOps.dot(col("embedding"), typedLit(qEmb)) /
          (sqrt(VectorOps.norm2Col("embedding")) *
            sqrt(typedLit(qEmb.map(x => x.toDouble * x.toDouble).sum))), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

}
