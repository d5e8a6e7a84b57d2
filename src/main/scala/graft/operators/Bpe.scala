package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Memo

/** Byte-pair-encoding MERGE TRAINING (Sennrich et al., ACL 2016) — the
  * operator that LEARNS a subword vocabulary from the corpus (p10 only
  * segments by fixed char classes; a pretraining pipeline tokenizes with a
  * trained merge table).
  *
  * Exact-integer contract (§2.7b): pair counts are BIGINT sums of word
  * frequencies, the per-round winner is argmax with lexicographic (lhs,
  * rhs) tie-break, and merge APPLICATION is the standard greedy
  * left-to-right scan — all deterministic, so a DuckDB oracle can replay
  * the identical K rounds relationally and hash-match the merge table.
  *
  * Pretokenization (round-11 directive #2) is codepoint-class based, the
  * GPT-2-family shape rather than a bare space split: ASCII letter runs,
  * digit runs, and CJK ideographs as SINGLE codepoints (a zh sentence
  * must enter as per-character symbols, not one sentence-length "word" —
  * CJK has no spaces, so a space split would hand BPE unlearnable
  * units). [[PretokenPattern]] is declared once and spliced (in RE2 form,
  * [[PretokenPatternSql]]) into the oracle, so both engines tokenize
  * identically; the alternatives match disjoint character classes, so
  * alternation order can't diverge between regex engines.
  *
  * Spark shape: train on the DISTINCT-WORD vocabulary weighted by
  * frequency (the classic formulation — corpus size only enters through
  * the one word-count aggregation), one row per word carrying its symbol
  * ARRAY. Each round is then:
  *   1. pair counts — explode adjacent symbol pairs, one groupBy-sum
  *      (map-side partial agg; the only shuffle of the round);
  *   2. winners — a bounded ≤4·M-row collect (the t27 precedent: driver
  *      work per step is one bounded collect, rounds bounded by K);
  *   3. merge application — a pure codegen'd `aggregate` fold per word
  *      (greedy scan as a left fold: merge the incoming symbol into the
  *      accumulator's last element iff (last, x) is an admitted pair),
  *      NO shuffle, no explode.
  * Each round's vocabulary is an eager checkpoint (local by default;
  * reliable when `sc.setCheckpointDir` is configured — see `train`) and the previous
  * round's frame is dereferenced (its blocks reclaimed by Spark's
  * ContextCleaner), so neither lineage nor storage stacks: at 100 TB the cost is one corpus token scan
  * plus ⌈K/M⌉ vocabulary-sized rounds — the vocabulary (distinct words)
  * is orders of magnitude smaller than the corpus and fully partitioned.
  *
  * BATCHED rounds (round-11 directive #5, the realistic-K axis): with
  * `batchM` > 1 each round admits up to M merges — scanned in exact
  * (count desc, lhs, rhs) order over the top 4·M pairs, greedily keeping
  * only pairs whose SUPPORT {lhs, rhs, lhs‖rhs} is disjoint from every
  * already-admitted pair's support — and applies them in ONE fold. The
  * product-in-support rule makes simultaneous application well-defined:
  * a symbol produced by one admitted merge can never be the lhs or rhs
  * of another admitted merge in the same fold, so batched application
  * order cannot matter. K = 32k costs K/M jobs instead of K.
  * `batchM = 1` is EXACTLY the sequential contract above (the first
  * candidate is always admitted) — pinned against an independent
  * in-test implementation in OperatorsTest.
  *
  * Truncation contract (round-11 ADVICE): when the vocabulary runs out
  * of adjacent pairs before `k` merges, training STOPS and returns the
  * merges learned so far — fewer than `k` rows, never an exception. (A
  * relational oracle replaying fixed rounds must therefore only be asked
  * for k ≤ the corpus's available merges — p34's k=3 is far under it.)
  *
  * Returns one row per learned merge: (merge_rank INT, lhs, rhs,
  * pair_count BIGINT, n_symbols_after BIGINT) where n_symbols_after is
  * the corpus-level symbol (token) count after that merge's ROUND was
  * applied (for a batched round, every merge of the batch reports the
  * post-batch count — the compression curve a tokenizer trainer reports,
  * sampled per job rather than per merge).
  */
object Bpe {

  /** Codepoint-class pretokenizer — Unicode-general (round-12 directive
    * #1). Five DISJOINT classes, first-match-wins is therefore order-free:
    *
    *   1. CJK ideographs as SINGLE codepoints: Extension A (U+3400–4DBF),
    *      Unified (U+4E00–9FFF), Compatibility (U+F900–FAFF), and
    *      Extension B (U+20000–2A6DF, supplementary plane) — Chinese has
    *      no spaces; per-codepoint symbols are the only learnable unit.
    *   2. Kana RUNS: Hiragana + Katakana (U+3040–30FF) and Katakana
    *      Phonetic Extensions (U+31F0–31FF) — Japanese words are
    *      multi-kana, so runs, not singles.
    *   3. Hangul RUNS: Jamo (U+1100–11FF), Compatibility Jamo
    *      (U+3130–318F), Syllables (U+AC00–D7AF).
    *   4. Letter runs: ASCII A–Za–z, Latin-1 Supplement letters
    *      (U+00C0–D6, D8–F6, F8–FF via the F8–2AF span), Latin
    *      Extended-A/B + IPA (U+0100–02AF), COMBINING DIACRITICS
    *      (U+0300–036F — so NFD "café" stays one word), Greek
    *      (U+0386, 0388–03CE — skipping U+0387 ano teleia, a
    *      sentence-punctuation mark), Cyrillic + Supplement
    *      (U+0400–052F), Latin Extended Additional (U+1E00–1EFF,
    *      Vietnamese), Greek Extended (U+1F00–1FFF, polytonic).
    *   5. Digit runs: 0–9.
    *
    * Anything else (spaces, punctuation, unlisted scripts) separates
    * tokens and is dropped. Written entirely with `\x{…}` hex escapes,
    * which BOTH java.util.regex and RE2 (DuckDB) accept with identical
    * semantics — so the Java and SQL forms are the SAME string and can
    * never drift (verified char-for-char by OperatorsTest's
    * multilingual fixture and the p34/p35 DuckDB oracles). */
  val PretokenPattern: String =
    "[\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}\\x{F900}-\\x{FAFF}\\x{20000}-\\x{2A6DF}]" +
      "|[\\x{3040}-\\x{30FF}\\x{31F0}-\\x{31FF}]+" +
      "|[\\x{1100}-\\x{11FF}\\x{3130}-\\x{318F}\\x{AC00}-\\x{D7AF}]+" +
      "|[A-Za-z\\x{C0}-\\x{D6}\\x{D8}-\\x{F6}\\x{F8}-\\x{2AF}\\x{300}-\\x{36F}" +
      "\\x{386}\\x{388}-\\x{3CE}\\x{400}-\\x{52F}\\x{1E00}-\\x{1EFF}\\x{1F00}-\\x{1FFF}]+" +
      "|[0-9]+"

  /** The RE2 (DuckDB oracle) form — IDENTICAL to [[PretokenPattern]]:
    * `\x{…}` escapes parse the same in both engines, so one definition
    * serves both and equality is trivially provable. Kept as a separate
    * name because oracle-SQL call sites splice it into SQL text. */
  val PretokenPatternSql: String = PretokenPattern

  /** The trained (merge table, post-merge segmented vocabulary) per
    * (caller key, k, batchM): the merge table is a ≤K-row LOCAL frame; the
    * vocabulary frame is snapped and released with the entry. */
  private def trained(spark: SparkSession, words: DataFrame, cacheKey: String,
                      k: Int, batchM: Int): (DataFrame, DataFrame) =
    Memo(spark, "bpe", cacheKey, k, batchM)(train(spark, words, k, batchM, _))

  /** Learn the top-`k` merges over the `words` vocabulary, `batchM` per
    * round (see the batched-rounds contract above; 1 = pure sequential).
    *
    * `cacheKey` MUST pin the corpus identity — the memo keys on it, not on
    * the `words` plan (the `artifactPathKeyed` convention): pass the data
    * dir for an immutable dump, `table@version` for a versioned table. A
    * key reused across corpus mutations would serve a stale merge table
    * and a segmentation missing the new words. */
  def learnMerges(spark: SparkSession, words: DataFrame, cacheKey: String,
                  k: Int, batchM: Int = 1): DataFrame =
    trained(spark, words, cacheKey, k, batchM)._1

  /** The vocabulary AFTER the `k` learned merges: (word, freq,
    * syms ARRAY<STRING>) — the trained tokenizer's segmentation of every
    * distinct word, the frame the ENCODE step (p35) joins against. Shares
    * [[learnMerges]]'s memo entry, so train-then-encode costs one
    * training. */
  def segmentedVocabulary(spark: SparkSession, words: DataFrame,
                          cacheKey: String, k: Int, batchM: Int = 1): DataFrame =
    trained(spark, words, cacheKey, k, batchM)._2

  /** (word, freq BIGINT) vocabulary of [[PretokenPattern]] pretokens of
    * `textCol`. */
  def vocabulary(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(
        regexp_extract_all(col(textCol), lit(PretokenPattern), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** One row per corpus pretoken occurrence: `(<keepCols…>, word)` — the
    * encode-side tokenization, same pattern as [[vocabulary]]. */
  def corpusTokens(docs: DataFrame, textCol: String,
                   keepCols: Seq[String]): DataFrame =
    docs.select(keepCols.map(col) :+
      explode(regexp_extract_all(col(textCol), lit(PretokenPattern), lit(0)))
        .as("word"): _*)

  /** Greedy disjoint-support batch selection: scan `ranked` (already in
    * (cnt desc, lhs, rhs) order), admit a pair iff {lhs, rhs, lhs‖rhs}
    * avoids every admitted pair's support, stop at `m` admits. Pure
    * driver-side over a bounded collect. */
  private[graft] def admitDisjoint(
      ranked: Seq[(String, String, Long)], m: Int): Seq[(String, String, Long)] = {
    val support = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = ranked.iterator
    while (out.size < m && it.hasNext) {
      val p @ (lhs, rhs, _) = it.next()
      val s = Seq(lhs, rhs, lhs + rhs)
      if (!s.exists(support.contains)) { support ++= s; out += p }
    }
    out.toSeq
  }

  private def train(spark: SparkSession, words: DataFrame, k: Int,
                    batchM: Int, frames: Memo.Frames): (DataFrame, DataFrame) = {
    import spark.implicits._
    require(batchM >= 1, s"batchM must be >= 1: $batchM")
    // initial symbols: the word's codepoints — regexp_extract_all('(?s).')
    // matches one codepoint per step (linear, surrogate-pair safe), unlike
    // per-index substring which rescans the prefix each step (O(len²)).
    // Rounds chain on an eager CHECKPOINT, not a bare persist: a persisted
    // frame still carries its full logical plan, so by round ~20 Catalyst
    // re-analyzes a 20-deep nest of aggregate-fold plans and the driver
    // stalls (measured: K=24 never completed). The checkpoint cuts the
    // lineage to the materialized blocks — per-round plan cost stays
    // CONSTANT in the round number, which is what K=32k requires.
    //
    // DURABILITY (round-12 ADVICE): localCheckpoint blocks are
    // EXECUTOR-LOCAL and the truncated lineage cannot recompute them — an
    // executor loss mid-training fails the whole K-round job permanently.
    // Fine on local[n] smoke runs; for a long-K run on a real cluster,
    // set `sc.setCheckpointDir(...)` BEFORE training and rounds snapshot
    // to reliable storage instead (recoverable across executor loss, at
    // one distributed write per round) — [[Snap]]'s checkpoint-dir switch.
    var syms = frames.snap(words.select(col("word"), col("freq"),
      regexp_extract_all(col("word"), lit("(?s)."), lit(0)).as("syms")))
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    var done = false
    while (out.size < k && !done) {
      val m = math.min(batchM, k - out.size)
      val pairs = syms.select(col("freq"), explode(expr(
          """CASE WHEN size(syms) >= 2
            |     THEN transform(sequence(0, size(syms)-2),
            |            i -> struct(element_at(syms, i+1) AS lhs,
            |                        element_at(syms, i+2) AS rhs))
            |     ELSE array() END""".stripMargin)).as("pr"))
        .groupBy(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
      val ranked = pairs.orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(4 * m).collect() // bounded: ≤ 4·M rows
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      if (ranked.isEmpty) done = true // vocabulary fully merged: truncate
      else {
        val admitted = admitDisjoint(ranked, m)
        // greedy merge as a left fold (Column lambdas — corpus symbols
        // enter as lit(), never spliced into SQL text). The size guard is
        // the FIRST conjunct: And short-circuits, so element_at(acc,-1)
        // never evaluates on the empty accumulator (ANSI mode would
        // throw). Disjoint supports make the admitted-pair match unique.
        val mergeFold = aggregate(col("syms"), lit(Array.empty[String]),
          (acc, x) => {
            val last = element_at(acc, lit(-1))
            val hit = admitted.map { case (lhs, rhs, _) =>
              last === lit(lhs) && x === lit(rhs)
            }.reduce(_ || _)
            when(size(acc) > lit(0) && hit,
              concat(slice(acc, lit(1), size(acc) - lit(1)),
                array(concat(last, x))))
              .otherwise(concat(acc, array(x)))
          })
        val next = frames.snap(
          syms.select(col("word"), col("freq"), mergeFold.as("syms")))
        val nSymbols = next.agg(sum(col("freq") * size(col("syms"))))
          .collect()(0).getLong(0) // bounded: one scalar
        // checkpointed blocks have no CacheManager entry — release the
        // round's RDD storage EAGERLY (at K=32k, waiting for driver GC
        // would stack thousands of vocabulary copies on the executors)
        graft.util.Snap.release(syms)
        syms = next
        admitted.foreach { case (lhs, rhs, cnt) =>
          out += ((out.size + 1, lhs, rhs, cnt, nSymbols))
        }
      }
    }
    // the final vocabulary stays materialized — it IS the trained
    // tokenizer's segmentation table; released with the registry entry
    (out.toSeq.toDF("merge_rank", "lhs", "rhs", "pair_count", "n_symbols_after"),
      syms)
  }
}
