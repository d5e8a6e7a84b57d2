package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{DeclaredQuery, Tables}

/** Training-data text-pipeline operators over `documents` (builder charter:
  * first-class alongside SURVEY §2): token counting (whitespace + regex
  * lexer), quality scoring, n-gram/frequency language-ID, and polynomial
  * fingerprinting — each deterministic, integer-arithmetic first, and
  * expressed as one shuffle-light aggregation so the same plan holds at
  * 100 TB (per-doc map work + one groupBy).
  */
object TextPipeline {

  /** p34's DuckDB oracle: the identical K BPE rounds replayed RELATIONALLY
    * (lead-window pair counts, 1-row argmax with the same lexicographic
    * tie-break, greedy merge application as gaps-and-islands — within each
    * run of consecutive matched positions only odd-offset matches apply,
    * which is exactly the left-to-right scan; overlap requires lhs = rhs).
    * Generated from one template so the K rounds can't drift apart.
    * Declared BEFORE `queries` — interpolated at init. */
  private val bpeK = 3

  /** The shared CTE chain `w, s0, …, s3` (no `WITH`): vocabulary →
    * symbolized words → K merge rounds. p34 selects the merge table off
    * it; p35 selects the encode aggregates off the same chain. */
  private val bpeCtes: String = {
    val k = bpeK
    val rounds = (1 to k).map { r =>
      val prev = s"s${r - 1}"
      s"""m$r AS (SELECT word, freq, pos, sym,
         |          lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |        FROM $prev),
         |p$r AS (SELECT sym AS lhs, nxt AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
         |        FROM m$r WHERE nxt IS NOT NULL GROUP BY sym, nxt),
         |b$r AS (SELECT lhs, rhs, cnt FROM p$r ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |mm$r AS (SELECT m.word, m.freq, m.pos, m.sym, m.nxt,
         |           CASE WHEN m.sym = b.lhs AND m.nxt = b.rhs THEN 1 ELSE 0 END AS matched
         |         FROM m$r m CROSS JOIN b$r b),
         |sel$r AS (SELECT word, pos FROM (
         |            SELECT word, pos,
         |                   ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY pos) AS rn
         |            FROM (SELECT word, pos,
         |                    pos - ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS grp
         |                  FROM mm$r WHERE matched = 1) q1) q2
         |          WHERE rn % 2 = 1),
         |s$r AS (SELECT word, freq,
         |          ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
         |        FROM (SELECT t.word, t.freq, t.pos,
         |                CASE WHEN a.pos IS NOT NULL THEN t.sym || t.nxt ELSE t.sym END AS sym
         |              FROM mm$r t
         |              LEFT JOIN sel$r a ON a.word = t.word AND a.pos = t.pos
         |              LEFT JOIN sel$r d ON d.word = t.word AND d.pos = t.pos - 1
         |              WHERE d.pos IS NULL) q)""".stripMargin
    }
    s"""w AS (SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |       SELECT unnest(regexp_extract_all(text, '${graft.operators.Bpe.PretokenPatternSql}')) AS tok
       |       FROM documents) q GROUP BY tok),
       |s0 AS (SELECT word, freq, u.pos AS pos, u.sym AS sym FROM (
       |         SELECT word, freq, unnest(list_transform(range(1, length(word)+1),
       |                  i -> {'pos': i, 'sym': word[i]})) AS u FROM w) q),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private val bpeOracleSql: String = {
    val union = (1 to bpeK).map { r =>
      s"""SELECT $r AS r, b$r.lhs, b$r.rhs, b$r.cnt AS pair_count,
         |       (SELECT CAST(SUM(freq) AS BIGINT) FROM s$r) AS n_symbols_after
         |FROM b$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeCtes
       |SELECT CAST(r AS INT) AS merge_rank, lhs, rhs, pair_count, n_symbols_after
       |FROM ($union) f ORDER BY merge_rank""".stripMargin
  }

  /** p35's oracle: ENCODE the corpus with the s$bpeK segmentation — per
    * lang: word occurrences, subword occurrences, distinct subword types. */
  private val bpeEncodeOracleSql: String =
    s"""WITH $bpeCtes,
       |tok AS (SELECT lang,
       |          unnest(regexp_extract_all(text, '${graft.operators.Bpe.PretokenPatternSql}')) AS word
       |        FROM documents),
       |pw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub
       |       FROM s$bpeK GROUP BY word),
       |agg1 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |                CAST(SUM(pw.n_sub) AS BIGINT) AS n_subwords
       |         FROM tok JOIN pw USING (word) GROUP BY lang),
       |dv AS (SELECT t.lang, CAST(COUNT(DISTINCT s.sym) AS BIGINT) AS n_subword_types
       |       FROM (SELECT DISTINCT lang, word FROM tok) t
       |       JOIN s$bpeK s USING (word) GROUP BY t.lang)
       |SELECT agg1.lang, n_words, n_subwords, n_subword_types
       |FROM agg1 JOIN dv ON agg1.lang = dv.lang ORDER BY agg1.lang""".stripMargin

  val queries: Seq[DeclaredQuery] = Seq(

    DeclaredQuery("p1_token_counts",
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(ws_toks) AS BIGINT) AS sum_ws_toks,
        |       CAST(SUM(re_toks) AS BIGINT) AS sum_re_toks,
        |       CAST(MAX(re_toks) AS BIGINT) AS max_re_toks
        |FROM (SELECT lang,
        |             len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_toks,
        |             len(regexp_extract_all(text, '[a-z0-9]+')) AS re_toks
        |      FROM documents) t
        |GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, dir) =>
        Tables.table(s, dir, "documents")
          .select(col("lang"),
            expr("size(filter(split(text, ' '), x -> x <> ''))").as("ws_toks"),
            expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))").as("re_toks"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("ws_toks")).as("sum_ws_toks"),
            sum(col("re_toks")).as("sum_re_toks"),
            max(col("re_toks")).cast("long").as("max_re_toks"))
          .orderBy(col("lang"))
    },

    DeclaredQuery("p2_quality_scores",
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents),
        |feat AS (SELECT doc_id, lang, COUNT(*) AS n_toks,
        |                CAST(SUM(LENGTH(tok)) AS BIGINT) AS sum_len,
        |                CAST(SUM(CASE WHEN LENGTH(tok) <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
        |         FROM t WHERE tok <> '' GROUP BY doc_id, lang)
        |SELECT lang,
        |       CASE WHEN n_toks < 10 THEN 'short' WHEN n_toks < 25 THEN 'mid' ELSE 'long' END AS band,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
        |       ROUND(CAST(SUM(sum_len) AS DOUBLE)/SUM(n_toks), 4) AS avg_tok_len,
        |       ROUND(CAST(SUM(n_short) AS DOUBLE)/SUM(n_toks), 4) AS short_ratio
        |FROM feat GROUP BY lang, band ORDER BY lang, band""".stripMargin) {
      (s, dir) =>
        val feat = Tables.docTokens(s, dir)
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_toks"),
            sum(length(col("tok"))).as("sum_len"),
            sum(when(length(col("tok")) <= 3, 1).otherwise(0)).as("n_short"))
        feat
          .withColumn("band",
            when(col("n_toks") < 10, "short").when(col("n_toks") < 25, "mid").otherwise("long"))
          .groupBy(col("lang"), col("band"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("sum_toks"),
            round(sum(col("sum_len")).cast("double") / sum(col("n_toks")), 4).as("avg_tok_len"),
            round(sum(col("n_short")).cast("double") / sum(col("n_toks")), 4).as("short_ratio"))
          .orderBy(col("lang"), col("band"))
    },

    DeclaredQuery("p3_lang_id_confusion",
      """WITH t AS (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents),
        |tt AS (SELECT * FROM t WHERE tok <> ''),
        |freq AS (SELECT tok, lang AS cand, COUNT(*) AS cnt FROM tt GROUP BY tok, lang),
        |scores AS (SELECT tt.doc_id, tt.lang, freq.cand, CAST(SUM(freq.cnt) AS BIGINT) AS score
        |           FROM tt JOIN freq ON tt.tok = freq.tok GROUP BY tt.doc_id, tt.lang, freq.cand),
        |pred AS (SELECT doc_id, lang, cand AS predicted
        |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                        ORDER BY score DESC, cand) AS rn FROM scores) r
        |         WHERE rn = 1)
        |SELECT lang, predicted, COUNT(*) AS n
        |FROM pred GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin) {
      (s, dir) =>
        // frequency-based language ID: score(doc, cand) = Σ_tok corpus
        // frequency of tok in cand; prediction = argmax (integer scores,
        // lexicographic tie-break) — a deterministic n-gram-style classifier.
        // Occurrences pre-aggregate to (doc, tok, occ) BELOW the freq join
        // (score = Σ occ·cnt, exact integers), so the join and the score
        // shuffle move distinct doc-token pairs, not raw occurrences.
        val toks = Tables.docTokens(s, dir)
        val freq = toks.groupBy(col("tok").as("ftok"), col("lang").as("cand"))
          .agg(count(lit(1)).as("cnt"))
        val docTok = toks.groupBy(col("doc_id"), col("lang"), col("tok"))
          .agg(count(lit(1)).as("occ"))
        // r13 (guide §3.1): freq is vocabulary×lang-sized (a derived frame,
        // so the planner has no size estimate and was shuffling BOTH sides
        // by tok) — broadcast it and the doc-token side never shuffles
        // before its (doc, lang, cand) score aggregation. The hint is
        // bounded by freq's measured row count (~56 B/row) — an unbounded
        // vocabulary or language set must not be forced into a driver-OOM
        // broadcast.
        val freqH = if (Tables.tokLangPairs(s, dir) * 56L <=
            graft.operators.TrajectorySearch.broadcastCap(s)) broadcast(freq) else freq
        val scores = docTok.join(freqH, col("tok") === col("ftok"))
          .groupBy(col("doc_id"), col("lang"), col("cand"))
          .agg(sum(col("occ") * col("cnt")).as("score"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("cand"))
        scores
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("lang"), col("cand").as("predicted"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("predicted"))
    },

    DeclaredQuery("p4_fingerprints",
      """SELECT lang, COUNT(*) AS n_docs,
        |       COUNT(DISTINCT fp) AS n_distinct_fp,
        |       COUNT(DISTINCT text) AS n_distinct_text,
        |       CAST(SUM(fp % 10007) AS BIGINT) AS fp_checksum
        |FROM (SELECT lang, text,
        |             list_reduce(
        |               list_prepend(CAST(0 AS BIGINT),
        |                 list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
        |                   t -> CAST(LENGTH(t)*131 + ASCII(t) AS BIGINT))),
        |               (h, c) -> (h*131 + c) % 1000000007) AS fp
        |      FROM documents) q
        |GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, dir) =>
        // order-sensitive polynomial rolling hash over the token stream,
        // exact int64 arithmetic (mod keeps products < 2^63) — the document
        // fingerprint primitive for shingle/dedup pipelines
        Tables.table(s, dir, "documents")
          .select(col("lang"), col("text"),
            expr("""aggregate(filter(split(text, ' '), x -> x <> ''),
                   |          CAST(0 AS BIGINT),
                   |          (h, t) -> (h*131 + (LENGTH(t)*131 + ASCII(t))) % 1000000007)""".stripMargin)
              .as("fp"))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("fp")).as("n_distinct_fp"),
            countDistinct(col("text")).as("n_distinct_text"),
            sum(col("fp") % 10007).as("fp_checksum"))
          .orderBy(col("lang"))
    },

    // BPE-ish sub-word segmentation via regex (vowel clusters vs consonant
    // runs) — a genuinely different token count from p1's whitespace split;
    // pure char-class pattern, portable across Java and RE2 regex dialects.
    DeclaredQuery("p10_subword_pieces",
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(len(regexp_extract_all(text, '[aeiou]+|[^aeiou ]+', 0))) AS BIGINT) AS n_pieces,
        |       CAST(SUM(length(replace(text, ' ', ''))) AS BIGINT) AS n_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, dir) =>
        Tables.table(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(size(regexp_extract_all(col("text"),
              lit("[aeiou]+|[^aeiou ]+"), lit(0)))).cast("long").as("n_pieces"),
            sum(length(regexp_replace(col("text"), " ", ""))).cast("long").as("n_chars"))
          .orderBy(col("lang"))
    },

    // Repetition / boilerplate detection (the Gopher-style quality rule):
    // per-doc duplicate-token and duplicate-bigram fractions, aggregated per
    // lang in portable fixed-point (per-doc fraction is one IEEE division of
    // exact ints → FLOOR(x*1e6+0.5) is bit-identical in both engines). Flag
    // counts use exact integer cross-multiplication — no float compare.
    DeclaredQuery("p12_repetition",
      """WITH t AS (SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |           FROM documents),
        |f AS (SELECT lang,
        |             len(ts) AS nt, len(list_distinct(ts)) AS dt,
        |             len(ts)-1 AS nb,
        |             len(list_distinct(list_transform(range(1, len(ts)),
        |                 i -> ts[i] || ' ' || ts[i+1]))) AS db
        |      FROM t WHERE len(ts) >= 2)
        |SELECT lang, COUNT(*) AS n_docs,
        |       ROUND(CAST(SUM(CAST(FLOOR((1.0 - CAST(dt AS DOUBLE)/nt)*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/COUNT(*)/1e6, 4) AS avg_dup_tok,
        |       ROUND(CAST(SUM(CAST(FLOOR((1.0 - CAST(db AS DOUBLE)/nb)*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/COUNT(*)/1e6, 4) AS avg_dup_bigram,
        |       CAST(SUM(CASE WHEN 2*(nb - db) > nb THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, dir) =>
        val f = Tables.table(s, dir, "documents")
          .withColumn("ts", expr("filter(split(text, ' '), x -> x <> '')"))
          .filter(size(col("ts")) >= 2)
          .select(col("lang"),
            size(col("ts")).as("nt"),
            size(array_distinct(col("ts"))).as("dt"),
            (size(col("ts")) - 1).as("nb"),
            size(array_distinct(expr(
              "transform(sequence(0, size(ts)-2), i -> concat(ts[i], ' ', ts[i+1]))"))).as("db"))
        def avgFixed(fr: org.apache.spark.sql.Column) =
          round(sum(floor(fr * lit(1e6) + lit(0.5)).cast("long")).cast("double") /
            count(lit(1)) / lit(1e6), 4)
        f.groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            avgFixed(lit(1.0) - col("dt").cast("double") / col("nt")).as("avg_dup_tok"),
            avgFixed(lit(1.0) - col("db").cast("double") / col("nb")).as("avg_dup_bigram"),
            sum(when(lit(2) * (col("nb") - col("db")) > col("nb"), 1).otherwise(0))
              .cast("long").as("n_flagged"))
          .orderBy(col("lang"))
    },

    // Deterministic train/val/test split assignment — content-hash
    // bucketing (≈ 80/10/10 by the first md5 hex byte), so the split is
    // reproducible across engines, runs, and partitionings, and a re-crawled
    // duplicate lands in the same split. Pure map work — no shuffle beyond
    // the final stats groupBy.
    DeclaredQuery("p13_split_assign",
      """SELECT lang, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT lang, n_chars,
        |             CASE WHEN substring(md5(text),1,2) < 'cc' THEN 'train'
        |                  WHEN substring(md5(text),1,2) < 'e6' THEN 'val'
        |                  ELSE 'test' END AS split
        |      FROM documents) t
        |GROUP BY lang, split ORDER BY lang, split""".stripMargin) {
      (s, dir) =>
        val h = substring(md5(col("text")), 1, 2)
        Tables.table(s, dir, "documents")
          .select(col("lang"), col("n_chars"),
            when(h < "cc", "train").when(h < "e6", "val").otherwise("test").as("split"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy(col("lang"), col("split"))
    },

    // Sequence-packing stats — token-stream packing (concatenate per-lang
    // token streams in doc_id order, slice into 512-token context windows):
    // window count, exact fill of the last window, and how many documents a
    // window boundary splits. All integer arithmetic over one per-lang
    // cumulative-sum window — the packing-efficiency numbers a pretraining
    // data pipeline reports.
    DeclaredQuery("p14_sequence_packing",
      """WITH d AS (SELECT lang, doc_id,
        |                  len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
        |           FROM documents),
        |c AS (SELECT lang, doc_id, nt,
        |             COALESCE(SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |      FROM d)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_toks,
        |       CAST((MAX(cb + nt) + 511) // 512 AS BIGINT) AS n_windows,
        |       CAST(SUM(CASE WHEN nt > 0 AND (cb // 512) <> ((cb + nt - 1) // 512)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val c = Tables.table(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long").as("nt"))
          .withColumn("cb", coalesce(sum(col("nt")).over(w), lit(0L)))
        c.groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nt")).as("total_toks"),
            ((max(col("cb") + col("nt")) + 511L) / 512L).cast("long").as("n_windows"),
            sum(when(col("nt") > 0 &&
                (col("cb") / 512L).cast("long") =!= ((col("cb") + col("nt") - 1) / 512L).cast("long"),
                1).otherwise(0)).cast("long").as("n_split_docs"))
          .orderBy(col("lang"))
    },

    // Source/domain-level curation (RefinedWeb-style): a SOURCE is kept or
    // dropped wholesale on its aggregate signal (here: mean tokens/doc ≥ 54,
    // compared as exact integers `Σnt ≥ 54·n` — no float division). Doc-level
    // filters judge documents; this judges where they came from.
    DeclaredQuery("p15_source_filter",
      """SELECT source, COUNT(*) AS n_docs,
        |       CAST(SUM(nt) AS BIGINT) AS total_toks,
        |       CAST(CASE WHEN SUM(nt) >= 54*COUNT(*) THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM (SELECT source,
        |             len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
        |      FROM documents) t
        |GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        Tables.table(s, dir, "documents")
          .select(col("source"),
            size(expr("filter(split(text, ' '), x -> x <> '')")).cast("long").as("nt"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("nt")).as("total_toks"),
            when(sum(col("nt")) >= lit(54) * count(lit(1)), 1L).otherwise(0L).as("kept"))
          .orderBy(col("source"))
    },

    // Pattern-based PII scrubbing audit (operators.PiiScrub) over BOTH text
    // surfaces: events.props (JSON — digits redact to <NUM>) and
    // documents.text (clean prose — every pattern must count 0, the
    // false-positive guard). Pure codegen'd map work; the regexes stay in
    // the Java∩RE2 semantic subset.
    DeclaredQuery("p16_pii_scrub",
      """SELECT kind, COUNT(*) AS n_rows,
        |       CAST(SUM(len(regexp_extract_all(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_email,
        |       CAST(SUM(len(regexp_extract_all(s, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))) AS BIGINT) AS n_ip,
        |       CAST(SUM(len(regexp_extract_all(s, '[0-9]+'))) AS BIGINT) AS n_num,
        |       COUNT(DISTINCT regexp_replace(regexp_replace(regexp_replace(s,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |         '[0-9]+', '<NUM>', 'g')) AS n_masked_forms
        |FROM (SELECT 'doc' AS kind, text AS s FROM documents
        |      UNION ALL SELECT 'props', props FROM events)
        |GROUP BY kind ORDER BY kind""".stripMargin) {
      (s, dir) =>
        val u = Tables.table(s, dir, "documents")
          .select(lit("doc").as("kind"), col("text").as("s"))
          .unionByName(Tables.table(s, dir, "events")
            .select(lit("props").as("kind"), col("props").as("s")))
        graft.operators.PiiScrub.audit(u, "s", "kind")
    },

    // Deterministic stratified sampling — per-source Bernoulli keep decision
    // from a content hash (first md5 hex byte vs a per-stratum threshold),
    // so the sample is reproducible across engines, runs, partitionings, and
    // re-crawls; target rates vary by stratum (source index mod 3 →
    // 20%/50%/80%). Pure map work + one stats groupBy.
    DeclaredQuery("p17_stratified_sample",
      """SELECT source, COUNT(*) AS n_total,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       CAST(SUM(CASE WHEN keep THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM (SELECT source, n_chars,
        |             substring(md5(text),1,2) <
        |               CASE CAST(substring(source,4) AS INT) % 3
        |                    WHEN 0 THEN '33' WHEN 1 THEN '80' ELSE 'cc' END AS keep
        |      FROM documents) t
        |GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val thr = when(substring(col("source"), 4, 10).cast("int") % 3 === 0, "33")
          .when(substring(col("source"), 4, 10).cast("int") % 3 === 1, "80")
          .otherwise("cc")
        Tables.table(s, dir, "documents")
          .select(col("source"), col("n_chars"),
            (substring(md5(col("text")), 1, 2) < thr).as("keep"))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
            sum(when(col("keep"), col("n_chars")).otherwise(0L)).cast("long").as("kept_chars"))
          .orderBy(col("source"))
    },

    // Temperature-weighted source MIXING — the multinomial mixture step of
    // multilingual/multi-source pretraining (sample source s with
    // probability ∝ p_s^(1/τ)): per-source token masses are power-weighted,
    // a global document budget (half the corpus) is split into per-source
    // quotas, and each source fills its quota DETERMINISTICALLY by ranking
    // its docs on a content-independent hash (md5 of the id) — re-running
    // the pipeline reproduces the exact sample, and the oracle pins the
    // sampled SET via an ORDER-INDEPENDENT checksum: XOR over kept ids of
    // the first 60 md5 bits, kept strictly in BIGINT. XOR is associative,
    // commutative and constant-space (a mergeable partial aggregate — no
    // per-group id buffer, unlike a collect_list md5, so a source whose
    // quota is millions of docs at 100 TB still fingerprints in O(1)
    // memory per partition) — and unlike a Σ it never widens past int64,
    // so NO engine/driver pair can disagree on its representation (a
    // DECIMAL(38,0) sum here is exactly what SURVEY §2.7b rule 4 bans:
    // DuckDB computes it as HUGEINT-and-cast, drivers that canonicalize
    // decimals through float lose exactness above 2⁵³). The declared
    // instance uses τ = 1/2 (weight = mass², sharpening) so every weight,
    // share, and quota stays EXACT int64 arithmetic — no float pow() to
    // disagree across engines. Two column-pruned (doc_id, source, ws) passes:
    // a bounded per-source rollup whose 20-row quota frame broadcasts back
    // onto a source-partitioned rank window — no global sort anywhere.
    DeclaredQuery("p27_temperature_mix",
      """WITH d AS (SELECT doc_id, source,
        |                  len(list_filter(string_split(text,' '), x -> x <> '')) AS ws
        |           FROM documents),
        |s AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(ws) AS BIGINT) AS n_tokens
        |      FROM d GROUP BY source),
        |w AS (SELECT source, n_docs, n_tokens, n_tokens * n_tokens AS wgt FROM s),
        |t AS (SELECT CAST(SUM(wgt) AS BIGINT) AS sumw, CAST(SUM(n_docs) AS BIGINT) AS nd FROM w),
        |q AS (SELECT w.source, w.n_docs, w.n_tokens,
        |             CAST(((nd // 2) * wgt) // sumw AS BIGINT) AS quota
        |      FROM w, t),
        |r AS (SELECT doc_id, source,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM d),
        |k AS (SELECT r.source, r.doc_id, r.rn <= q.quota AS keep
        |      FROM r JOIN q ON r.source = q.source)
        |SELECT q.source, q.n_docs, q.n_tokens, q.quota,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |       CAST(COALESCE(BIT_XOR(CASE WHEN keep THEN
        |                CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |            END), 0) AS BIGINT) AS sample_ck
        |FROM q JOIN k ON q.source = k.source
        |GROUP BY q.source, q.n_docs, q.n_tokens, q.quota
        |ORDER BY q.source""".stripMargin) {
      (s, dir) =>
        val docs = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("ws"))
        val bySrc = docs.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("n_tokens"))
          .withColumn("wgt", col("n_tokens") * col("n_tokens"))
        val tot = bySrc.agg(sum(col("wgt")).as("sumw"), sum(col("n_docs")).as("nd"))
        val quotas = bySrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            expr("((nd DIV 2) * wgt) DIV sumw").as("quota"))
        val ranked = docs.withColumn("rn", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        ranked.join(quotas, "source")
          .withColumn("keep", col("rn") <= col("quota"))
          .groupBy(col("source"), col("n_docs"), col("n_tokens"), col("quota"))
          .agg(
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
            coalesce(expr(
                "bit_xor(CASE WHEN keep THEN CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) END)"),
              lit(0L)).as("sample_ck"))
          .orderBy(col("source"))
    },

    // TF-IDF term scoring — the classic relevance/keyword signal: term
    // frequency per (doc, token) from the shared token table, document
    // frequency from ONE further aggregation of that same tf frame (never a
    // second corpus scan), idf = ln(N/df). Top-20 scored terms; ROUND(…,6)
    // absorbs cross-engine ln() ulp noise.
    DeclaredQuery("p18_tfidf_top_terms",
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |              FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.tok,
        |       ROUND(tf.tf * ln(CAST(n.n AS DOUBLE)/df.df), 6) AS score
        |FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
        |ORDER BY score DESC, tf.doc_id, tf.tok LIMIT 20""".stripMargin) {
      (s, dir) =>
        val tf = Tables.docTermFreq(s, dir) // shared posting-list frame (d20 too)
        // r13: df is the memoized IDF sidecar (Tables.tokenDocFreq, shared
        // with d20/d21) and vocabulary-sized — broadcast it so the posting
        // frame never shuffles for this join. r14: the hint is bounded by
        // the MEASURED vocabulary (~48 B/row), since a forced broadcast of
        // an unbounded vocabulary is a driver OOM, not a plan.
        val df = Tables.tokenDocFreq(s, dir)
        val dfH = if (Tables.vocabSize(s, dir) * 48L <=
            graft.operators.TrajectorySearch.broadcastCap(s)) broadcast(df) else df
        val n = Tables.table(s, dir, "documents").select(count(lit(1)).as("n"))
        tf.join(dfH, "tok")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("tok"),
            round(col("tf") * log(col("n").cast("double") / col("df")), 6).as("score"))
          .orderBy(col("score").desc, col("doc_id"), col("tok"))
          .limit(20)
    },

    // Composite document-quality VERDICT (Gopher-rule shape, Rae et al.
    // 2021: length window, mean word length window, lexical diversity):
    // first failing rule names the drop reason. Every comparison is exact
    // integer arithmetic (Σchars vs k·n, 20·distinct vs 7·total) — no float
    // division near a threshold. One map pass + one stats groupBy.
    DeclaredQuery("p19_quality_verdict",
      """WITH t AS (SELECT doc_id,
        |                  len(list_filter(string_split(text,' '), x -> x <> '')) AS nt,
        |                  len(list_distinct(list_filter(string_split(text,' '), x -> x <> ''))) AS nd,
        |                  list_sum(list_transform(list_filter(string_split(text,' '), x -> x <> ''),
        |                                          w -> length(w))) AS chars
        |           FROM documents),
        |v AS (SELECT doc_id, nt,
        |             CASE WHEN nt < 30 THEN 'too_short'
        |                  WHEN 5*chars > 24*nt THEN 'long_words'
        |                  WHEN 20*nd < 7*nt THEN 'low_diversity'
        |                  ELSE 'keep' END AS verdict
        |      FROM t)
        |SELECT verdict, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_toks
        |FROM v GROUP BY verdict ORDER BY verdict""".stripMargin) {
      (s, dir) =>
        val t = Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("nt"),
            size(array_distinct(col("toks"))).cast("long").as("nd"),
            expr("aggregate(toks, 0L, (s, w) -> s + length(w))").as("chars"))
        t.select(col("nt"),
            when(col("nt") < 30, "too_short")
              .when(lit(5) * col("chars") > lit(24) * col("nt"), "long_words")
              .when(lit(20) * col("nd") < lit(7) * col("nt"), "low_diversity")
              .otherwise("keep").as("verdict"))
          .groupBy(col("verdict"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("total_toks"))
          .orderBy(col("verdict"))
    },

    // Unigram language-model surprisal — the classic perplexity-style
    // quality filter (high avg NLL under the corpus's own unigram MLE =
    // out-of-distribution text). Per-token log-probs are fixed-pointed to
    // integer MICRO-NATS before summing, so the per-doc sum is an exact
    // BIGINT in any aggregation order (a double log-sum would be
    // order-nondeterministic across partitions); only the final per-doc
    // division is float. The vocab frame (tok, lp_micro) is corpus-
    // vocabulary-sized — broadcast to the tf join; tf and freq both derive
    // from the ONE shared token table scan.
    DeclaredQuery("p20_unigram_lm",
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |              FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |freq AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
        |lp AS (SELECT tok, CAST(FLOOR(LN(CAST(cnt AS DOUBLE)/total)*1e6 + 0.5) AS BIGINT) AS lp_micro
        |       FROM freq, tot)
        |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_toks,
        |       ROUND(-CAST(SUM(tf.tf * lp.lp_micro) AS BIGINT)
        |             / CAST(SUM(tf.tf) AS BIGINT) / 1e6, 6) AS avg_nll
        |FROM tf JOIN lp ON tf.tok = lp.tok
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin) {
      (s, dir) =>
        val tf = Tables.docTermFreq(s, dir) // shared posting-list frame
        val freq = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
        val tot = freq.agg(sum(col("cnt")).as("total"))
        val lp = freq.crossJoin(broadcast(tot))
          .select(col("tok"),
            floor(log(col("cnt").cast("double") / col("total")) * lit(1e6) + lit(0.5))
              .cast("long").as("lp_micro"))
        tf.join(broadcast(lp), "tok")
          .groupBy(col("doc_id"))
          .agg(sum(col("tf")).as("n_toks"),
            sum(col("tf") * col("lp_micro")).as("slp"))
          .select(col("doc_id"), col("n_toks"),
            round((-col("slp")).cast("double") / col("n_toks").cast("double") / lit(1e6), 6)
              .as("avg_nll"))
          .orderBy(col("doc_id"))
    },

    // Bigram language-model surprisal per doc: avg −ln P(w2|w1) under the
    // corpus's own bigram MLE, P(w2|w1) = c(w1,w2)/c(w1·) with c(w1·) the
    // bigram-left marginal — every doc bigram has corpus count ≥ 1 by
    // construction, so pure MLE needs no smoothing. Same determinism design
    // as p20: each conditional log-prob is fixed-pointed to integer
    // micro-nats ONCE per distinct bigram, so the per-doc sum is an exact
    // BIGINT in any aggregation order. One shared shingle build (the d10
    // operator at n=2); the bigram log-prob frame is vocabulary-sized and
    // broadcasts to the per-doc tf join.
    DeclaredQuery("p21_bigram_lm",
      """WITH sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |                     i -> ts[i] || ' ' || ts[i+1])) AS bg
        |            FROM (SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') AS ts
        |                  FROM documents) q WHERE len(ts) >= 2),
        |tf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM sh GROUP BY doc_id, bg),
        |c2 AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY bg),
        |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(c2) AS BIGINT) AS c1
        |       FROM c2 GROUP BY 1),
        |lp AS (SELECT c2.bg, CAST(FLOOR(LN(CAST(c2.c2 AS DOUBLE)/c1.c1)*1e6 + 0.5) AS BIGINT) AS lp_micro
        |       FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1)
        |SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
        |       ROUND(-CAST(SUM(tf.tf * lp.lp_micro) AS BIGINT)
        |             / CAST(SUM(tf.tf) AS BIGINT) / 1e6, 6) AS avg_nll
        |FROM tf JOIN lp ON tf.bg = lp.bg
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin) {
      (s, dir) =>
        // r13: the (doc, w1, w2, tf) posting frame is the memoized
        // Tables.docBigramTf shared with p25 (the docTermFreq pattern at
        // n=2) — one shingle explode + aggregation per session instead of
        // one per query, and the model keys on the word PAIR directly, so
        // no bigram-string concat on the build side and no re-split in the
        // c1 marginal (identical integer counts; oracle unchanged).
        val tf = Tables.docBigramTf(s, dir)
        // r14: the (w1, w2) corpus counts are the memoized
        // Tables.bigramCounts artifact (shared with p25) — the per-call
        // re-aggregation of the posting frame is gone.
        val c2 = Tables.bigramCounts(s, dir).withColumnRenamed("n", "c2")
        val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
        val lp = c2.join(broadcast(c1), "w1")
          .select(col("w1"), col("w2"),
            floor(log(col("c2").cast("double") / col("c1")) * lit(1e6) + lit(0.5))
              .cast("long").as("lp_micro"))
        tf.join(broadcast(lp), Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(sum(col("tf")).as("n_bigrams"),
            sum(col("tf") * col("lp_micro")).as("slp"))
          .select(col("doc_id"), col("n_bigrams"),
            round((-col("slp")).cast("double") / col("n_bigrams").cast("double") / lit(1e6), 6)
              .as("avg_nll"))
          .orderBy(col("doc_id"))
    },

    // Per-doc token-distribution (Shannon) entropy — the repetitiveness
    // signal orthogonal to p20's corpus-level surprisal: low entropy flags
    // internally repetitive docs even when every token is common. Same
    // determinism design: each term's −ln(tf/n) is fixed-pointed to integer
    // micro-nats, so the per-doc sum is an exact BIGINT in any aggregation
    // order. The doc length joins in as a window sum over the SAME doc_id
    // partitioning as the tf groupBy — one exchange, no join-back.
    DeclaredQuery("p22_token_entropy",
      """WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |              FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
        |tf2 AS (SELECT doc_id, tf,
        |          CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        |        FROM tf),
        |e AS (SELECT doc_id, n,
        |        tf * CAST(FLOOR((LN(CAST(n AS DOUBLE)) - LN(CAST(tf AS DOUBLE)))*1e6 + 0.5) AS BIGINT) AS c
        |      FROM tf2)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_toks,
        |       ROUND(CAST(SUM(c) AS BIGINT) / CAST(MAX(n) AS BIGINT) / 1e6, 6) AS entropy
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        val tf = Tables.docTermFreq(s, dir) // shared posting-list frame
        val wd = Window.partitionBy(col("doc_id"))
        tf.select(col("doc_id"), col("tf"), sum(col("tf")).over(wd).as("n"))
          .select(col("doc_id"), col("n"),
            (col("tf") * floor((log(col("n").cast("double")) - log(col("tf").cast("double")))
              * lit(1e6) + lit(0.5)).cast("long")).as("c"))
          .groupBy(col("doc_id"))
          .agg(max(col("n")).cast("long").as("n_toks"),
            round(sum(col("c")).cast("double") / max(col("n")).cast("double") / lit(1e6), 6)
              .as("entropy"))
          .orderBy(col("doc_id"))
    },

    // Token co-occurrence PMI — the PPMI association matrix construction
    // (Church & Hanks 1990) behind count-based embeddings and collocation
    // mining. Doc-level co-occurrence: the pair space is the within-doc
    // self-join of DISTINCT doc tokens, bounded per doc by distinct-token
    // count (≤31-token vocab here; a 100 TB corpus caps it the standard way
    // — restrict to a top-V vocabulary first, keeping the join equi-keyed
    // on doc_id and the pair fan-out V-bounded). PMI is computed ONCE per
    // distinct pair from exact integer counts and fixed-pointed to
    // micro-nats; ordering/threshold on exact integers only.
    DeclaredQuery("p23_pmi_pairs",
      """WITH dt AS (SELECT DISTINCT doc_id, tok
        |            FROM (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |                  FROM documents) u),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt),
        |c1 AS (SELECT tok, COUNT(*) AS c FROM dt GROUP BY tok),
        |c12 AS (SELECT a.tok AS t1, b.tok AS t2, COUNT(*) AS c
        |        FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |        GROUP BY a.tok, b.tok HAVING COUNT(*) >= 5),
        |pmi AS (SELECT t1, t2, c12.c AS n_docs,
        |          CAST(FLOOR(LN(CAST(c12.c AS DOUBLE) * nd.n / ca.c / cb.c)*1e6 + 0.5) AS BIGINT) AS pmi_micro
        |        FROM c12 JOIN c1 ca ON c12.t1 = ca.tok
        |                JOIN c1 cb ON c12.t2 = cb.tok, nd)
        |SELECT t1, t2, n_docs, pmi_micro
        |FROM pmi ORDER BY pmi_micro DESC, t1, t2 LIMIT 50""".stripMargin) {
      (s, dir) =>
        // r13 (guide §2.4 — share one exchange): hash the token rows by
        // doc_id ONCE; hashpartitioning(doc_id) satisfies the (doc_id, tok)
        // distinct (subset key) AND both sides of the doc_id self-join (the
        // second side plans as a ReusedExchange of the first), so the whole
        // pair enumeration rides a single shuffle. Before: the distinct's
        // (doc_id, tok) exchange plus a separate doc_id exchange per join
        // side. A/B'd in one session against an in-row collect_set pair
        // explode too — the interpreted HOF lost to this codegen join
        // (OPTIMIZATION_r13.md).
        val dt = Tables.docTokens(s, dir)
          .select(col("doc_id"), col("tok"))
          .repartition(col("doc_id")).distinct()
        val nd = dt.select(col("doc_id")).distinct().agg(count(lit(1)).as("n"))
        val c1 = dt.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val a = dt.select(col("doc_id"), col("tok").as("t1"))
        val b = dt.select(col("doc_id").as("doc2"), col("tok").as("t2"))
        val c12 = a.join(b, col("doc_id") === col("doc2") && col("t1") < col("t2"))
          .groupBy(col("t1"), col("t2"))
          .agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 5)
        // vocabulary-sized frames broadcast to the pair frame
        val ca = c1.select(col("tok").as("ka"), col("c").as("ca"))
        val cb = c1.select(col("tok").as("kb"), col("c").as("cb"))
        c12.join(broadcast(ca), col("t1") === col("ka"))
          .join(broadcast(cb), col("t2") === col("kb"))
          .crossJoin(broadcast(nd))
          .select(col("t1"), col("t2"), col("n_docs"),
            floor(log(col("n_docs").cast("double") * col("n") / col("ca") / col("cb"))
              * lit(1e6) + lit(0.5)).cast("long").as("pmi_micro"))
          .orderBy(col("pmi_micro").desc, col("t1"), col("t2"))
          .limit(50)
    },

    // Count-min sketch heavy hitters — the frequency-sketch member of the
    // family (HLL=r34 distinct, GK=r30 quantiles, CMS=frequency): a
    // mergeable ε=0.001 sketch built in ONE distributed aggregation pass,
    // then point-queried for the exact top-20 tokens. The sketch blob is a
    // bounded KB-scale artifact (the one driver-side value), seeded so
    // estimates are deterministic; CMS never under-counts and the overshoot
    // is ≤ ε·N w.h.p. (asserted in OperatorsTest). NO oracle (DuckDB has no
    // CMS); the exact column doubles as the in-row ground truth.
    DeclaredQuery.noOracle("p26_cms_heavy_hitters") {
      (s, dir) =>
        import s.implicits._
        val toks = Tables.docTokens(s, dir)
        val blob = toks
          .agg(expr("count_min_sketch(tok, 0.001d, 0.99d, 42)"))
          .head().getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(blob))
        val bc = s.sparkContext.broadcast(cms)
        val est = udf { (t: String) => bc.value.estimateCount(t) }
        toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("tok"))
          .limit(20)
          .select(col("tok"), col("n_exact"), est(col("tok")).as("n_est"))
    },

    // Greedy next-token argmax under the corpus bigram MLE — the
    // "generation" read-path of the p21 model: for the 10 highest-marginal
    // first words, the most likely continuation and its exact conditional
    // probability. Argmax per prefix is a rank-1 window with a
    // lexicographic tie-break (deterministic at equal counts); probability
    // is one division of two exact BIGINTs.
    DeclaredQuery("p25_bigram_argmax",
      """WITH sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)),
        |                     i -> ts[i] || ' ' || ts[i+1])) AS bg
        |            FROM (SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') AS ts
        |                  FROM documents) q WHERE len(ts) >= 2),
        |c2 AS (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2,
        |              COUNT(*) AS c
        |       FROM sh GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
        |top1 AS (SELECT w1, w2, c FROM (
        |           SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
        |                     ORDER BY c DESC, w2) AS rn FROM c2) q
        |         WHERE rn = 1)
        |SELECT t.w1, c1.c1 AS n_prefix, t.w2 AS next_word,
        |       CAST(t.c AS BIGINT) AS n_pair,
        |       ROUND(CAST(t.c AS DOUBLE) / c1.c1, 6) AS p
        |FROM top1 t JOIN c1 ON t.w1 = c1.w1
        |ORDER BY c1.c1 DESC, t.w1 LIMIT 10""".stripMargin) {
      (s, dir) =>
        // r13: Σ per-doc tf ≡ the raw bigram count — exact integers, oracle
        // unchanged. r14: the counts are the memoized Tables.bigramCounts
        // artifact (shared with p21) instead of a per-call re-aggregation.
        val c2 = Tables.bigramCounts(s, dir).withColumnRenamed("n", "c")
        val c1 = c2.groupBy(col("w1")).agg(sum(col("c")).as("c1"))
          .withColumnRenamed("w1", "k1")
        val wTop = Window.partitionBy(col("w1")).orderBy(col("c").desc, col("w2"))
        val top1 = c2.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
        top1.join(c1, col("w1") === col("k1"))
          .select(col("w1"), col("c1").as("n_prefix"), col("w2").as("next_word"),
            col("c").as("n_pair"),
            round(col("c").cast("double") / col("c1"), 6).as("p"))
          .orderBy(col("n_prefix").desc, col("w1"))
          .limit(10)
    },

    // END-TO-END curation funnel — the composition a real training-data run
    // executes as ONE job: language filter → quality rules (p19) → keep-one
    // near-dup dedup (d9's CC canonical) → decontamination vs the held-out
    // benchmark (d5, ≥3 shingle hits = contaminated; the benchmark split
    // itself leaves at this stage). Per-doc stage flags compose in ONE scan
    // pass (monotone f1 ≥ f2 ≥ f3 ≥ f4), the drop/hit sets arrive as
    // doc_id-keyed LEFT joins (never driver-side lists), and the funnel is
    // a single aggregation unpivoted to rows. Reuses the SAME memoized CC
    // labeling and shingle builds as d5/d6/d9 — the build-once artifacts.
    DeclaredQuery("p24_curation_funnel",
      """WITH RECURSIVE
        |dtoks AS (SELECT DISTINCT doc_id, lang, tok
        |          FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents) u
        |          WHERE tok <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS c FROM dtoks GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |          FROM dtoks a JOIN dtoks b ON a.tok=b.tok AND a.lang=b.lang
        |                                    AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |pairs AS (SELECT d1, d2 FROM inter JOIN sizes s1 ON s1.doc_id=d1
        |          JOIN sizes s2 ON s2.doc_id=d2
        |          WHERE 5*i >= 3*(s1.c + s2.c - i)),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges
        |                UNION
        |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |                WHERE e.b <> r.a),
        |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a),
        |dropped AS (SELECT doc_id FROM comp WHERE doc_id <> group_id),
        |q AS (SELECT doc_id,
        |             len(list_filter(string_split(text,' '), x -> x <> '')) AS nt,
        |             len(list_distinct(list_filter(string_split(text,' '), x -> x <> ''))) AS nd,
        |             list_sum(list_transform(list_filter(string_split(text,' '), x -> x <> ''),
        |                                     w -> length(w))) AS chars
        |      FROM documents),
        |keepq AS (SELECT doc_id FROM q
        |          WHERE nt >= 30 AND 5*chars <= 24*nt AND 20*nd >= 7*nt),
        |stoks AS (SELECT doc_id, list_filter(string_split(text,' '), t -> t <> '') AS ts
        |          FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)-1),
        |               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        |       FROM stoks WHERE len(ts) >= 3),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
        |hits AS (SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n
        |         FROM sh s JOIN bench b ON s.shingle = b.shingle
        |         WHERE s.doc_id % 50 <> 0 GROUP BY s.doc_id),
        |f AS (SELECT d.doc_id,
        |        CASE WHEN d.lang <> 'zh' THEN 1 ELSE 0 END AS f1,
        |        CASE WHEN d.lang <> 'zh'
        |              AND d.doc_id IN (SELECT doc_id FROM keepq) THEN 1 ELSE 0 END AS f2,
        |        CASE WHEN d.lang <> 'zh'
        |              AND d.doc_id IN (SELECT doc_id FROM keepq)
        |              AND d.doc_id NOT IN (SELECT doc_id FROM dropped) THEN 1 ELSE 0 END AS f3,
        |        CASE WHEN d.lang <> 'zh'
        |              AND d.doc_id IN (SELECT doc_id FROM keepq)
        |              AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
        |              AND d.doc_id % 50 <> 0
        |              AND COALESCE((SELECT n FROM hits h WHERE h.doc_id = d.doc_id), 0) < 3
        |             THEN 1 ELSE 0 END AS f4
        |      FROM documents d)
        |SELECT * FROM (
        |  SELECT '1_all' AS stage, COUNT(*) AS n_docs FROM f
        |  UNION ALL SELECT '2_lang', CAST(SUM(f1) AS BIGINT) FROM f
        |  UNION ALL SELECT '3_quality', CAST(SUM(f2) AS BIGINT) FROM f
        |  UNION ALL SELECT '4_dedup', CAST(SUM(f3) AS BIGINT) FROM f
        |  UNION ALL SELECT '5_decontam', CAST(SUM(f4) AS BIGINT) FROM f)
        |ORDER BY stage""".stripMargin) {
      (s, dir) =>
        val docs = Tables.table(s, dir, "documents")
        val t = docs.select(col("doc_id"), col("lang"),
            expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
          .select(col("doc_id"), col("lang"),
            size(col("toks")).cast("long").as("nt"),
            size(array_distinct(col("toks"))).cast("long").as("nd"),
            expr("aggregate(toks, 0L, (s, w) -> s + length(w))").as("chars"))
        val qualityKeep = col("nt") >= 30 &&
          lit(5) * col("chars") <= lit(24) * col("nt") &&
          lit(20) * col("nd") >= lit(7) * col("nt")
        val dropped = graft.operators.Components.connectedComponentsCached(
            graft.operators.DocSimilarity.nearDupPairs(s, dir)
              .select(col("d1").as("a"), col("d2").as("b")),
            cacheKey = s"$dir#neardup", assumeCanonical = true)
          .filter(col("id") =!= col("comp"))
          .select(col("id").as("doc_id"), lit(1).as("is_dropped"))
        // r13: shared memoized hit list (identical frame to d5's output —
        // see Tables.decontamHits); broadcast-hinted because the hit list
        // is BENCHMARK-bounded (only docs sharing an eval shingle appear),
        // so the corpus side never shuffles for this join at any scale.
        val hits = broadcast(Tables.decontamHits(s, dir)
          .select(col("doc_id"), col("n_hits")))
        val f1 = (col("lang") =!= "zh").cast("long")
        val f2 = f1 * qualityKeep.cast("long")
        val f3 = f2 * col("is_dropped").isNull.cast("long")
        val f4 = f3 * (col("doc_id") % 50 =!= 0).cast("long") *
          (coalesce(col("n_hits"), lit(0L)) < 3).cast("long")
        val agg = t
          .join(dropped, Seq("doc_id"), "left")
          .join(hits, Seq("doc_id"), "left")
          .agg(count(lit(1)).as("1_all"), sum(f1).as("2_lang"), sum(f2).as("3_quality"),
            sum(f3).as("4_dedup"), sum(f4).as("5_decontam"))
        agg.select(expr(
            "stack(5, '1_all', `1_all`, '2_lang', `2_lang`, '3_quality', `3_quality`, " +
            "'4_dedup', `4_dedup`, '5_decontam', `5_decontam`) AS (stage, n_docs)"))
          .orderBy(col("stage"))
    },

    // Deterministic STRATIFIED train/val/test split — the last step before
    // a training-data export: every doc lands in exactly one split by a
    // pure function of its id (60-bit md5 prefix mod 100 → <90 train,
    // <95 val, else test), so the assignment is reproducible across
    // engines, runs, partitionings, and corpus growth (a doc never
    // migrates when new docs arrive — the property row_number-based
    // splitting lacks). Report is per (source, split): doc/token counts
    // plus the p27-style order-independent xor membership checksum, so the
    // oracle verifies the exact member SET, not just sizes. One scan, one
    // groupBy; no window, no join — embarrassingly parallel at 100 TB.
    DeclaredQuery("p28_stratified_split",
      """WITH d AS (SELECT doc_id, source,
        |                  len(list_filter(string_split(text,' '), x -> x <> '')) AS ws,
        |                  CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) AS h
        |           FROM documents),
        |s AS (SELECT doc_id, source, ws, h,
        |             CASE WHEN h % 100 < 90 THEN 'train'
        |                  WHEN h % 100 < 95 THEN 'val'
        |                  ELSE 'test' END AS split
        |      FROM d)
        |SELECT source, split, COUNT(*) AS n_docs,
        |       CAST(SUM(ws) AS BIGINT) AS n_tokens,
        |       CAST(COALESCE(BIT_XOR(h), 0) AS BIGINT) AS member_ck
        |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin) {
      (s, dir) =>
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("ws"),
            expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)").as("h"))
          .withColumn("split",
            when(col("h") % 100 < 90, "train")
              .when(col("h") % 100 < 95, "val")
              .otherwise("test"))
        d.groupBy(col("source"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws")).as("n_tokens"),
            coalesce(expr("bit_xor(h)"), lit(0L)).as("member_ck"))
          .orderBy(col("source"), col("split"))
    },

    // Per-document OVERLAPPING CHUNKER — the retrieval/context-window
    // op p14's cross-doc packing deliberately is not: each doc's token
    // stream is sliced into windows of W=64 tokens at stride S=48
    // (16-token overlap), chunk ids stable per doc (chunking one doc
    // never depends on any other doc — embarrassingly parallel at
    // 100 TB, and a corpus append never re-chunks old docs). Per-lang
    // report: doc/chunk/token totals, deepest doc, and an exact integer
    // checksum over every (doc, chunk index, chunk length) triple — the
    // oracle verifies the full chunk STRUCTURE, not just counts.
    DeclaredQuery("p29_doc_chunks",
      """WITH d AS (SELECT doc_id, lang,
        |             len(list_filter(string_split(text,' '), x -> x <> '')) AS n
        |           FROM documents),
        |c AS (SELECT doc_id, lang, n,
        |             CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc
        |      FROM d WHERE n > 0),
        |ch AS (SELECT doc_id, lang, n, nc,
        |              unnest(generate_series(0, nc - 1)) AS idx FROM c),
        |l AS (SELECT lang, doc_id, nc, idx,
        |             LEAST(64, n - idx * 48) AS clen FROM ch),
        |agg AS (SELECT lang, COUNT(*) AS n_chunks,
        |               CAST(SUM(clen) AS BIGINT) AS sum_chunk_tokens,
        |               CAST(MAX(nc) AS BIGINT) AS max_chunks_per_doc,
        |               CAST(BIT_XOR(xor(xor((doc_id & 34359738367) << 20,
        |                                    (idx & 4095) << 8), clen)) AS BIGINT)
        |                 AS chunk_ck
        |        FROM l GROUP BY lang),
        |docs AS (SELECT lang, COUNT(*) AS n_docs FROM d GROUP BY lang)
        |SELECT docs.lang, n_docs, COALESCE(n_chunks, 0) AS n_chunks,
        |       COALESCE(sum_chunk_tokens, 0) AS sum_chunk_tokens,
        |       COALESCE(max_chunks_per_doc, 0) AS max_chunks_per_doc,
        |       COALESCE(chunk_ck, 0) AS chunk_ck
        |FROM docs LEFT JOIN agg ON docs.lang = agg.lang
        |ORDER BY docs.lang""".stripMargin) {
      (s, dir) =>
        val (w, st) = (64, 48)
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("n"))
        // nc = the first window that reaches the end of the doc stops the
        // chunker (max(1, ceil((n - W)/S) + 1)) — a naive ceil(n/S) emits
        // a redundant trailing chunk fully contained in its predecessor
        // whenever the last full window already covers the tail.
        val chunks = d.filter(col("n") > 0)
          .withColumn("nc", when(col("n") <= w, lit(1L))
            .otherwise(expr(s"(n - $w + ${st - 1}) DIV $st + 1")))
          .select(col("doc_id"), col("lang"), col("n"), col("nc"),
            explode(expr("sequence(0L, nc - 1)")).as("idx"))
          .withColumn("clen", least(lit(w.toLong), col("n") - col("idx") * st))
        val agg = chunks.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("clen")).as("sum_chunk_tokens"),
            max(col("nc")).as("max_chunks_per_doc"),
            // wrap-safe cross-engine checksum: Spark wraps arithmetic
            // overflow but DuckDB RAISES, so the mix must provably stay
            // in 63 bits — masked shifts (35-bit doc_id window << 20,
            // 12-bit idx window << 8) xor'd, never multiplied.
            expr("bit_xor(shiftleft(doc_id & 34359738367, 20) ^ shiftleft(idx & 4095, 8) ^ clen)").as("chunk_ck"))
        d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
          .join(agg, Seq("lang"), "left_outer")
          .select(col("lang"), col("n_docs"),
            coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
            coalesce(col("sum_chunk_tokens"), lit(0L)).as("sum_chunk_tokens"),
            coalesce(col("max_chunks_per_doc"), lit(0L)).as("max_chunks_per_doc"),
            coalesce(col("chunk_ck"), lit(0L)).as("chunk_ck"))
          .orderBy(col("lang"))
    },

    // SEQUENCE PACKING — the GPT-style pretraining batch layout step:
    // per-lang, documents concatenate in doc_id order and the token
    // stream slices into fixed W=512-token training windows; a document
    // whose span crosses a window boundary is a STRADDLER (it will be
    // split across two training sequences — the quantity packing
    // policies trade off). Report per lang: docs, tokens, window count,
    // straddler count + exact straddler-id checksum. The cumulative
    // offset is a lang-PARTITIONED window (never a global sort); at
    // 100 TB production packs per (lang, shard-bucket) so each
    // partition's running sum stays executor-sized — the per-lang form
    // here keeps the oracle deterministic.
    DeclaredQuery("p30_sequence_packing",
      """WITH d AS (SELECT doc_id, lang,
        |             len(list_filter(string_split(text,' '), x -> x <> '')) AS n
        |           FROM documents),
        |w AS (SELECT doc_id, lang, n,
        |             SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
        |      FROM d),
        |p AS (SELECT lang, doc_id, n, e,
        |             CASE WHEN n > 0 AND (e - n) // 512 <> (e - 1) // 512
        |                  THEN 1 ELSE 0 END AS straddle
        |      FROM w)
        |SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n) AS BIGINT) AS total_toks,
        |       CAST((MAX(e) + 511) // 512 AS BIGINT) AS n_bins,
        |       CAST(SUM(straddle) AS BIGINT) AS n_straddlers,
        |       CAST(COALESCE(BIT_XOR(CASE WHEN straddle = 1 THEN doc_id END), 0)
        |            AS BIGINT) AS straddle_ck
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, dir) =>
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("doc_id"))
        Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("n"))
          .withColumn("e", sum(col("n")).over(win))
          .withColumn("straddle",
            when(col("n") > 0 &&
              expr("(e - n) DIV 512") =!= expr("(e - 1) DIV 512"), 1L)
              .otherwise(0L))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n")).as("total_toks"),
            expr("(MAX(e) + 511) DIV 512").as("n_bins"),
            sum(col("straddle")).as("n_straddlers"),
            coalesce(expr("bit_xor(CASE WHEN straddle = 1 THEN doc_id END)"),
              lit(0L)).as("straddle_ck"))
          .orderBy(col("lang"))
    },

    // Distribution-DRIFT monitor (Population Stability Index) — the
    // data-quality gate a continuously-ingesting training pipeline runs per
    // source/shard: PSI of each source's doc-length distribution against
    // the whole-corpus baseline over fixed 100-char buckets (capped at 5),
    // Laplace-smoothed (+1 over n+B) so an empty bucket never yields an
    // infinite term. Scale shape: two corpus aggregations (per-source×bucket
    // and per-bucket) reduce the scan to a sources×6 frame — everything
    // after is constant-sized driver-free arithmetic; the per-bucket PSI
    // term fixed-points to integer NANO-units once, so the per-source sum
    // is an exact BIGINT in any aggregation order (§2.7b), and the oracle
    // replicates the smoothed IEEE expression tree term-for-term.
    DeclaredQuery("p31_psi_drift",
      """WITH b AS (SELECT source,
        |             LEAST(CAST(FLOOR(n_chars / 100) AS BIGINT), 5) AS bucket
        |           FROM documents),
        |srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY source),
        |grid AS (SELECT s.source, s.n, g.bucket FROM srcs s
        |         CROSS JOIN (SELECT unnest(range(0, 6)) AS bucket) g),
        |sc AS (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM b GROUP BY source, bucket),
        |cc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cc FROM b GROUP BY bucket),
        |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM b),
        |t AS (SELECT grid.source, grid.n,
        |        (CAST(COALESCE(sc.c, 0) + 1 AS DOUBLE) / CAST(grid.n + 6 AS DOUBLE)) AS p,
        |        (CAST(COALESCE(cc.cc, 0) + 1 AS DOUBLE) / CAST(nc.nt + 6 AS DOUBLE)) AS q
        |      FROM grid
        |      LEFT JOIN sc ON sc.source = grid.source AND sc.bucket = grid.bucket
        |      LEFT JOIN cc ON cc.bucket = grid.bucket
        |      CROSS JOIN nc)
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
        |       CAST(SUM(CAST(FLOOR((p - q) * LN(p / q) * 1e9 + 0.5) AS BIGINT))
        |            AS BIGINT) AS psi_nano
        |FROM t GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val b = Tables.table(s, dir, "documents")
          .select(col("source"),
            least(floor(col("n_chars") / lit(100)), lit(5L)).as("bucket"))
        val srcs = b.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val bucketsDf = s.createDataFrame((0L to 5L).map(Tuple1(_))).toDF("bucket")
        val grid = srcs.crossJoin(broadcast(bucketsDf))
        val scf = b.groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("c"))
        val ccf = b.groupBy(col("bucket")).agg(count(lit(1)).as("cc"))
        val ncf = b.agg(count(lit(1)).as("nt"))
        val p = (coalesce(col("c"), lit(0L)) + lit(1)).cast("double") /
          (col("n") + lit(6)).cast("double")
        val q = (coalesce(col("cc"), lit(0L)) + lit(1)).cast("double") /
          (col("nt") + lit(6)).cast("double")
        grid.join(scf, Seq("source", "bucket"), "left")
          .join(broadcast(ccf), Seq("bucket"), "left")
          .crossJoin(broadcast(ncf))
          .select(col("source"), col("n"),
            floor((p - q) * log(p / q) * lit(1e9) + lit(0.5)).cast("long").as("t_nano"))
          .groupBy(col("source"))
          .agg(max(col("n")).as("n_docs"), sum(col("t_nano")).as("psi_nano"))
          .orderBy(col("source"))
    },

    // WEIGHTED sampling without replacement (Efraimidis–Spirtsis A-ES) —
    // the "sample training docs proportional to weight" op p17's uniform
    // stratified sampler deliberately is not: each doc draws key
    // ln(u)/w with u a doc-id-seeded uniform in (0,1] and w its token
    // count; the top-10 keys per source are EXACTLY a weighted sample
    // without replacement. Fully deterministic and engine-portable: u
    // comes from the proven md5-prefix int64 path (p28's recipe), so the
    // sample is reproducible across engines, runs, partitionings, AND
    // corpus growth (a doc's key never changes when new docs arrive —
    // only the top-10 cut moves, the property reservoir sampling lacks).
    // Scale shape: one scan + the bounded two-stage per-group rank — no
    // global sort, no driver state; at 100 TB each source's heap carries
    // 10 rows per partition. Keys are IEEE doubles but 60-bit-uniform
    // spread makes 1-ulp ln() divergence between engines rank-safe
    // (ties broken by doc_id); the output carries no float column.
    DeclaredQuery("p32_weighted_sample",
      """WITH d AS (SELECT doc_id, source,
        |             len(list_filter(string_split(text,' '), x -> x <> '')) + 1 AS w,
        |             CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) AS h
        |           FROM documents),
        |k AS (SELECT source, doc_id, w,
        |        ln((CAST(h AS DOUBLE) + 1.0) / 1152921504606846976.0)
        |          / CAST(w AS DOUBLE) AS k
        |      FROM d)
        |SELECT source, CAST(rk AS INT) AS rk, doc_id, CAST(w AS BIGINT) AS w FROM (
        |  SELECT source, doc_id, w,
        |         row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rk
        |  FROM k) r
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin) {
      (s, dir) =>
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            (expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long")
              + lit(1L)).as("w"),
            expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
              .as("h"))
        val keyed = d.select(col("source"), col("doc_id"), col("w"),
          (log((col("h").cast("double") + lit(1.0)) / lit(1152921504606846976.0))
            / col("w").cast("double")).as("k"))
        graft.operators.Rank.topKPerGroup(keyed, Seq(col("source")),
            Seq(col("k").desc, col("doc_id")), 10,
            rankCol = "rk")
          .select(col("source"), col("rk"), col("doc_id"), col("w"))
          .orderBy(col("source"), col("rk"))
    },

    // Post-split LEAKAGE audit — the eval-hygiene check that belongs right
    // after p28's split (d5 decontaminates against an EXTERNAL benchmark;
    // this audits the split itself): an 8-gram appearing in a train doc
    // AND a val/test doc is leaked eval signal (Lee et al. ACL'22 span
    // semantics, d8's gram recipe). Per eval split: distinct leaked grams,
    // eval docs carrying at least one, and the gram-bearing doc total.
    // Scale shape: grams collapse to 64-bit xxhash64 INSIDE the projection
    // (no string ever shuffles — d8's rule; the DuckDB oracle joins the
    // full gram strings, equal up to ~2⁻⁴⁰ hash-collision odds); the
    // train-distinct side and the eval side meet in one gid equi-join —
    // no pair space, AQE-sized. The split assignment is p28's pure hash,
    // so the audit is reproducible and append-stable.
    DeclaredQuery("p33_split_leakage",
      """WITH l AS (SELECT doc_id,
        |             list_filter(string_split(text,' '), x -> x <> '') AS toks,
        |             CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS hm
        |           FROM documents),
        |s AS (SELECT doc_id, toks,
        |        CASE WHEN hm < 90 THEN 'train' WHEN hm < 95 THEN 'val'
        |             ELSE 'test' END AS split
        |      FROM l WHERE len(toks) >= 8),
        |g AS (SELECT doc_id, split, unnest(list_transform(range(1, len(toks)-6),
        |        i -> array_to_string(toks[i:i+7], ' '))) AS gram
        |      FROM s),
        |tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
        |ev AS (SELECT split, doc_id, gram FROM g WHERE split <> 'train')
        |SELECT ev.split,
        |       CAST(COUNT(DISTINCT ev.gram)
        |              FILTER (WHERE tr.gram IS NOT NULL) AS BIGINT) AS n_leaked_grams,
        |       CAST(COUNT(DISTINCT ev.doc_id)
        |              FILTER (WHERE tr.gram IS NOT NULL) AS BIGINT) AS n_leaky_docs,
        |       CAST(COUNT(DISTINCT ev.doc_id) AS BIGINT) AS n_docs
        |FROM ev LEFT JOIN tr ON ev.gram = tr.gram
        |GROUP BY ev.split ORDER BY ev.split""".stripMargin) {
      (s, dir) =>
        val l = Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            expr("filter(split(text, ' '), x -> x <> '')").as("toks"),
            (expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
              % 100).as("hm"))
          .filter(size(col("toks")) >= 8) // sequence(0, n-8) needs n ≥ 8
          .withColumn("split",
            when(col("hm") < 90, "train").when(col("hm") < 95, "val")
              .otherwise("test"))
        val g = l.select(col("doc_id"), col("split"),
          explode(expr(
            "transform(sequence(0, size(toks) - 8)," +
              " i -> xxhash64(array_join(slice(toks, i + 1, 8), ' ')))")).as("gid"))
        val tr = g.filter(col("split") === "train")
          .select(col("gid")).distinct().withColumn("leak", lit(1))
        g.filter(col("split") =!= "train")
          .join(tr, Seq("gid"), "left")
          .groupBy(col("split"))
          .agg(
            countDistinct(when(col("leak") === 1, col("gid"))).as("n_leaked_grams"),
            countDistinct(when(col("leak") === 1, col("doc_id"))).as("n_leaky_docs"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy(col("split"))
    },

    // BPE tokenizer TRAINING (operators.Bpe): learn the top-3 merge pairs
    // from the corpus vocabulary — exact integer pair counts weighted by
    // word frequency, lexicographic (lhs, rhs) tie-break, greedy
    // left-to-right merge application; ships the merge table plus the
    // corpus symbol count after each merge (the trainer's compression
    // curve). The DuckDB oracle replays the SAME 3 rounds relationally
    // (windowed pair counts + gaps-and-islands greedy), so the learned
    // merges hash-match across two independent implementations. Scale
    // shape in Bpe's scaladoc: per round ONE vocabulary-sized groupBy, a
    // 1-row argmax collect, and a shuffle-free codegen fold.
    DeclaredQuery("p34_bpe_merges", bpeOracleSql) {
      (s, dir) =>
        graft.operators.Bpe.learnMerges(s,
            graft.operators.Bpe.vocabulary(Tables.table(s, dir, "documents"), "text"),
            cacheKey = dir, k = bpeK)
          .orderBy(col("merge_rank"))
    },

    // BPE ENCODE — the apply half of p34's train (train→apply is the
    // tokenizer lifecycle): segment the corpus with the learned merge
    // table and report per-lang word occurrences, subword occurrences,
    // and distinct subword types — all exact BIGINTs. Scale shape: the
    // segmentation table is VOCABULARY-sized (one row per distinct word,
    // shared memo entry with p34 — train-then-encode costs one training);
    // the corpus-sized work is the memoized token scan joining that table
    // on an equi key, then per-lang sums — at 100 TB this is the standard
    // "tokenize the crawl" job: broadcast-able vocab join + one groupBy.
    DeclaredQuery("p35_bpe_encode", bpeEncodeOracleSql) {
      (s, dir) =>
        val seg = graft.operators.Bpe.segmentedVocabulary(s,
          graft.operators.Bpe.vocabulary(Tables.table(s, dir, "documents"), "text"),
          cacheKey = dir, k = bpeK)
        val perWord = seg.select(col("word"), size(col("syms")).cast("long").as("n_sub"))
        val tok = graft.operators.Bpe.corpusTokens(
          Tables.table(s, dir, "documents"), "text", Seq("lang"))
        val agg1 = tok.join(perWord, "word")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
        val dv = tok.distinct()
          .join(seg.select(col("word"), explode(col("syms")).as("sym")), "word")
          .groupBy(col("lang"))
          .agg(countDistinct(col("sym")).as("n_subword_types"))
        agg1.join(dv, "lang").orderBy(col("lang"))
    },

    // Training-export SHARD MANIFEST (operators.ShardPack): deterministic
    // shard assignment by exact integer exclusive-prefix token count DIV
    // 2048, doc_id order — the fixed-token-budget shard layout a training
    // run consumes. Per shard: doc count, token count, and the p28-style
    // bit_xor membership checksum so the oracle verifies the exact doc SET
    // of every shard, not just sizes. Scale shape in ShardPack's scaladoc:
    // the prefix sum is DISTRIBUTED (group rollup + tiny serial offsets +
    // group-partitioned windows) — never one global-window partition.
    // GraftTableTest additionally writes the shards to a versioned table
    // and proves the manifest-pruned per-shard reads match these counts.
    DeclaredQuery("p36_shard_manifest",
      """WITH d AS (SELECT doc_id,
        |             CAST(len(list_filter(string_split(text,' '), x -> x <> '')) AS BIGINT) AS ntok,
        |             CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) AS h
        |           FROM documents),
        |c AS (SELECT doc_id, ntok, h,
        |             CAST(COALESCE(SUM(ntok) OVER (ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum0
        |      FROM d)
        |SELECT CAST(cum0 // 2048 AS BIGINT) AS shard_id,
        |       COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        |       CAST(COALESCE(BIT_XOR(h), 0) AS BIGINT) AS member_ck
        |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin) {
      (s, dir) =>
        val d = Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            expr("size(filter(split(text,' '), x -> x <> ''))").cast("long").as("ntok"),
            expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)").as("h"))
        graft.operators.ShardPack.assignShards(d, "ntok", targetTokens = 2048L)
          .groupBy(col("shard_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ntok")).as("n_tokens"),
            coalesce(expr("bit_xor(h)"), lit(0L)).as("member_ck"))
          .orderBy(col("shard_id"))
    }
  )
}
