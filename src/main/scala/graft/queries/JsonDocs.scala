package graft.queries

import org.apache.spark.sql.functions._

import graft.{DeclaredQuery, Tables}
import graft.Fns._
import graft.util.Snap.Ops

/** JSON / array / vector / text queries (SURVEY §2.5): the LLM-pipeline
  * surface. Vector math uses Catalyst higher-order functions (codegen'd
  * per-element lambdas, no UDF boxing); document similarity (d3) is a token
  * inverted-index self-join — the same blocking idea that replaces the
  * reference's spatial index: turn an all-pairs theta join into an equi-join
  * on a shared key, which is the only shape that scales on a cluster.
  */
object JsonDocs {

  /** Higher-order-function cosine machinery shared by v1/v2. Elements are
    * explicitly promoted FLOAT→DOUBLE before arithmetic (§2.7b rule 9) and
    * folded left-to-right, matching DuckDB's list_sum(list_transform(...)).
    */
  private val sq = "aggregate(transform(%s, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (s,v) -> s+v)"
  private val dotS = "aggregate(zip_with(%s, %s, (x,y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (s,v) -> s+v)"

  /** DuckDB equivalents (fixed dim 64, 1-based list indexing). */
  private def duckSq(c: String) =
    s"list_sum(list_transform(range(1,65), i -> CAST($c[i] AS DOUBLE)*CAST($c[i] AS DOUBLE)))"
  private def duckDot(a: String, b: String) =
    s"list_sum(list_transform(range(1,65), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))"

  // --- shared BM25 machinery (d20 retrieval + d21 hybrid fusion) ----------

  /** The fixed retrieval query set d20/d21 rank against. */
  private val bm25QuerySet = Seq(
    (0, "spark fast query"),
    (1, "hash join merge"),
    (2, "stream window batch table"))

  /** DuckDB CTE chain ending in `agg(query_id, doc_id, bm25_micro)` — the
    * oracle half of [[bm25Micro]], spliced into BOTH d20's and d21's
    * oracles so the engines share exactly one score expression (§2.7b:
    * fixed-point micro-units per (doc,term), exact BIGINT sums). */
  private val bm25AggSql: String =
    s"""q AS (SELECT * FROM (VALUES ${bm25QuerySet.map { case (i, t) =>
            s"($i, '$t')" }.mkString(", ")})
      |            AS t(query_id, qtext)),
      |qt AS (SELECT DISTINCT query_id,
      |         unnest(list_filter(string_split(qtext,' '), x -> x <> '')) AS tok
      |       FROM q),
      |toks AS (SELECT doc_id,
      |           unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
      |         FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM toks GROUP BY doc_id, tok),
      |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |c AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
      |             (SELECT CAST(SUM(tf) AS BIGINT) FROM tf) AS total),
      |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf
      |       WHERE tok IN (SELECT tok FROM qt) GROUP BY tok),
      |sc AS (SELECT qt.query_id, tf.doc_id,
      |         CAST(FLOOR(
      |           LN(1.0 + (CAST(c.n_docs - df.df AS DOUBLE) + 0.5)
      |                    / (CAST(df.df AS DOUBLE) + 0.5))
      |           * ((CAST(tf.tf AS DOUBLE) * 2.2)
      |              / (CAST(tf.tf AS DOUBLE)
      |                 + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
      |                          / (CAST(c.total AS DOUBLE) / CAST(c.n_docs AS DOUBLE))))))
      |           * 1e6 + 0.5) AS BIGINT) AS s_micro
      |       FROM qt JOIN tf ON qt.tok = tf.tok
      |       JOIN df ON df.tok = qt.tok
      |       JOIN dl ON dl.doc_id = tf.doc_id
      |       CROSS JOIN c),
      |agg AS (SELECT query_id, doc_id, CAST(SUM(s_micro) AS BIGINT) AS bm25_micro
      |        FROM sc GROUP BY query_id, doc_id)""".stripMargin

  /** Per-(query, term) BM25 constants — (query_id, tok, idf, avgdl), at
    * most |query terms| rows — collected ONCE per (session, dir) and
    * replayed as a LocalRelation (r14, guide §1.2/§3.1): the per-call form
    * ran ~4 broadcast-build JOBS per d20/d21 invocation (qt, the df
    * semi-join, the 1-row stats frame, plus the dl join's build) to move a
    * dozen rows. idf and avgdl are computed by the SAME Spark expressions
    * as before, just staged — identical doubles, oracle hash unchanged.
    * Bounded driver collect: ≤ |query terms| rows (see StaticChecksTest
    * allowlist). */
  private def bm25QueryConsts(s: org.apache.spark.sql.SparkSession,
                              dir: String): Seq[(Int, String, Double, Double)] =
    graft.util.Memo(s, "bm25QueryConsts", dir) { _ =>
      val q = s.createDataFrame(bm25QuerySet).toDF("query_id", "qtext")
      val qt = q.select(col("query_id"),
          explode(split(col("qtext"), " ")).as("tok"))
        .filter(col("tok") =!= "").distinct()
      val avgdl = col("total").cast("double") / col("n_docs").cast("double")
      val idf = log(lit(1.0) +
        ((col("n_docs") - col("df")).cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)))
      qt.join(Tables.tokenDocFreq(s, dir), "tok") // inner: absent terms score 0 rows
        .crossJoin(Tables.corpusTokenStats(s, dir))
        .select(col("query_id"), col("tok"), idf.as("idf"), avgdl.as("avgdl"))
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
    }

  /** Per-(query,doc) BM25 scores (Robertson/Okapi, k1=1.2 b=0.75) in exact
    * integer micro-units — the Spark half shared by d20/d21. Scale shape
    * (see d20's declaration): corpus work = ONE pass over the memoized
    * posting+dl frame ([[Tables.bm25Postings]]); the query side is the
    * per-session constants LocalRelation (broadcast without a job). */
  private def bm25Micro(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    val qc = s.createDataFrame(bm25QueryConsts(s, dir))
      .toDF("query_id", "tok", "idf", "avgdl")
    val sat = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
    Tables.bm25Postings(s, dir)
      .join(broadcast(qc), "tok")
      .select(col("query_id"), col("doc_id"),
        floor(col("idf") * sat * lit(1e6) + lit(0.5)).cast("long").as("s_micro"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s_micro")).as("bm25_micro"))
  }

  /** v6's checkpoint-BUILD frame (pre-snap), exposed so the plan guard can
    * assert the build's own shape (map-side partial aggregation before the
    * label/pos exchange) — the final v6 plan only shows `Scan ExistingRDD`
    * and would hide a lost partial agg (round-13 ADVICE). */
  private[graft] def v6SumsBuild(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame =
    Tables.table(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(floor(col("xf").cast("double") * lit(1e6) + lit(0.5)).cast("long")).as("sv"))
      .select(col("label"), col("pos"), col("sv"),
        col("sv").cast("decimal(38,0)").as("svd"))

  /** Build-once versioned-table fixture for d16: snapshot v0 = the corpus
    * roster's documents (range-laid-out on doc_id so manifest stats carry
    * disjoint per-file ranges), commit v1 = the batch append. Lives under
    * the IndexStore dir fingerprint, so a REGENERATED fixture gets a fresh
    * table; idempotent per JVM (and self-healing: a crash between data
    * write and manifest publish leaves only unreferenced files — the
    * manifest is the sole source of truth). */
  private def docsTable(s: org.apache.spark.sql.SparkSession, dir: String,
                        oldSources: Seq[String]): String = {
    val gt = graft.sources.GraftTable
    val tdir = graft.sources.IndexStore.artifactPath(s, dir, "docs_table")
    gt.getOrCreateUpgraded(s, tdir, statsCols = Seq("doc_id")) {
      Tables.table(s, dir, "documents")
        .filter(col("source").isin(oldSources: _*))
        .repartitionByRange(4, col("doc_id"))
    } {
      gt.append(s, tdir,
        Tables.table(s, dir, "documents")
          .filter(!col("source").isin(oldSources: _*)),
        statsCols = Seq("doc_id"))
    }
  }

  /** Build-once DEDUPED table for d17: snapshot v0 = the full corpus,
    * v1 = an in-place `deleteKeys` of the non-canonical near-dup group
    * members (the d9 drop set, from the same memoized pair labeling).
    * Guarded like [[docsTable]]: a warm session finds v1 and reads it. */
  private def dedupedTable(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val gt = graft.sources.GraftTable
    val tdir = graft.sources.IndexStore.artifactPath(s, dir, "docs_dedup_table")
    gt.getOrCreateUpgraded(s, tdir, statsCols = Seq("doc_id")) {
      Tables.table(s, dir, "documents").repartitionByRange(4, col("doc_id"))
    } {
      val labels = graft.operators.Components.connectedComponentsCached(
        graft.operators.DocSimilarity.nearDupPairs(s, dir)
          .select(col("d1").as("a"), col("d2").as("b")),
        cacheKey = s"$dir#neardup", assumeCanonical = true)
      gt.deleteKeys(s, tdir, "doc_id",
        labels.filter(col("id") =!= col("comp")).select(col("id").as("doc_id")),
        statsCols = Seq("doc_id"))
    }
  }

  /** Build-once CDC-enabled PURGE table for d19: v0 = the full corpus;
    * v1 = CDC hard delete of source 'src3'; v2 = CDC redaction update of
    * source 'src7'. CDC is forced on for the upgrade commits (restoring
    * the session's prior setting after) so the feed carries the removed
    * rows. Each upgrade step guards on ITS OWN expected head version —
    * a run that crashed between the two commits resumes at the missing
    * step instead of serving a half-built fixture forever (the one-shot
    * `getOrCreateUpgraded` guard only covers single-commit upgrades). */
  private def purgedCdcTable(s: org.apache.spark.sql.SparkSession,
                             dir: String): String = {
    val gt = graft.sources.GraftTable
    val tdir = graft.sources.IndexStore.artifactPath(s, dir, "docs_cdc_table")
    gt.getOrCreate(s, tdir, statsCols = Seq("doc_id")) {
      Tables.table(s, dir, "documents").repartitionByRange(4, col("doc_id"))
    }
    // the whole upgrade runs under the GraftTable lock: the session-wide
    // cdc conf must not be unset by a concurrent builder mid-commit (a
    // mutation slipping through with CDC off poisons the feed forever)
    gt.synchronized {
      val prev = s.conf.getOption("spark.graft.cdc")
      s.conf.set("spark.graft.cdc", "true")
      try {
        // step guards are OP-aware, not version-counting: a no-op step
        // (nothing matched) must not dead-end the remaining steps, and a
        // crash between commits resumes at the missing one
        def headOp = gt.currentVersion(tdir).map(v => (v, gt.manifest(tdir, v).op))
        if (headOp.exists(_._2 == "create"))
          try gt.delete(s, tdir, col("source") === "src3", Seq("doc_id"))
          catch { case _: gt.CommitConflict if gt.currentVersion(tdir).exists(_ > 0) => () }
        if (headOp.exists(h => h._2 == "create" || h._2 == "delete"))
          try gt.updateWhere(s, tdir, col("source") === "src7",
            Seq("text" -> lit(""), "n_chars" -> lit(0L)), Seq("doc_id"))
          catch { case _: gt.CommitConflict if gt.currentVersion(tdir).exists(_ > 1) => () }
      } finally prev match {
        case Some(v) => s.conf.set("spark.graft.cdc", v)
        case None => s.conf.unset("spark.graft.cdc")
      }
    }
    tdir
  }

  val queries: Seq[DeclaredQuery] = Seq(

    DeclaredQuery("j1_props_sum",
      """SELECT event_type, CAST(SUM(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |       COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        Tables.table(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
            count(lit(1)).as("n"))
          .orderBy(col("event_type"))
    },

    // Same field as j1 but through the schema-full parser path
    // (from_json → StructType → field access), the shape used when JSON
    // columns have a declared schema at scale.
    DeclaredQuery("j4_json_struct",
      """SELECT event_type,
        |       CAST(SUM(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |       CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type, CAST(json_extract_string(props,'$.k') AS BIGINT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
        Tables.table(s, dir, "events")
          .select(col("event_type"),
            from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k").as("k"))
          .groupBy(col("event_type"))
          .agg(
            sum(when(col("k") > 50, 1).otherwise(0)).cast("long").as("n_big"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type"))
    },

    DeclaredQuery("j2_embedding_norms",
      s"""SELECT label, COUNT(*) AS n, CAST(MIN(sz) AS BIGINT) AS dim,
         |       ROUND(CAST(SUM(CAST(FLOOR(SQRT(norm2)*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/COUNT(*)/1e6, 4) AS avg_norm
         |FROM (SELECT label, len(embedding) AS sz, ${duckSq("embedding")} AS norm2 FROM embeddings) t
         |GROUP BY label ORDER BY label""".stripMargin) {
      (s, dir) =>
        Tables.table(s, dir, "embeddings")
          .select(col("label"), size(col("embedding")).cast("long").as("sz"),
            expr(sq.format("embedding")).as("norm2"))
          .groupBy(col("label"))
          .agg(
            count(lit(1)).as("n"),
            min(col("sz")).as("dim"),
            round(sum(floor(sqrt(col("norm2")) * lit(1e6) + lit(0.5)).cast("long")).cast("double")
              / count(lit(1)) / lit(1e6), 4).as("avg_norm"))
          .orderBy(col("label"))
    },

    DeclaredQuery("j3_embedding_centroids",
      """SELECT label, pos,
        |       ROUND(CAST(SUM(CAST(FLOOR(x*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/COUNT(*)/1e6, 5) AS centroid
        |FROM (SELECT label, t.pos AS pos, CAST(embedding[t.pos+1] AS DOUBLE) AS x
        |      FROM embeddings, range(0,8) t(pos)) q
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin) {
      (s, dir) =>
        Tables.table(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "xf")))
          .filter(col("pos") < 8)
          .select(col("label"), col("pos").cast("long").as("pos"), col("xf").cast("double").as("x"))
          .groupBy(col("label"), col("pos"))
          .agg(round(sum(floor(col("x") * lit(1e6) + lit(0.5)).cast("long")).cast("double")
            / count(lit(1)) / lit(1e6), 5).as("centroid"))
          .orderBy(col("label"), col("pos"))
    },

    DeclaredQuery("v1_vector_knn",
      s"""SELECT a.vec_id, ROUND(${duckDot("a.embedding", "q.q_emb")} /
         |       (SQRT(${duckSq("q.q_emb")}) * SQRT(${duckSq("a.embedding")})), 6) AS cos_sim
         |FROM embeddings a,
         |     (SELECT embedding AS q_emb FROM embeddings WHERE vec_id=0) q
         |WHERE a.vec_id <> 0
         |ORDER BY cos_sim DESC, a.vec_id LIMIT 10""".stripMargin) {
      (s, dir) =>
        // dot via the native codegen expression (graft.functions
        // .FloatDotProduct) — same left-to-right double fold as the
        // declarative aggregate/zip_with form, hash-identical results
        graft.functions.FloatDotProduct.register(s)
        val em = Tables.table(s, dir, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
        em.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(expr("graft_dot(q_emb, embedding)") /
              (sqrt(expr(sq.format("q_emb"))) * sqrt(expr(sq.format("embedding")))), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
    },

    // FILTERED vector search — the production ANN problem v1 deliberately
    // is not: top-k under a metadata predicate (here label = 3). The right
    // Spark shape is PRE-filtering: the predicate sits before the distance
    // projection, reaches the parquet scan as a pushed filter (plan-guarded
    // in ExplainPlanTest), and the top-k runs over exactly the matching
    // rows — never the post-filter-a-global-top-k shape that under-fills
    // when the filter is selective. At 100 TB the same predicate composes
    // with the IVF route (filter inside each probed list's scan); the
    // exact form here is the recall-1.0 baseline that path is judged by.
    DeclaredQuery("v13_filtered_knn",
      s"""SELECT a.vec_id, ROUND(${duckDot("a.embedding", "q.q_emb")} /
         |       (SQRT(${duckSq("q.q_emb")}) * SQRT(${duckSq("a.embedding")})), 6) AS cos_sim
         |FROM embeddings a,
         |     (SELECT embedding AS q_emb FROM embeddings WHERE vec_id=0) q
         |WHERE a.vec_id <> 0 AND a.label = 3
         |ORDER BY cos_sim DESC, a.vec_id LIMIT 10""".stripMargin) {
      (s, dir) =>
        graft.functions.FloatDotProduct.register(s)
        val em = Tables.table(s, dir, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
        em.filter(col("vec_id") =!= 0 && col("label") === 3)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            round(expr("graft_dot(q_emb, embedding)") /
              (sqrt(expr(sq.format("q_emb"))) * sqrt(expr(sq.format("embedding")))), 6).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
    },

    DeclaredQuery("v2_near_dup_vectors",
      s"""SELECT a.vec_id AS id1, b.vec_id AS id2,
         |       ROUND(${duckDot("a.embedding", "b.embedding")} /
         |       (SQRT(${duckSq("a.embedding")}) * SQRT(${duckSq("b.embedding")})), 6) AS cos_sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ROUND(${duckDot("a.embedding", "b.embedding")} /
         |      (SQRT(${duckSq("a.embedding")}) * SQRT(${duckSq("b.embedding")})), 6) >= 0.9
         |ORDER BY cos_sim DESC, id1, id2 LIMIT 100""".stripMargin) {
      (s, dir) =>
        graft.operators.VectorOps.cosineSelfJoin(
          Tables.table(s, dir, "embeddings"), "vec_id", "embedding", 0.9)
          .orderBy(col("cos_sim").desc, col("id1"), col("id2"))
          .limit(100)
    },

    DeclaredQuery("d1_doc_dedup",
      """SELECT COUNT(*) AS n_docs,
        |       COUNT(DISTINCT text) AS n_raw,
        |       COUNT(DISTINCT LOWER(TRIM(regexp_replace(text, ' +', ' ', 'g')))) AS n_norm,
        |       COUNT(DISTINCT MD5(LOWER(TRIM(regexp_replace(text, ' +', ' ', 'g'))))) AS n_hash
        |FROM documents""".stripMargin) {
      (s, dir) =>
        val norm = lower(trim(regexp_replace(col("text"), " +", " ")))
        Tables.table(s, dir, "documents")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("text")).as("n_raw"),
            countDistinct(norm).as("n_norm"),
            countDistinct(md5(norm)).as("n_hash"))
    },

    DeclaredQuery("d2_token_top20",
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |WHERE tok <> '' GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin) {
      (s, dir) =>
        Tables.docTokens(s, dir)
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok"))
          .limit(20)
    },

    DeclaredQuery("d3_jaccard_pairs",
      """WITH toks AS (SELECT DISTINCT doc_id, lang, tok
        |              FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents) u
        |              WHERE tok <> ''),
        |     sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |     inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.lang AS lang, COUNT(*) AS i
        |               FROM toks a JOIN toks b ON a.tok=b.tok AND a.lang=b.lang
        |                                       AND a.doc_id < b.doc_id
        |               GROUP BY a.doc_id, b.doc_id, a.lang)
        |SELECT d1, d2, lang, ROUND(CAST(i AS DOUBLE) / (s1.c + s2.c - i), 6) AS jaccard
        |FROM inter JOIN sizes s1 ON s1.doc_id=d1 JOIN sizes s2 ON s2.doc_id=d2
        |WHERE 5*i >= 3*(s1.c + s2.c - i)
        |ORDER BY ROUND(CAST(i AS DOUBLE)/(s1.c+s2.c-i),6) DESC, d1, d2 LIMIT 100""".stripMargin) {
      (s, dir) => graft.operators.DocSimilarity.nearDupPairs(s, dir)
        .orderBy(col("jaccard").desc, col("d1"), col("d2"))
        .limit(100)
    },

    DeclaredQuery("d3b_near_dup_count",
      """WITH toks AS (SELECT DISTINCT doc_id, lang, tok
        |              FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents) u
        |              WHERE tok <> ''),
        |     sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |     inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |               FROM toks a JOIN toks b ON a.tok=b.tok AND a.lang=b.lang
        |                                       AND a.doc_id < b.doc_id
        |               GROUP BY a.doc_id, b.doc_id)
        |SELECT COUNT(*) AS n_pairs
        |FROM inter JOIN sizes s1 ON s1.doc_id=d1 JOIN sizes s2 ON s2.doc_id=d2
        |WHERE 5*i >= 3*(s1.c + s2.c - i)""".stripMargin) {
      (s, dir) => graft.operators.DocSimilarity.nearDupPairs(s, dir)
        .agg(count(lit(1)).as("n_pairs"))
    },

    DeclaredQuery("d4_lang_stats",
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       ROUND(CAST(SUM(n_chars) AS DOUBLE)/COUNT(*),3) AS avg_chars,
        |       CAST(SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch,
        |       COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, dir) =>
        Tables.table(s, dir, "documents")
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            round(sum(col("n_chars")).cast("double") / count(lit(1)), 3).as("avg_chars"),
            sum(when(col("n_chars") =!= length(col("text")), 1).otherwise(0)).cast("long").as("n_len_mismatch"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy(col("lang"))
    },

    // Benchmark decontamination (word 3-gram overlap vs a benchmark doc set,
    // here doc_id % 50 = 0): the Bloom-prefiltered broadcast join — the
    // corpus side never shuffles; the Bloom layer is exact-safe (false
    // positives die in the exact join, equivalence asserted in
    // DecontaminateTest).
    DeclaredQuery("d5_decontaminate",
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |              FROM documents),
        |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)-1),
        |               i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        |       FROM toks WHERE len(ts) >= 3),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0)
        |SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_hits
        |FROM sh s JOIN bench b ON s.shingle = b.shingle
        |WHERE s.doc_id % 50 <> 0
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin) {
      (s, dir) =>
        // r13: the hit list is the shared memoized frame (Tables
        // .decontamHits — p24's funnel consumes the identical frame); the
        // per-call shingle explode + Bloom-filter build job run once per
        // session instead of once per query invocation.
        Tables.decontamHits(s, dir).orderBy(col("doc_id"))
    },

    // Containment (overlap-vs-left) similarity: ORDERED pairs where ≥ 90%
    // of d1's token set appears in d2 — the subset-duplicate predicate
    // (quoted/boilerplate-wrapped copies that plain Jaccard misses). Same
    // measured-vocab strategy chooser as d3; prefix filter applies to the
    // contained side only.
    DeclaredQuery("d7_containment",
      """WITH toks AS (SELECT DISTINCT doc_id, lang, tok
        |              FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents) u
        |              WHERE tok <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, a.lang AS lang, COUNT(*) AS i
        |          FROM toks a JOIN toks b ON a.tok=b.tok AND a.lang=b.lang
        |                                  AND a.doc_id <> b.doc_id
        |          GROUP BY a.doc_id, b.doc_id, a.lang)
        |SELECT d1, d2, lang, ROUND(CAST(i AS DOUBLE)/s1.c, 6) AS containment
        |FROM inter JOIN sizes s1 ON s1.doc_id=d1
        |WHERE 10*i >= 9*s1.c
        |ORDER BY ROUND(CAST(i AS DOUBLE)/s1.c,6) DESC, d1, d2 LIMIT 100""".stripMargin) {
      (s, dir) =>
        graft.operators.DocSimilarity.containmentNearDups(s, dir)
          .orderBy(col("containment").desc, col("d1"), col("d2"))
          .limit(100)
    },

    // Near-dup pairs → dedup GROUPS: connected components by distributed
    // min-label propagation; group id = min doc_id (deterministic canonical
    // representative). The oracle closes the same edge set with a recursive
    // CTE.
    DeclaredQuery("d6_dedup_groups",
      """WITH RECURSIVE
        |toks AS (SELECT DISTINCT doc_id, lang, tok
        |         FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents) u
        |         WHERE tok <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |          FROM toks a JOIN toks b ON a.tok=b.tok AND a.lang=b.lang
        |                                  AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |pairs AS (SELECT d1, d2 FROM inter JOIN sizes s1 ON s1.doc_id=d1
        |          JOIN sizes s2 ON s2.doc_id=d2
        |          WHERE 5*i >= 3*(s1.c + s2.c - i)),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (SELECT a, b FROM edges
        |                UNION
        |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |                WHERE e.b <> r.a),
        |comp AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS group_id FROM reach GROUP BY a)
        |SELECT group_id, COUNT(*) AS n_docs FROM comp
        |GROUP BY group_id ORDER BY group_id""".stripMargin) {
      (s, dir) =>
        graft.operators.Components.dedupGroups(
            graft.operators.DocSimilarity.nearDupPairs(s, dir),
            cacheKey = Some(s"$dir#neardup"))
          .orderBy(col("group_id"))
    },

    // Cross-document duplicated-SPAN detection (operators.SpanDedup — the
    // n-gram form of Lee et al.'s exact substring dedup): fraction of each
    // document's 8-token shingle positions whose shingle recurs in another
    // document. The operator shuffles 64-bit gram hashes, never strings;
    // the oracle joins the gram text directly — identical counts.
    DeclaredQuery("d8_span_dedup",
      """WITH l AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-6),
        |             i -> array_to_string(toks[i:i+7], ' '))) AS gram FROM l),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |       CAST(COUNT(dup.gram) AS BIGINT) AS n_dup,
        |       ROUND(CAST(COUNT(dup.gram) AS DOUBLE)/COUNT(*), 6) AS dup_ratio
        |FROM g LEFT JOIN dup ON g.gram = dup.gram
        |GROUP BY g.doc_id
        |ORDER BY ROUND(CAST(COUNT(dup.gram) AS DOUBLE)/COUNT(*), 6) DESC, g.doc_id
        |LIMIT 20""".stripMargin) {
      (s, dir) =>
        graft.operators.SpanDedup.dupSpanStats(
            Tables.table(s, dir, "documents"), "text", k = 8)
          .orderBy(col("dup_ratio").desc, col("doc_id"))
          .limit(20)
    },

    // Embedding-space outlier detection: cosine distance of every vector to
    // its LABEL's centroid, in LONG FORM (one row per vector element) — the
    // layout that survives any dimension/row-count scale-up: elementwise
    // centroid = one groupBy(label, i), dot/norms = one more groupBy after a
    // broadcast join on (label, i). No fat-array UDAF in the hot path.
    DeclaredQuery("v3_centroid_outliers",
      """WITH lf AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS v
        |            FROM embeddings, range(1,65) t(i)),
        |c AS (SELECT label, i, AVG(v) AS cv FROM lf GROUP BY label, i),
        |a AS (SELECT vec_id, lf.label, SUM(v*cv) AS dot, SUM(v*v) AS n2e, SUM(cv*cv) AS n2c
        |      FROM lf JOIN c ON c.label = lf.label AND c.i = lf.i
        |      GROUP BY vec_id, lf.label)
        |SELECT vec_id, label, ROUND(1 - dot/(SQRT(n2e)*SQRT(n2c)), 6) AS cos_dist
        |FROM a ORDER BY cos_dist DESC, vec_id LIMIT 10""".stripMargin) {
      (s, dir) =>
        val long = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("i", "v0")))
          .select(col("vec_id"), col("label"), col("i"), col("v0").cast("double").as("v"))
        val cent = long.groupBy(col("label"), col("i")).agg(avg(col("v")).as("cv"))
        long.join(broadcast(cent), Seq("label", "i"))
          .groupBy(col("vec_id"), col("label"))
          .agg(sum(col("v") * col("cv")).as("dot"),
            sum(col("v") * col("v")).as("n2e"),
            sum(col("cv") * col("cv")).as("n2c"))
          .select(col("vec_id"), col("label"),
            round(lit(1) - col("dot") / (sqrt(col("n2e")) * sqrt(col("n2c"))), 6).as("cos_dist"))
          .orderBy(col("cos_dist").desc, col("vec_id"))
          .limit(10)
    },

    // v2's 100 TB scale path made concrete: approximate most-similar vector
    // pairs via L independent random-projection LSH tables (bucket
    // equi-joins over slim signature rows, never n²/2 vector pairs), exact
    // cosine refine on deduped candidates — every emitted similarity is
    // exact; only the candidate set is approximate. On planted near-dups
    // the ≥0.9 filter has recall ≥ 0.8 with precision 1 (SketchesTest).
    // Randomized (seeded) → oracle-exempt.
    DeclaredQuery.noOracle("v4_lsh_top_pairs") {
      (s, dir) =>
        graft.operators.Sketches
          .lshRefinedPairs(Tables.table(s, dir, "embeddings"), cacheKey = Some(dir))
          .orderBy(col("cos_sim").desc, col("id1"), col("id2"))
          .limit(100)
    },

    // PQ-ANN: product quantization + ADC scan (Jégou et al. TPAMI'11) —
    // the memory-bound ANN scale path. Vectors compress to m=16 one-byte
    // codes; the query scans codes with m table lookups per vector (no
    // float math), exact cosine re-ranks only the bounded shortlist.
    // Randomized (seeded k-means codebooks) → oracle-exempt; recall ≥ 0.7
    // vs exact v1 proven in SketchesTest.
    DeclaredQuery.noOracle("v5_pq_ann") {
      (s, dir) =>
        graft.operators.Sketches.annPqKnn(s, dir, queryId = 0L, k = 10)
    },

    // SQ8 scalar-quantized ANN — the remaining faiss index-family member
    // (Flat/LSH/IVF/PQ/IVFPQ/Hamming are v1/v4/p9/v5/v9/v8): per-dim
    // uint8 quantization against corpus-trained [lo,hi] bounds (the "fit"
    // is ONE min/max aggregation — no k-means, no seeds, deterministic),
    // asymmetric dequantized-dot shortlist, exact cosine re-rank. 1 byte
    // per dim = 4x compression under float32, finer than PQ's codes.
    // Oracle-exempt: deterministic but the quantization grid is engine-
    // side float arithmetic no SQL oracle reproduces; recall >= 0.8 vs
    // exact v1, determinism, and exact-rerank parity in SketchesTest.
    DeclaredQuery.noOracle("v12_sq_ann") {
      (s, dir) =>
        graft.operators.Sketches.annSqKnn(s, dir, queryId = 0L, k = 10)
    },

    // Centroid similarity MATRIX — pairwise cosine between the per-label
    // mean vectors (cluster-overlap / class-confusion signal). Centroids
    // are kept as EXACT integer micro-sums: cosine is scale-invariant, so
    // cos(mean_a, mean_b) == cos(sum_a, sum_b) and the 1/n normalizations
    // cancel — no float centroid materializes at all. Products accumulate
    // in decimal(38,0) (DuckDB promotes to HUGEINT; 64-bit would wrap at
    // larger SFs). The only big work is one map-side-combined groupBy of
    // the posexploded scan (shuffle = labels×64 rows); the pairwise join
    // runs on a labels×64 frame — trivially broadcastable.
    DeclaredQuery("v6_centroid_similarity",
      """WITH s AS (SELECT label, t.pos AS pos,
        |                  CAST(SUM(CAST(FLOOR(CAST(embedding[t.pos+1] AS DOUBLE)*1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sv
        |           FROM embeddings, range(0,64) t(pos)
        |           GROUP BY label, t.pos),
        |nrm AS (SELECT label, CAST(SUM(CAST(sv AS HUGEINT)*sv) AS DOUBLE) AS n2 FROM s GROUP BY label),
        |dots AS (SELECT a.label AS l1, b.label AS l2,
        |                CAST(SUM(CAST(a.sv AS HUGEINT)*b.sv) AS DOUBLE) AS dot
        |         FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
        |         GROUP BY a.label, b.label)
        |SELECT CAST(d.l1 AS BIGINT) AS l1, CAST(d.l2 AS BIGINT) AS l2,
        |       ROUND(d.dot/(SQRT(x.n2)*SQRT(y.n2)), 6) AS cos_sim
        |FROM dots d JOIN nrm x ON d.l1 = x.label JOIN nrm y ON d.l2 = y.label
        |ORDER BY l1, l2""".stripMargin) {
      (s, dir) =>
        // r13 (guide §2.4/§5): `sums` feeds FOUR consumers (both sides of
        // the pos join and both norm lookups) and the planner re-ran the
        // full scan+posexplode+agg subtree for each. It is labels×64 rows —
        // tiny — so materialize it once via localCheckpoint; the four
        // consumers now read the checkpointed rows (4 embedding scans → 1,
        // plan-checked in plans/r13/v6_*_after.txt). The BUILD frame is
        // exposed (v6SumsBuild) so ExplainPlanTest pins its own shape.
        val sums = v6SumsBuild(s, dir).snap()
        val nrm = sums.groupBy(col("label"))
          .agg(sum(col("svd") * col("sv")).cast("double").as("n2"))
        val a = sums.select(col("label").as("l1"), col("pos"), col("svd").as("sv1"))
        val b = sums.select(col("label").as("l2"), col("pos").as("pos2"), col("sv").as("sv2"))
        val dots = a.join(b, col("pos") === col("pos2") && col("l1") < col("l2"))
          .groupBy(col("l1"), col("l2"))
          .agg(sum(col("sv1") * col("sv2")).cast("double").as("dot"))
        val nx = nrm.select(col("label").as("lx"), col("n2").as("n2x"))
        val ny = nrm.select(col("label").as("ly"), col("n2").as("n2y"))
        dots.join(broadcast(nx), col("l1") === col("lx"))
          .join(broadcast(ny), col("l2") === col("ly"))
          .select(col("l1").cast("long").as("l1"), col("l2").cast("long").as("l2"),
            round(col("dot") / (sqrt(col("n2x")) * sqrt(col("n2y"))), 6).as("cos_sim"))
          .orderBy(col("l1"), col("l2"))
    },

    // MMR-diversified retrieval (Carbonell & Goldstein SIGIR'98): v1's
    // query, but the top-10 is re-ranked for DIVERSITY — each pick trades
    // query relevance against similarity to the already-picked set
    // (λ=0.7). The distributed stage produces the bounded top-50 shortlist
    // (TakeOrdered on the codegen dot — same plan as v1); the inherently
    // sequential greedy loop then runs over those 50 rows on the driver
    // (the standard retrieve-then-rerank split — shortlist size is capped
    // by the operator, never data-sized). Oracle-exempt (greedy argmax is
    // not SQL-expressible); OperatorsTest proves ≡ a naive re-implementation,
    // first-pick ≡ v1's top-1, and rerank ⊂ shortlist.
    DeclaredQuery.noOracle("v7_mmr_rerank") {
      (s, dir) =>
        graft.functions.FloatDotProduct.register(s)
        val em = Tables.table(s, dir, "embeddings")
        val q = em.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
        // embeddings are unit-norm (FIXTURES.md) → dot IS cosine relevance.
        // INVARIANT: the driver-side greedy below is bounded by THIS cap —
        // shortlist (50) must stay a small constant multiple of k (10); if
        // k or the shortlist ever becomes a parameter, scale the cap with
        // it or move the greedy back into the distributed path.
        val shortlist = em.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("embedding"),
            expr("graft_dot(q_emb, embedding)").as("rel"))
          .orderBy(col("rel").desc, col("vec_id"))
          .limit(50)
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
          .toSeq
        val picked = graft.operators.VectorOps.mmrGreedy(shortlist, 10, 0.7)
        import s.implicits._
        picked.map { case (rank, id, sc) =>
          (rank.toLong, id, BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toDF("rank", "vec_id", "mmr_score")
    },

    // Near-dup GRAPH degree histogram: how many docs have 0, 1, 2, …
    // near-duplicate partners — the connectivity diagnosis that decides
    // between pairwise dedup (degrees ≈ 1) and component collapse (hub
    // degrees). Reuses the SAME memoized pair set as d3/d6/d9; zero-degree
    // docs enter via a LEFT join from the corpus.
    DeclaredQuery("d12_dup_degree_histogram",
      """WITH toks AS (SELECT DISTINCT doc_id, lang, tok
        |              FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok
        |                    FROM documents) u WHERE tok <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |          FROM toks a JOIN toks b ON a.tok=b.tok AND a.lang=b.lang
        |                                  AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |pairs AS (SELECT d1, d2 FROM inter JOIN sizes s1 ON s1.doc_id=d1
        |          JOIN sizes s2 ON s2.doc_id=d2
        |          WHERE 5*i >= 3*(s1.c + s2.c - i)),
        |edges AS (SELECT d1 AS a FROM pairs UNION ALL SELECT d2 FROM pairs),
        |deg AS (SELECT d.doc_id, CAST(COALESCE(e.n, 0) AS BIGINT) AS degree
        |        FROM documents d LEFT JOIN
        |             (SELECT a, COUNT(*) AS n FROM edges GROUP BY a) e
        |        ON d.doc_id = e.a)
        |SELECT degree, COUNT(*) AS n_docs
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin) {
      (s, dir) =>
        val pairs = graft.operators.DocSimilarity.nearDupPairs(s, dir)
        val deg = pairs.select(col("d1").as("a"))
          .unionAll(pairs.select(col("d2").as("a")))
          .groupBy(col("a")).agg(count(lit(1)).as("n"))
        Tables.table(s, dir, "documents").select(col("doc_id"))
          .join(deg, col("doc_id") === col("a"), "left_outer")
          .select(coalesce(col("n"), lit(0L)).as("degree"))
          .groupBy(col("degree"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("degree"))
    },

    // Cross-SOURCE duplication flow matrix: near-dup pairs bucketed by the
    // (unordered) source pair of their endpoints — the provenance diagnosis
    // behind source-level dedup policy (which feeds copy which; how much
    // a crawl overlaps a curated set). Reuses the SAME memoized pair set as
    // d3/d6/d9/d12; two hash joins against the slim (doc_id, source) map,
    // then a bounded sources² rollup.
    DeclaredQuery("d13_cross_source_dups",
      """WITH toks AS (SELECT DISTINCT doc_id, lang, tok
        |              FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok
        |                    FROM documents) u WHERE tok <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |          FROM toks a JOIN toks b ON a.tok=b.tok AND a.lang=b.lang
        |                                  AND a.doc_id < b.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |nd AS (SELECT d1, d2 FROM inter JOIN sizes s1 ON s1.doc_id=d1
        |       JOIN sizes s2 ON s2.doc_id=d2
        |       WHERE 5*i >= 3*(s1.c + s2.c - i)),
        |sp AS (SELECT LEAST(da.source, db.source) AS source_a,
        |              GREATEST(da.source, db.source) AS source_b
        |       FROM nd JOIN documents da ON da.doc_id = nd.d1
        |               JOIN documents db ON db.doc_id = nd.d2)
        |SELECT source_a, source_b, COUNT(*) AS n_pairs
        |FROM sp GROUP BY source_a, source_b
        |ORDER BY n_pairs DESC, source_a, source_b""".stripMargin) {
      (s, dir) =>
        val src = Tables.table(s, dir, "documents").select(col("doc_id"), col("source"))
        graft.operators.DocSimilarity.nearDupPairs(s, dir)
          .join(src.select(col("doc_id").as("d1"), col("source").as("s1")), "d1")
          .join(src.select(col("doc_id").as("d2"), col("source").as("s2")), "d2")
          .select(least(col("s1"), col("s2")).as("source_a"),
            greatest(col("s1"), col("s2")).as("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("source_a"), col("source_b"))
    },

    // Incremental-ingestion dedup gate: admit each NEW-batch document
    // (source ∉ the existing-corpus roster) only if it has no near-dup
    // (Jaccard ≥ 0.6) in the EXISTING corpus — the continuous-ingestion
    // counterpart of d3's one-shot dedup. The operator enumerates only
    // CROSS pairs (corpus = index side, batch = probe side; old×old and
    // new×new pair spaces never exist), so at 100 TB probe cost tracks the
    // daily batch, not the corpus. Output: per new-batch source, admit /
    // reject counts plus an md5 over the ordered rejected ids (so the
    // oracle pins the exact rejection SET, not just its size).
    DeclaredQuery("d14_incremental_dedup",
      """WITH toks AS (SELECT DISTINCT doc_id, lang, tok
        |              FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok
        |                    FROM documents) u WHERE tok <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |olds AS (SELECT doc_id FROM documents
        |         WHERE source IN ('src0','src1','src2','src3','src4',
        |                          'src5','src6','src7','src8','src9')),
        |news AS (SELECT doc_id, source FROM documents
        |         WHERE source NOT IN ('src0','src1','src2','src3','src4',
        |                              'src5','src6','src7','src8','src9')),
        |inter AS (SELECT a.doc_id AS old_id, b.doc_id AS new_id, COUNT(*) AS i
        |          FROM toks a JOIN olds o ON a.doc_id = o.doc_id
        |          JOIN toks b ON a.tok = b.tok AND a.lang = b.lang
        |          JOIN news n ON b.doc_id = n.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |nd AS (SELECT DISTINCT new_id FROM inter
        |       JOIN sizes s1 ON s1.doc_id = old_id
        |       JOIN sizes s2 ON s2.doc_id = new_id
        |       WHERE 5*i >= 3*(s1.c + s2.c - i)),
        |fl AS (SELECT n.doc_id, n.source, nd.new_id IS NOT NULL AS dup
        |       FROM news n LEFT JOIN nd ON n.doc_id = nd.new_id)
        |SELECT source, COUNT(*) AS n_new,
        |       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       CAST(SUM(CASE WHEN dup THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted,
        |       md5(COALESCE(string_agg(CASE WHEN dup THEN doc_id::VARCHAR END,
        |                               ',' ORDER BY doc_id), '')) AS dup_md5
        |FROM fl GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val oldSources = (0 to 9).map(i => s"src$i")
        val pairs = graft.operators.DocSimilarity
          .incrementalNearDups(s, dir, oldSources)
        val dupIds = pairs.select(col("new_id").as("doc_id")).distinct()
          .withColumn("dup", lit(true))
        Tables.table(s, dir, "documents")
          .filter(!col("source").isin(oldSources: _*))
          .select(col("doc_id"), col("source"))
          .join(dupIds, Seq("doc_id"), "left_outer")
          .withColumn("dup", coalesce(col("dup"), lit(false)))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_new"),
            sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"),
            sum(when(col("dup"), 0L).otherwise(1L)).as("n_admitted"),
            md5(concat_ws(",",
              expr("transform(array_sort(collect_list(CASE WHEN dup THEN doc_id END)), x -> CAST(x AS STRING))")))
              .as("dup_md5"))
          .orderBy(col("source"))
    },

    // SemDeDup-shape SEMANTIC dedup (round-8 directive #4) — the missing
    // member of the dedup family: d1 is exact, d3/p6 lexical, d8/d11
    // span-level; this is embedding-space near-dup removal, the standard
    // LLM-curation step for paraphrase/translation duplicates that share no
    // tokens. Clusters come from the SAME build-once IVF coarse quantizer
    // as p9/v9 (no new build); pairs are enumerated ONLY within clusters
    // (list_id equi self-join, plan-guarded — never all-pairs), and each
    // duplicate neighborhood keeps its min-id member. Per-cluster summary
    // with an exact dropped-id checksum. No oracle (seeded k-means
    // clustering); planted-twin parity vs the exact v2 keep-one proven in
    // SketchesTest. The frozen fixture has essentially no semantic dups
    // (max pairwise cosine ≈ 0.51), so the declared threshold 0.5 drops
    // only the fixture's one real near-pair — the realistic shape for an
    // already-curated corpus.
    DeclaredQuery.noOracle("d15_semantic_dedup") {
      (s, dir) => graft.operators.Sketches.semanticDedupSummary(s, dir)
    },

    // d14's ingest gate run END-TO-END through a versioned table
    // (sources.GraftTable): the corpus is snapshot v0 of a real table, the
    // batch arrives as an APPEND commit, the probe reads the manifest
    // CHANGELOG (v0→v1: new files only, corpus never rescanned), and the
    // corpus mask index is keyed by `table@v0` — the snapshot version IS
    // the content fingerprint, so keying costs zero scans and the ingest
    // cannot invalidate it. Same admit/reject semantics and oracle as d14;
    // what this query adds is the production ingest PATH: create → append →
    // changelog-probe → gate, over immutable snapshot files. Reuse-under-
    // append and changelog exactness are proven in GraftTableTest.
    DeclaredQuery("d16_table_ingest_dedup",
      """WITH toks AS (SELECT DISTINCT doc_id, lang, tok
        |              FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok
        |                    FROM documents) u WHERE tok <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |olds AS (SELECT doc_id FROM documents
        |         WHERE source IN ('src0','src1','src2','src3','src4',
        |                          'src5','src6','src7','src8','src9')),
        |news AS (SELECT doc_id, source FROM documents
        |         WHERE source NOT IN ('src0','src1','src2','src3','src4',
        |                              'src5','src6','src7','src8','src9')),
        |inter AS (SELECT a.doc_id AS old_id, b.doc_id AS new_id, COUNT(*) AS i
        |          FROM toks a JOIN olds o ON a.doc_id = o.doc_id
        |          JOIN toks b ON a.tok = b.tok AND a.lang = b.lang
        |          JOIN news n ON b.doc_id = n.doc_id
        |          GROUP BY a.doc_id, b.doc_id),
        |nd AS (SELECT DISTINCT new_id FROM inter
        |       JOIN sizes s1 ON s1.doc_id = old_id
        |       JOIN sizes s2 ON s2.doc_id = new_id
        |       WHERE 5*i >= 3*(s1.c + s2.c - i)),
        |fl AS (SELECT n.doc_id, n.source, nd.new_id IS NOT NULL AS dup
        |       FROM news n LEFT JOIN nd ON n.doc_id = nd.new_id)
        |SELECT source, COUNT(*) AS n_new,
        |       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       CAST(SUM(CASE WHEN dup THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted,
        |       md5(COALESCE(string_agg(CASE WHEN dup THEN doc_id::VARCHAR END,
        |                               ',' ORDER BY doc_id), '')) AS dup_md5
        |FROM fl GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
        val oldSources = (0 to 9).map(i => s"src$i")
        val tdir = docsTable(s, dir, oldSources)
        val pairs = graft.operators.DocSimilarity
          .incrementalNearDupsTable(s, tdir, corpusVersion = 0, batchVersion = 1)
        val dupIds = pairs.select(col("new_id").as("doc_id")).distinct()
          .withColumn("dup", lit(true))
        graft.sources.GraftTable.readChanges(s, tdir, 0, 1)
          .select(col("doc_id"), col("source"))
          .join(dupIds, Seq("doc_id"), "left_outer")
          .withColumn("dup", coalesce(col("dup"), lit(false)))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_new"),
            sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"),
            sum(when(col("dup"), 0L).otherwise(1L)).as("n_admitted"),
            md5(concat_ws(",",
              expr("transform(array_sort(collect_list(CASE WHEN dup THEN doc_id END)), x -> CAST(x AS STRING))")))
              .as("dup_md5"))
          .orderBy(col("source"))
    },

    // d9's keep-one dedup as an IN-PLACE TABLE OPERATION (round-8
    // directive #6 made real): the corpus lives in a versioned table, the
    // non-canonical near-dup group members are REMOVED by a copy-on-write
    // `deleteKeys` commit (anti-join rewrite of only the touched files —
    // never a driver-side id list), and the query reports the surviving
    // corpus per language BY READING THE TABLE HEAD. Same oracle as d9:
    // the delete must land exactly the derived-frame answer, but here
    // time travel still serves the pre-delete corpus and the changelog
    // never re-emits the rewrite — the dedup-end-to-end story (curate in
    // place, stream the arrivals) instead of a per-query derived view.
    DeclaredQuery("d17_table_delete_dedup",
      """WITH RECURSIVE
        |toks AS (SELECT DISTINCT doc_id, lang, tok
        |         FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents) u
        |         WHERE tok <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |          FROM toks a JOIN toks b ON a.tok=b.tok AND a.lang=b.lang
        |                                  AND a.doc_id < b.doc_id
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
        |dropped AS (SELECT doc_id FROM comp WHERE doc_id <> group_id)
        |SELECT d.lang, COUNT(*) AS n_kept,
        |       CAST(SUM(s.c) AS BIGINT) AS kept_distinct_toks
        |FROM documents d JOIN sizes s ON s.doc_id = d.doc_id
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin) {
      (s, dir) =>
        val tdir = dedupedTable(s, dir)
        val sizes = Tables.docTokens(s, dir)
          .select(col("doc_id"), col("lang"), col("tok")).distinct()
          .groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("c"))
        graft.sources.GraftTable.read(s, tdir).select(col("doc_id"))
          .join(sizes, Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"), sum(col("c")).as("kept_distinct_toks"))
          .orderBy(col("lang"))
    },

    // MinHash-LSH INCREMENTAL ingest gate — d14's admission contract
    // (admit a new-batch doc iff no corpus near-dup at Jaccard ≥ 0.6)
    // served by a banded-signature index instead of the bitmap-mask probe:
    // the corpus keeps `bands` longs per doc REGARDLESS of vocabulary (the
    // form that survives an unbounded-vocabulary corpus at 100 TB), the
    // batch probes by (band, bkey, lang) equi-join — cross pairs only —
    // and every candidate is exact-verified over its token sets before a
    // rejection is issued. NO ORACLE (seeded MinHash): recall is
    // probabilistic — P(candidate|J=0.6) ≈ 0.97/pair at k=16/b=8, and
    // sf0.1 measurably misses ~1 borderline pair — so instead of an exact
    // hash gate, SketchesTest proves rejections ⊆ d14's exact rejections
    // (verification kills false positives), recall ≥ 0.95 vs the exact
    // gate, planted-twin catch, and build-once index reuse.
    DeclaredQuery.noOracle("d18_minhash_ingest_gate") {
      (s, dir) =>
        val oldSources = (0 to 9).map(i => s"src$i")
        val dupIds = graft.operators.Sketches
          .minhashIngestGate(s, dir, oldSources)
          .select(col("new_id").as("doc_id")).distinct()
          .withColumn("dup", lit(true))
        Tables.table(s, dir, "documents")
          .filter(!col("source").isin(oldSources: _*))
          .select(col("doc_id"), col("source"))
          .join(dupIds, Seq("doc_id"), "left_outer")
          .withColumn("dup", coalesce(col("dup"), lit(false)))
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_new"),
            sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"),
            sum(when(col("dup"), 0L).otherwise(1L)).as("n_admitted"),
            md5(concat_ws(",",
              expr("transform(array_sort(collect_list(CASE WHEN dup THEN doc_id END)), x -> CAST(x AS STRING))")))
              .as("dup_md5"))
          .orderBy(col("source"))
    },

    // CHANGE DATA FEED audit — the compliance shape of the table layer
    // (Delta CDF semantics re-expressed over the manifest log): v1 is a
    // CDC-enabled hard DELETE of one source (right-to-be-forgotten), v2 a
    // CDC-enabled redaction UPDATE of another (text := '', n_chars := 0),
    // and the query is what the downstream auditor runs — read the feed
    // (GraftTable.readCdc), report per (change_type, lang) the row count,
    // a doc_id xor checksum, and the chars sum (preimages carry original
    // n_chars, postimages the redacted 0 — the feed proves WHAT changed,
    // not just that something did). Deletes ride a write-time sidecar of
    // exactly the changed rows — the minimum any CDC can record — so a
    // consumer index (d14's mask, v10's postings) can stay consistent
    // under deletes without ever rescanning the corpus.
    DeclaredQuery("d19_cdc_purge_feed",
      """WITH feed AS (
        |  SELECT 'delete' AS change_type, lang, doc_id, n_chars
        |  FROM documents WHERE source = 'src3'
        |  UNION ALL
        |  SELECT 'update_preimage', lang, doc_id, n_chars
        |  FROM documents WHERE source = 'src7'
        |  UNION ALL
        |  SELECT 'update_postimage', lang, doc_id, 0
        |  FROM documents WHERE source = 'src7')
        |SELECT change_type, lang, COUNT(*) AS n,
        |       CAST(bit_xor(doc_id) AS BIGINT) AS id_xor,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars_sum
        |FROM feed GROUP BY change_type, lang
        |ORDER BY change_type, lang""".stripMargin) {
      (s, dir) =>
        val tdir = purgedCdcTable(s, dir)
        graft.sources.GraftTable.readCdc(s, tdir, 0, 2)
          .select(col("_change_type").as("change_type"), col("lang"),
            col("doc_id"), col("n_chars"))
          .groupBy(col("change_type"), col("lang"))
          .agg(count(lit(1)).as("n"),
            expr("bit_xor(doc_id)").as("id_xor"),
            sum(col("n_chars")).as("chars_sum"))
          .orderBy(col("change_type"), col("lang"))
    },

    // BM25 top-k retrieval (Robertson/Okapi, k1=1.2 b=0.75) — the classic
    // full-text SEARCH operator the corpus-side pipeline needs for
    // contamination candidate mining and RAG-style lookup: a fixed query
    // set ranks documents by summed per-term BM25 contributions. Scale
    // shape: the ONLY corpus-sized work is the shared token scan (the
    // memoized docTokens frame every d/p query reuses) — the query terms
    // broadcast, so the posting join carries just the matching (doc, term)
    // rows, never the corpus vocabulary; df/idf frames are query-term-sized;
    // per-(doc,term) scores fixed-point to integer MICRO-units ONCE, so the
    // per-(query,doc) sum is an exact BIGINT in any aggregation order, and
    // the final top-5 runs through Rank.topKPerGroup's two-stage bounded
    // heaps (3 query groups never funnel the corpus through 3 reducers).
    // The IEEE score expression is replicated term-for-term in the oracle
    // (§2.7b): all inputs are exact BIGINTs, each engine evaluates the same
    // double expression tree, so the fixed-pointed scores hash-match.
    DeclaredQuery("d20_bm25_topk",
      s"""WITH $bm25AggSql
        |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, bm25_micro FROM (
        |  SELECT query_id, doc_id, bm25_micro,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY bm25_micro DESC, doc_id) AS rk
        |  FROM agg) r
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin) {
      (s, dir) =>
        val agg = bm25Micro(s, dir)
        graft.operators.Rank.topKPerGroup(agg, Seq(col("query_id")),
            Seq(col("bm25_micro").desc, col("doc_id")), 5,
            rankCol = "rk")
          .select(col("query_id"), col("rk"), col("doc_id"), col("bm25_micro"))
          .orderBy(col("query_id"), col("rk"))
    },

    // HYBRID retrieval fusion (Reciprocal Rank Fusion, k=60) — completes
    // the retrieval story: d20's lexical BM25 ranks and the exact-cosine
    // dense ranks (v13's machinery; query embedding = the query's vec_id
    // row) fuse per (query, doc) as Σ floor(1e6/(60+rank)) — exact integer
    // micro-units from integer ranks, so the fused scores are
    // order-independent BIGINTs and hash-match the oracle. Each ranker
    // contributes its top-20 shortlist; absent ranks contribute 0. Scale
    // shape: both rank frames are QUERY-bounded (≤ |q|·20 rows) — the only
    // corpus-sized work is the shared token scan and the dense scoring
    // pass, and the dense side swaps for the IVF route (v14) at 100 TB
    // with the fusion unchanged; the full-outer fusion join and final
    // top-10 never touch the corpus again.
    DeclaredQuery("d21_rrf_fusion",
      s"""WITH $bm25AggSql,
        |lexr AS (SELECT query_id, doc_id, rk FROM (
        |    SELECT query_id, doc_id,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY bm25_micro DESC, doc_id) AS rk
        |    FROM agg) r WHERE rk <= 20),
        |qv AS (SELECT vec_id AS query_id, embedding AS q_emb
        |       FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |den AS (SELECT qv.query_id, a.vec_id AS doc_id,
        |          CAST(FLOOR(${duckDot("a.embedding", "qv.q_emb")} /
        |            (SQRT(${duckSq("qv.q_emb")}) * SQRT(${duckSq("a.embedding")}))
        |            * 1000000 + 0.5) AS BIGINT) AS cos_micro
        |        FROM embeddings a JOIN qv ON a.vec_id <> qv.query_id),
        |denr AS (SELECT query_id, doc_id, rk FROM (
        |    SELECT query_id, doc_id,
        |           row_number() OVER (PARTITION BY query_id
        |                              ORDER BY cos_micro DESC, doc_id) AS rk
        |    FROM den) r WHERE rk <= 20),
        |fus AS (SELECT COALESCE(l.query_id, d.query_id) AS query_id,
        |               COALESCE(l.doc_id, d.doc_id) AS doc_id,
        |               COALESCE(CAST(FLOOR(1000000.0/(60+l.rk)) AS BIGINT), 0)
        |             + COALESCE(CAST(FLOOR(1000000.0/(60+d.rk)) AS BIGINT), 0) AS rrf_micro
        |        FROM lexr l FULL OUTER JOIN denr d
        |          ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
        |SELECT query_id, CAST(rk AS INT) AS rk, doc_id, rrf_micro FROM (
        |  SELECT query_id, doc_id, rrf_micro,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY rrf_micro DESC, doc_id) AS rk
        |  FROM fus) r
        |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin) {
      (s, dir) =>
        graft.functions.FloatDotProduct.register(s)
        val lexr = graft.operators.Rank.topKPerGroup(bm25Micro(s, dir),
            Seq(col("query_id")), Seq(col("bm25_micro").desc, col("doc_id")), 20,
            rankCol = "rk")
          .select(col("query_id"), col("doc_id"), col("rk").as("rk_lex"))
        val em = Tables.table(s, dir, "embeddings")
        // r14: stage the norms — the interpreted `aggregate` HOF norm ran
        // per JOINED row (|corpus|·|q| times); computing each side's norm in
        // a projection BEFORE the join evaluates it once per corpus row /
        // once per query row. Same doubles, same product, same quotient —
        // the IEEE tree is merely staged, so the oracle hash is unchanged.
        val qv = em.filter(col("vec_id").isin(0L, 1L, 2L))
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
            sqrt(expr(sq.format("embedding"))).as("qn"))
        // ranking key in exact fixed-point (floor(x·10⁶+0.5): same IEEE
        // expression tree in both engines — ROUND(x,6) is NOT that; see
        // w9's round-11 boundary finding)
        val den = em
          .select(col("vec_id"), col("embedding"),
            sqrt(expr(sq.format("embedding"))).as("dn"))
          .join(broadcast(qv), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("doc_id"),
            floor(expr("graft_dot(q_emb, embedding)") /
              (col("qn") * col("dn"))
              * lit(1e6) + lit(0.5)).cast("long").as("cos_micro"))
        val denr = graft.operators.Rank.topKPerGroup(den, Seq(col("query_id")),
            Seq(col("cos_micro").desc, col("doc_id")), 20,
            rankCol = "rk")
          .select(col("query_id"), col("doc_id"), col("rk").as("rk_den"))
        def rrf(rk: org.apache.spark.sql.Column) =
          coalesce(floor(lit(1000000.0) / (lit(60) + rk)).cast("long"), lit(0L))
        val fus = lexr.join(denr, Seq("query_id", "doc_id"), "full_outer")
          .select(col("query_id"), col("doc_id"),
            (rrf(col("rk_lex")) + rrf(col("rk_den"))).as("rrf_micro"))
        graft.operators.Rank.topKPerGroup(fus, Seq(col("query_id")),
            Seq(col("rrf_micro").desc, col("doc_id")), 10,
            rankCol = "rk")
          .select(col("query_id"), col("rk"), col("doc_id"), col("rrf_micro"))
          .orderBy(col("query_id"), col("rk"))
    },

    // Exact duplicated-span SURGERY — the removal step d8 only measures
    // (Lee et al. ACL'22 dedup applied to spans): tokens covered by any
    // cross-document 8-gram are cut and the doc is rebuilt from the
    // survivors in order. Fully relational (operators.SpanDedup
    // .spanSurgery): dense positions → gid grams → cross-doc window count →
    // coverage explode → anti join → ordered array_sort reconstruction;
    // output ships md5 of the rebuilt text, not the text.
    DeclaredQuery("d11_span_surgery",
      """WITH l AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts
        |           FROM documents),
        |toks0 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)+1),
        |                 i -> {'pos': i-1, 'tok': ts[i]})) AS s FROM l),
        |toks AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM toks0),
        |grams0 AS (SELECT doc_id, unnest(list_transform(range(1, len(ts)-6),
        |                  i -> {'pos': i-1, 'gram': array_to_string(ts[i:i+7], ' ')})) AS g
        |           FROM l),
        |grams AS (SELECT doc_id, g.pos AS pos, g.gram AS gram FROM grams0),
        |dup AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams) q
        |        GROUP BY gram HAVING COUNT(*) > 1),
        |cov AS (SELECT DISTINCT doc_id, pos FROM (
        |          SELECT g.doc_id, unnest(range(g.pos, g.pos + 8)) AS pos
        |          FROM grams g JOIN dup d ON g.gram = d.gram) q),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c
        |                           WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
        |ka AS (SELECT doc_id, COUNT(*) AS n_kept,
        |              md5(string_agg(tok, ' ' ORDER BY pos)) AS kmd5
        |       FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_total FROM toks GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_total,
        |       CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
        |       COALESCE(ka.kmd5, md5('')) AS kept_md5
        |FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id
        |ORDER BY tot.doc_id""".stripMargin) {
      (s, dir) =>
        graft.operators.SpanDedup.spanSurgery(
            Tables.table(s, dir, "documents"), "text", k = 8)
          .orderBy(col("doc_id"))
    },

    // Higher-order array functions as the DECLARED surface (they power many
    // internals): filter/exists/forall/aggregate over the token array, per
    // doc, with exact integer outputs — the codegen'd per-element lambdas
    // that replace row-exploding UDFs for per-row collection work.
    DeclaredQuery("j5_array_hof",
      """WITH t AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS ts
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(ts, w -> length(w) > 6)) AS BIGINT) AS n_long,
        |  CAST(CASE WHEN list_contains(ts, 'select') THEN 1 ELSE 0 END AS BIGINT) AS has_select,
        |  CAST(CASE WHEN len(list_filter(ts, w -> length(w) > 10)) = 0 THEN 1 ELSE 0 END AS BIGINT) AS all_short,
        |  CAST(list_sum(list_transform(ts, w -> length(w))) AS BIGINT) AS len_sum
        |FROM t ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        Tables.table(s, dir, "documents")
          .select(col("doc_id"),
            expr("filter(split(text, ' '), x -> x <> '')").as("ts"))
          .select(col("doc_id"),
            size(expr("filter(ts, w -> length(w) > 6)")).cast("long").as("n_long"),
            array_contains(col("ts"), "select").cast("long").as("has_select"),
            expr("forall(ts, w -> length(w) <= 10)").cast("long").as("all_short"),
            expr("aggregate(ts, 0L, (s, w) -> s + length(w))").as("len_sum"))
          .orderBy(col("doc_id"))
    },

    // Binary-quantized similarity search (sign quantization + Hamming
    // rerank — the memory end of the ANN spectrum: 64 dims → 8 BYTES/vector
    // vs 256 for float32, distance = two XOR+popcount instructions). The
    // sign bits pack into two 32-bit halves of BIGINTs (bit 63 avoided —
    // DuckDB overflows on 1<<63), packing and Hamming are EXACT integer
    // ops, so unlike LSH/IVF/PQ this approximate index is fully
    // deterministic and oracle-checkable. At 100 TB the packed column is a
    // build-once artifact; the scan is a linear codegen pass, top-k a
    // per-partition heap.
    DeclaredQuery("v8_hamming_knn",
      """WITH p AS (SELECT vec_id,
        |             CAST(list_sum(list_transform(range(0,32),
        |               i -> CASE WHEN embedding[i+1] >= 0 THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS h1,
        |             CAST(list_sum(list_transform(range(0,32),
        |               i -> CASE WHEN embedding[i+33] >= 0 THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS h2
        |           FROM embeddings),
        |q AS (SELECT h1 AS q1, h2 AS q2 FROM p WHERE vec_id = 0)
        |SELECT p.vec_id,
        |       CAST(bit_count(xor(p.h1, q.q1)) + bit_count(xor(p.h2, q.q2)) AS BIGINT) AS hamming
        |FROM p, q WHERE p.vec_id <> 0
        |ORDER BY hamming, p.vec_id LIMIT 10""".stripMargin) {
      (s, dir) =>
        // the packed column is a build-once IndexStore artifact (8
        // bytes/vector) — later sessions load it instead of re-packing
        val p = graft.operators.Sketches.hammingPack(s, dir)._1
        val q = p.filter(col("vec_id") === 0)
          .select(col("h1").as("q1"), col("h2").as("q2"))
        p.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            (expr("bit_count(h1 ^ q1)") + expr("bit_count(h2 ^ q2)"))
              .cast("long").as("hamming"))
          .orderBy(col("hamming"), col("vec_id"))
          .limit(10)
    },

    // Fuzzy dedup END-TO-END — the keep-one step d6 stops short of: every
    // near-dup component keeps only its canonical (min-id) member, and the
    // query reports the surviving corpus per language. Dropping is an
    // ANTI-JOIN against the non-canonical component members (id ≠ comp from
    // the same CC labeling d6 builds on the memoized pair set) — never a
    // driver-side id list.
    DeclaredQuery("d9_dedup_survivors",
      """WITH RECURSIVE
        |toks AS (SELECT DISTINCT doc_id, lang, tok
        |         FROM (SELECT doc_id, lang, unnest(string_split(text,' ')) AS tok FROM documents) u
        |         WHERE tok <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS c FROM toks GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
        |          FROM toks a JOIN toks b ON a.tok=b.tok AND a.lang=b.lang
        |                                  AND a.doc_id < b.doc_id
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
        |dropped AS (SELECT doc_id FROM comp WHERE doc_id <> group_id)
        |SELECT d.lang, COUNT(*) AS n_kept,
        |       CAST(SUM(s.c) AS BIGINT) AS kept_distinct_toks
        |FROM documents d JOIN sizes s ON s.doc_id = d.doc_id
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin) {
      (s, dir) =>
        val labels = graft.operators.Components.connectedComponentsCached(
          graft.operators.DocSimilarity.nearDupPairs(s, dir)
            .select(col("d1").as("a"), col("d2").as("b")),
          cacheKey = s"$dir#neardup", assumeCanonical = true)
        val dropped = labels.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
        val sizes = Tables.docTokens(s, dir)
          .select(col("doc_id"), col("lang"), col("tok")).distinct()
          .groupBy(col("doc_id"), col("lang")).agg(count(lit(1)).as("c"))
        sizes.join(dropped, Seq("doc_id"), "left_anti")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"), sum(col("c")).as("kept_distinct_toks"))
          .orderBy(col("lang"))
    },

    // N-gram NOVELTY per document: the share of a doc's distinct 3-gram
    // shingles that appear in NO other doc (df == 1 after per-doc dedup) —
    // low novelty flags boilerplate/templated text even when no single pair
    // crosses a dedup threshold. One shingle build (shared operator), one
    // distinct, one df aggregation, one co-partitioned rejoin — all shuffles
    // on the shingle key except the final per-doc rollup.
    DeclaredQuery("d10_ngram_novelty",
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        |              FROM documents),
        |sh AS (SELECT DISTINCT doc_id, shingle
        |       FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts)-1),
        |                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
        |             FROM toks WHERE len(ts) >= 3) q),
        |df AS (SELECT shingle, COUNT(*) AS c FROM sh GROUP BY shingle)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |       CAST(SUM(CASE WHEN df.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |       ROUND(CAST(SUM(CASE WHEN df.c = 1 THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*), 6) AS novelty
        |FROM sh JOIN df ON sh.shingle = df.shingle
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin) {
      (s, dir) =>
        // corpus doc-frequency as an UNORDERED window over the distinct
        // (doc, shingle) frame — a LINEAR plan (shingle build → distinct →
        // window → per-doc agg), so the shingle explosion exists once in
        // the plan instead of being duplicated into a self-join's two sides
        val sh = graft.operators.Decontaminate.wordShingles(
            Tables.table(s, dir, "documents").select(col("doc_id"), col("text")), 3)
          .select(col("doc_id"), col("shingle")).distinct()
        val wsh = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
        sh.select(col("doc_id"), count(lit(1)).over(wsh).as("c"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("c") === 1, 1).otherwise(0)).cast("long").as("n_unique"))
          .select(col("doc_id"), col("n_shingles"), col("n_unique"),
            round(col("n_unique").cast("double") / col("n_shingles"), 6).as("novelty"))
          .orderBy(col("doc_id"))
    }
  )

}
