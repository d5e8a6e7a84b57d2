package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level scale guards: anti-patterns that stay invisible in
  * small-fixture runs but break at cluster scale are banned statically.
  */
class StaticChecksTest extends AnyFunSuite {

  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => (p.toString, new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq
  }

  test("no unpartitioned global window (Window.orderBy without partitionBy) in src/main") {
    // `Window.orderBy(...)` (the static form) sorts the whole input through
    // ONE reducer task — a single-partition global sort that cannot survive
    // 100 TB. Per-key windows must be `Window.partitionBy(...).orderBy(...)`.
    // exemption: an occurrence is allowed ONLY when a
    // `graft:allow-global-window` marker sits within the 8 preceding lines
    // (a provably reduced serial stage — ShardPack's group-offset window
    // runs over corpus/groupSize rows after a map-side-combined rollup,
    // with the bound argument next to the marker). PER-OCCURRENCE, not
    // per-file: a second unannotated global window in an exempted file
    // must still fail.
    val offenders = mainSources.flatMap { case (path, text) =>
      val lines = text.split("\n", -1)
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("Window.orderBy(") &&
          !lines.slice(math.max(0, i - 8), i + 1)
            .exists(_.contains("graft:allow-global-window")) =>
          s"$path:${i + 1}"
      }
    }
    assert(offenders.isEmpty, s"unpartitioned global windows in: $offenders")
  }

  test("no rdd.collect() on unbounded data in src/main (bounded collects are annotated)") {
    // Driver-side collects are only allowed on provably bounded rows (top-k
    // seeds, <=64-token vocab, nlist centroids, 1-row query lookups, STR
    // per-slab quantile cuts / nx·ny tile summaries, m×k PQ codebook
    // artifact loads, the v7 MMR top-50 rerank shortlist, the tiled
    // kNN join's nx·ny tile summaries + per-tile radii, the two
    // cross-corpus jaccard vocab probes capped at MaxMaskVocab+1 rows,
    // buildIvfIndexOver's nlist-row centers artifact load,
    // GraftTable.commit's per-file manifest stats — one row per data FILE
    // of the commit, not per data row — the shared touchedSplit/touchedSplitKeys
    // probes behind delete/deleteKeys/upsert/updateWhere — likewise one
    // row per matching data FILE, the
    // CDC sidecar writer's per-file row counts (one row per sidecar FILE
    // of the commit), cdcMirrorInto's per-batch source-version list (one
    // row per source COMMIT in the micro-batch), the SQL MERGE
    // duplicate-source-key refusal probe (limit(1) — at most one row), and
    // buildSqIndex's two dim-row collects: the per-dimension [lo,hi]
    // bounds aggregation and its artifact reload — 64 rows each,
    // compact(zorderBy)'s one-row per-column mins aggregate, t27's
    // expanding-box kNN probe — ≤k rows per step, O(log domain) steps —
    // Bpe.train's two per-round collects: the ≤4·M-row ranked-pair batch
    // and the one-scalar symbol count, ⌈K/M⌉ bounded rounds — ScaleSmoke's
    // bpe-mode 3-row merge-table collect, a diagnostic main —
    // Sketches.embeddingDimOf's 1-row dim probe (memoized per dir) —
    // RrfIncremental.freeze's four QUERY-bounded collects (one corpus-total
    // scalar, |terms| df rows, |q| query embeddings, |q|·20 top-list rows)
    // — ScaleSmoke's fence-mode 100-row per-fence count collect, a
    // diagnostic main asserting the ×k exactness invariant — and
    // ShardPack.appendAssign's two 1-row collects (the table token-carry
    // aggregate and the batch min-doc_id append-order guard) — and
    // GeofenceJoin.derivePitch's 1-row fence-extent aggregate (the cell
    // pitch of the broadcast-side blocking grid) — JsonDocs
    // .bm25QueryConsts' ≤|query terms|-row constants collect (memoized per
    // session+dir; replayed as the d20/d21 broadcast LocalRelation) — and
    // Probe's MaxMaskVocab+1-bounded vocabulary collect (d12cold — a
    // diagnostic main, never on a query path).
    // Each allowed site must mention its bound nearby; this guard just
    // keeps the count from silently growing.
    val n = mainSources.map(_._2.sliding("collect()".length).count(_ == "collect()")).sum
    assert(n <= 41, s"collect() call count grew to $n — audit new driver-side collects")
  }

  test("every checkpoint in src/main goes through util/Snap") {
    // Snap switches to a reliable checkpoint under a checkpoint dir and its
    // release frees either kind; a direct call bypasses both
    val offenders = mainSources.filterNot(_._1.endsWith("util/Snap.scala")).flatMap {
      case (path, text) =>
        text.split("\n", -1).zipWithIndex.collect {
          case (l, i) if l.contains("localCheckpoint(") || l.contains(".checkpoint(") =>
            s"$path:${i + 1}"
        }
    }
    assert(offenders.isEmpty, s"checkpoints outside Snap in: $offenders")
  }

  test("no boxed Scala UDF wraps a trajectory metric kernel in src/main") {
    // A UDF over Seq[Double] boxes every coordinate of every pair; the
    // metric kernels are reached through graft.functions.MetricCol's
    // static calls instead. Flags any `udf(` / `udf {` with a `Metrics.`
    // call on its line or the 8 lines after it.
    val offenders = mainSources.flatMap { case (path, text) =>
      val lines = text.split("\n", -1)
      lines.zipWithIndex.collect {
        case (l, i) if (l.contains("udf(") || l.contains("udf {")) &&
          lines.slice(i, i + 9).exists(_.contains("Metrics.")) =>
          s"$path:${i + 1}"
      }
    }
    assert(offenders.isEmpty, s"boxed metric UDFs in: $offenders")
  }
}
