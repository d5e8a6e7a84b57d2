package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Memo
import graft.util.Snap.Ops

/** Connected components over an undirected edge list — the grouping step of
  * near-duplicate deduplication: near-dup PAIRS (from the Jaccard / MinHash
  * / SimHash joins) become dedup GROUPS, each keeping one canonical document
  * (the minimum id, so the choice is deterministic).
  *
  * Algorithm: alternating large-star / small-star contraction (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14 — published
  * method). Each round rewires every vertex's neighbors to the minimum of
  * its closed neighborhood:
  *
  *  - large-star: every neighbor LARGER than u links to min(Γ⁺(u)),
  *  - small-star: every neighbor ≤ u, and u itself, link to min(Γ⁺(u)),
  *
  * implemented as one groupBy (per-vertex neighborhood min) plus one
  * broadcast join (rewire) over the current edge set. Near-dup graphs are
  * DENSE clusters, so the first large-star round collapses each clique to a
  * star and the edge set shrinks from |pairs| to ~|docs| — later rounds are
  * trivial. Convergence is provably O(log² n) rounds on ANY graph (no
  * dependence on component diameter — a naive min-propagation loop pays
  * O(diameter) full-edge passes, which an adversarial path kills), and the
  * converged edge set IS the answer: a star per component rooted at its
  * minimum id. Nothing driver-side except the per-round convergence counter.
  */
object Components {

  /** [[connectedComponents]] snapped and registered under the caller's
    * key — the labeling is a shared derived artifact (d6 group stats and d9
    * keep-one filtering both consume the SAME labels over the same memoized
    * pair set), so a warm session runs the contraction loop once. */
  def connectedComponentsCached(edges: DataFrame, cacheKey: String,
                                maxIter: Int = 30,
                                assumeCanonical: Boolean = false): DataFrame =
    labels(edges, Some(cacheKey), maxIter, assumeCanonical)

  private def labels(edges: DataFrame, cacheKey: Option[String], maxIter: Int,
                     assumeCanonical: Boolean): DataFrame =
    Memo.get(edges.sparkSession, "components", cacheKey, maxIter, assumeCanonical)(
      _.snap(connectedComponents(edges, maxIter, assumeCanonical)))

  /** One contraction round over canonical (u > v) edges: rewire either the
    * larger-than-x neighbors (large-star) or the ≤-x neighbors plus x itself
    * (small-star) to m(x) = min of x's closed neighborhood. The rewire join
    * is deliberately NOT hinted: `mins` is one row per VERTEX, so AQE
    * broadcasts it when small but must be free to shuffle-join a
    * billion-vertex graph (both sides key on x — an equi-join either way). */
  private def round(ge: DataFrame, largeStar: Boolean): DataFrame = {
    val sym = ge.select(col("u").as("x"), col("v").as("y"))
      .union(ge.select(col("v").as("x"), col("u").as("y")))
    val mins = sym.groupBy(col("x")).agg(least(col("x"), min(col("y"))).as("m"))
    val out =
      if (largeStar)
        sym.filter(col("y") > col("x")).join(mins, "x")
          .select(col("y").as("u"), col("m").as("v"))
      else {
        val rew = sym.filter(col("y") < col("x")).join(mins, "x")
        rew.select(col("y").as("u"), col("m").as("v"))
          .union(rew.select(col("x").as("u"), col("m").as("v")))
      }
    out.filter(col("u") =!= col("v")).distinct()
  }

  /** (id, component) for every vertex appearing in `edges` (cols a, b);
    * component = min vertex id reachable. `assumeCanonical` skips the
    * canonicalization shuffle when the caller guarantees distinct edges with
    * a < b (true for the similarity-join outputs). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 30,
                          assumeCanonical: Boolean = false): DataFrame = {
    // canonical undirected form: (u, v) with u > v, self-loops dropped.
    // assumeCanonical inputs come straight off a (typically persisted)
    // similarity-join output — a column swap needs no checkpoint copy; the
    // derived form pays one distinct shuffle and is checkpointed to truncate
    // its lineage before the loop.
    var ge =
      if (assumeCanonical)
        edges.select(col("b").as("u"), col("a").as("v"))
      else
        edges.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
          .filter(col("u") =!= col("v")).distinct().snap()
    var geN = ge.count()
    var iter = 0
    var converged = false
    // Both sides are DISTINCT edge sets, so equal cardinality plus an empty
    // one-directional difference proves set equality — half the exceptAll
    // scans of the symmetric probe, still exact (no hash-sketch shortcuts:
    // a false "converged" would emit a wrong component labeling).
    def same(a: DataFrame, na: Long, b: DataFrame, nb: Long): Boolean =
      na == nb && a.exceptAll(b).isEmpty
    def tdbg[A](label: String)(f: => A): A =
      if (!sys.env.contains("GRAFT_CC_DEBUG")) f
      else { val t0 = System.nanoTime(); val r = f
        println(f"CCDBG $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r }
    while (!converged && iter < maxIter) {
      val mid = tdbg(s"iter$iter-large") { round(ge, largeStar = true)
        .snap() } // truncate lineage — the loop must not build a deep plan
      val midN = mid.count()
      val next = tdbg(s"iter$iter-small") { round(mid, largeStar = false).snap() }
      val nextN = next.count()
      // converged when NEITHER round changes the edge set (the published
      // stopping condition — the graph is then a star per component). After
      // the first large-star the edge set is ~|vertices| rows, so the
      // difference probes are cheap, and the counts come free off the
      // checkpointed frames.
      converged = iter > 0 && same(mid, midN, ge, geN) && same(next, nextN, mid, midN)
      ge = next
      geN = nextN
      iter += 1
    }
    require(converged || iter < maxIter,
      s"connectedComponents did not converge in $maxIter rounds")
    // converged graph is a star per component rooted at the component min
    ge.select(col("u").as("id"), col("v").as("comp"))
      .union(ge.select(col("v").as("id"), col("v").as("comp")))
      .distinct()
  }

  /** Dedup groups from near-dup pairs: (group_id = min doc id in component,
    * n_docs). Singleton documents (no near-dup edge) are not groups.
    * `cacheKey` routes through the memoized labeling. */
  def dedupGroups(pairs: DataFrame, d1: String = "d1", d2: String = "d2",
                  cacheKey: Option[String] = None): DataFrame = {
    // similarity joins emit distinct pairs with d1 < d2 — already canonical
    val edges = pairs.select(col(d1).as("a"), col(d2).as("b"))
    labels(edges, cacheKey, maxIter = 30, assumeCanonical = true)
      .groupBy(col("comp").as("group_id"))
      .agg(count(lit(1)).as("n_docs"))
  }
}
