package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions (SURVEY §4.2): the declared queries must compile to
  * the physical operators the 100 TB design depends on — pushed filters,
  * broadcast joins for dims, semi/anti joins for EXISTS forms, top-k via
  * TakeOrderedAndProject, and NO cartesian/BNLJ where a blocked equi-join is
  * intended.
  */
class ExplainPlanTest extends AnyFunSuite {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(TestSpark.spark, TestSpark.sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("r1: filter pushed to parquet scan") {
    val p = plan("r1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("v13: the metadata predicate of filtered ANN reaches the parquet scan") {
    val p = plan("v13_filtered_knn")
    // PRE-filter shape: label=3 is pushed to the embeddings scan, so the
    // distance projection and top-k only ever see matching rows (the
    // post-filter-a-global-top-k shape would show no pushed label filter)
    assert(p.contains("EqualTo(label,3)"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("s1/s2: EXISTS forms plan as semi/anti hash joins") {
    assert(plan("s1_cust_with_orders").contains("LeftSemi"))
    assert(plan("s2_cust_without_orders").contains("LeftAnti"))
  }

  test("r7: small filtered dim is broadcast") {
    assert(plan("r7_promo_brand_discount").contains("BroadcastHashJoin"))
  }

  test("r2/t5: top-k plans as TakeOrderedAndProject, not global sort") {
    assert(plan("r2_top_revenue_customers").contains("TakeOrderedAndProject"))
    assert(plan("t5_point_knn").contains("TakeOrderedAndProject"))
  }

  test("t6: grid-blocked distance join is an equi join, not cartesian") {
    val p = plan("t6_distance_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("v2: refine UDF stays OUT of the pair-join condition (bound prunes first)") {
    val p = plan("v2_near_dup_vectors")
    val joinCond = p.linesIterator.filter(_.contains("Join")).mkString("\n")
    // if the asNondeterministic barrier is ever removed, Catalyst pushes the
    // exact-dot UDF into the BNLJ condition and the prune is dead code
    assert(!joinCond.contains("UDF"), joinCond)
  }

  test("t2: exact kernel stays OUT of every join; pair scan carries only the codegen'd bound") {
    // final t2 plan: the Hausdorff UDF may only appear in a projection over
    // bound-filtered survivors, never inside a join
    val p = plan("t2_hausdorff_pairs")
    val joinLines = p.linesIterator.filter(_.contains("Join")).mkString("\n")
    assert(!joinLines.contains("UDF"), joinLines)
    // the pair scan itself (the STR candidate frame): equi-joins on tile
    // ids evaluating the native graft_boxlb expression, no UDF anywhere
    val ta = Tables.trajArrays(TestSpark.spark, TestSpark.sf0001)
    val scan = graft.operators.StrPartition.candidateFrame(ta, 20, "hausdorff")
      .queryExecution.sparkPlan
    val scanPlan = scan.toString
    assert(scanPlan.contains("graft_boxlb"), scanPlan)
    assert(!scanPlan.contains("UDF"), scanPlan)
    // the joined pair rows carry (row id, user_id, tile, boxes) only —
    // coordinate arrays stay out of the quadratic scan
    val joins = scan.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.nonEmpty, scanPlan)
    for (j <- joins)
      assert(!j.output.exists(a => a.name.startsWith("xs") || a.name.startsWith("ys")),
        s"coordinate arrays in a pair-scan join: ${j.output}\n$scanPlan")
  }

  test("r13: correlated-aggregate filter plans as one window, no self-join") {
    val p = plan("r13_above_cust_avg")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), "window form must not self-join\n" + p)
  }

  test("e6: stream-stream batch form keys the interval join on user (no BNLJ)") {
    val p = plan("e6_stream_stream_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s5: grouping sets lower to a single Expand, not a union of scans") {
    val p = plan("s5_grouping_sets")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Union"), p)
  }

  test("d3: mask-path near-dup join has no token-level shuffle join") {
    val p = plan("d3_jaccard_pairs")
    // the pair join keys on lang with mask residual — a hash/sort-merge join;
    // the inverted-index token join would show a join on tok
    assert(!p.toLowerCase.contains("cartesianproduct"), p)
  }

  test("date-partitioned layout gives partition pruning (SCALE.md layout note)") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Tables.events(spark, TestSpark.sf0001)
      .withColumn("day", expr("CAST(ts_us DIV 86400000000 AS INT)"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("day") === 19725)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    // actually scans only the one partition directory
    val files = pruned.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("day=19725")), files.mkString(","))
  }

  test("bucketed tables: co-located join needs no shuffle exchange (SCALE.md)") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables.table(spark, TestSpark.sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    Tables.table(spark, TestSpark.sf0001, "orders")
      .select($"o_orderkey", $"o_custkey")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
    val joined = spark.table("li_b").join(
      spark.table("ord_b").hint("merge"),
      $"l_orderkey" === $"o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(joined.count() == Tables.table(spark, TestSpark.sf0001, "lineitem").count())
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
  }

  test("r8: range-residual outer join stays a hash join on the equi key") {
    val p = plan("r8_shipped_within_90d")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d5: decontamination joins the corpus by BROADCAST — the big side never sort-merges") {
    val p = plan("d5_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("f7: fuzzy match enumerates via the length-band EQUI-join, never a nested loop") {
    val p = plan("f7_fuzzy_name_match")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin"), p)
  }

  test("d8: span-dedup shuffles the 64-bit gram hashes, not gram strings") {
    val p = plan("d8_span_dedup")
    // every gram exchange keys on the xxhash64 gid; no string-keyed shuffle
    val gramEx = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("gid")).toSeq
    assert(gramEx.nonEmpty, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d9: survivor filter plans as an ANTI join") {
    assert(plan("d9_dedup_survivors").contains("LeftAnti"))
  }

  test("r14: per-part threshold is a pre-aggregation equi-joined back (no nested loop)") {
    val p = plan("r14_small_qty_revenue")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("r19: part filter pushes below the cost aggregation; dims broadcast; no nested loop") {
    val p = plan("r19_cheapest_eu_supplier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // both reductions (blue parts, EU suppliers) reach lineitem as
    // broadcast semi joins BELOW the (partkey, suppkey) aggregation
    assert(p.linesIterator.count(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi")) >= 2, p)
  }

  test("e8: every funnel stage joins and aggregates on the same user_id key (exchange reuse)") {
    val p = plan("e8_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // sequential min-chain: each stage is a hash aggregate keyed on user_id
    assert(p.linesIterator.count(l => l.contains("HashAggregate") && l.contains("user_id")) >= 4, p)
  }

  test("v6: centroid sums materialize ONCE — four consumers share the checkpointed frame") {
    // r13: the labels×64 `sums` frame is localCheckpoint'd at build, so the
    // final plan reads ExistingRDD everywhere and the embeddings scan +
    // posexplode + partial aggregation run exactly once (at checkpoint
    // build — its own plan shape is the map-side combine the pre-r13 guard
    // pinned; the sums frame itself is asserted tiny by construction).
    // Before the checkpoint the planner re-ran that subtree FOUR times
    // (both pos-join sides + both norm lookups: plans/r13/v6_*_before.txt).
    val p = plan("v6_centroid_similarity")
    assert(!p.contains("embeddings.parquet"),
      "embeddings must not be re-scanned by the final plan\n" + p)
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")), p)
    assert(!p.contains("CartesianProduct"), p)
    // r14 (round-13 ADVICE): the BUILD subtree lives behind the checkpoint
    // and the final plan can't show it — pin its shape directly: one
    // embeddings scan, posexplode, and a partial (map-side) aggregation
    // BEFORE the (label, pos) exchange.
    val b = graft.queries.JsonDocs
      .v6SumsBuild(TestSpark.spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(b.linesIterator.count(_.contains("embeddings.parquet")) == 1, b)
    assert(b.contains("Generate posexplode"), b)
    val exIdx = b.linesIterator.indexWhere(_.contains("Exchange hashpartitioning"))
    val partialIdx = b.linesIterator.indexWhere(l =>
      l.contains("HashAggregate") && l.contains("partial_sum"))
    assert(exIdx >= 0 && partialIdx > exIdx, // plans print top-down
      s"map-side combine must sit BELOW the exchange (ex@$exIdx partial@$partialIdx)\n" + b)
  }

  test("p20: vocab log-prob frame broadcasts to the tf join") {
    assert(plan("p20_unigram_lm").contains("BroadcastHashJoin"))
  }

  test("t17: grid rewrite composes with the pos equality (cell keys present, no cartesian)") {
    val p = plan("t17_comovement")
    // RewriteDistanceJoin must fire even though the join already has the
    // user-supplied pos equi key: join keys = (pos, cellx, celly)
    assert(p.contains("_graft_cell_off"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t21 brute half-join build: streamed side fanned to every core before the kernel") {
    // r14: the per-user array table is AQE-coalesced to ~1 partition, so
    // without the explicit repartition the whole |users|²/2 kernel scan ran
    // in ONE task. Pin the u1 fan-out exchange in the BUILD plan (the final
    // t21 plan hides it behind the checkpoint).
    val ta = Tables.trajArrays(TestSpark.spark, TestSpark.sf0001, "purchase")
    val b = graft.operators.TrajectorySearch
      .bruteHalfBuild(ta, "hausdorff", hintBroadcast = true)
      .queryExecution.executedPlan.toString
    assert(b.contains("Exchange hashpartitioning(u1"), b)
    assert(b.contains("MetricKernel.hausdorffBounded"), b)
  }

  test("r21: the fact pass runs once — final plan reads the checkpointed per-part frame") {
    // r13: the semi-joined lineitem aggregation is localCheckpoint'd at
    // build (its own plan carries the broadcast LeftSemi the pre-r13 guard
    // pinned); the global-total broadcast must consume the checkpointed
    // rows, never re-scan lineitem (plans/r13/r21_*_{before,after}.txt:
    // 2 scans → 0, 3 exchanges → 1).
    val p = plan("r21_important_parts")
    assert(!p.contains("lineitem.parquet"),
      "lineitem must not be re-scanned by the final plan\n" + p)
    assert(p.linesIterator.exists(_.contains("Scan ExistingRDD")), p)
    // r14 (round-13 ADVICE): pin the checkpoint-BUILD subtree's own shape —
    // the supplier reduction must reach lineitem as a broadcast LEFT SEMI
    // below the per-part aggregation, with map-side partial aggregation.
    val b = graft.queries.Relational
      .r21ValFBuild(TestSpark.spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(b.contains("BroadcastHashJoin") && b.contains("LeftSemi"), b)
    assert(b.linesIterator.count(_.contains("lineitem.parquet")) == 1, b)
    assert(b.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_sum")), b)
  }

  test("e10: day rollup consumes the reduced hourly frame (two agg levels, one exchange chain)") {
    val p = plan("e10_daily_peak_hour")
    // 2 logical aggregations × partial+final = ≥4 HashAggregates; no join
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 4, p)
    assert(!p.contains("Join"), p)
  }

  test("r15: flag-agg decorrelation scans lineitem ONCE (was 3× in the semi/anti form)") {
    val p = plan("r15_only_late_supplier")
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) == 1, p)
    assert(p.linesIterator.count(_.contains("orders.parquet")) == 1, p)
  }

  test("d8: linear plan — the gram build exists once, documents scanned once") {
    val p = plan("d8_span_dedup")
    assert(p.linesIterator.count(_.contains("documents.parquet")) == 1, p)
    assert(!p.contains("Join"), "cross-doc count is a window, not a self-join\n" + p)
  }

  test("r22: both nation maps broadcast below the fact join; no cartesian") {
    val p = plan("r22_nation_trade")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("r23: part + customer reductions reach the facts as broadcast semi joins; ONE aggregation pass") {
    val p = plan("r23_market_share")
    assert(p.linesIterator.count(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi")) >= 2, p)
    // conditional numerator/denominator in one agg: exactly one partial+final pair
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p)
  }

  test("r25: EXISTS plans as a left-semi hash join with the range residual, not a nested loop") {
    val p = plan("r25_late_priority_counts")
    assert(p.linesIterator.exists(l => l.contains("Join") && l.contains("LeftSemi")), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("r26: orders aggregate on their own key BEFORE the customer join (no fan-out count)") {
    val p = plan("r26_cust_order_histogram")
    // per-custkey agg (partial+final) must appear below the LEFT join
    val joinIdx = p.linesIterator.indexWhere(l => l.contains("Join") && l.contains("LeftOuter"))
    assert(joinIdx >= 0, p)
    val below = p.linesIterator.drop(joinIdx).mkString("\n")
    assert(below.contains("HashAggregate"), p)
  }

  test("r27: disjunctive predicate stays one broadcast join, no union of scans") {
    val p = plan("r27_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Union"), p)
    assert(p.linesIterator.count(_.contains("lineitem.parquet")) <= 1, p) // single lineitem scan
  }

  test("a3: nearest as-of is ONE user_id exchange reused by two sorts — no join, no range fan-out") {
    val p = plan("a3_asof_nearest")
    assert(!p.contains("Join"), p)
    // backward window, forward (negated-order) window, final agg — all
    // keyed by user_id: the union'd event stream shuffles once
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id")) == 1, p)
  }

  test("t25: tiled kNN enumeration is equi-joined on tiles, never a cartesian/nested loop") {
    // sf0.01: sf0.001's 15 users trip the tile-size fallback to the flat
    // seeded path, whose bound pass is an INTENTIONAL broadcast nested loop
    val p = SparkEntry.queries("t25_knn_join_str")(TestSpark.spark, TestSpark.sf001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(8).mkString("\n"))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(8).mkString("\n"))
  }

  test("t18: gaps-and-islands rides ONE user_id exchange (windows + aggs co-partitioned)") {
    val p = plan("t18_stay_segments")
    // lag window, run-id window, two aggregations — all keyed by user_id:
    // exactly one shuffle of the point stream
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id")) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("t19: first/last per (user, day) is ONE aggregation pass — no self-join, one user exchange") {
    val p = plan("t19_od_matrix")
    // r13: min_by/max_by replaced the two window ranks + self-join — the
    // plan must carry NO join at all and exactly one (user_id, day) exchange
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id")) == 1, p)
  }

  test("t20: moment identity needs ONE aggregation pass, no centroid join-back") {
    val p = plan("t20_radius_gyration")
    assert(!p.contains("Join"), p)
    // partial+final of a single groupBy(user_id)
    assert(p.linesIterator.count(_.contains("HashAggregate")) == 2, p)
  }

  test("r33: every predicate reaches the parquet scan") {
    val p = plan("r33_forecast_revenue")
    val scan = p.linesIterator.find(_.contains("lineitem.parquet")).getOrElse("")
    // the plan string truncates the PushedFilters list — assert the prefix
    // proves all three columns reached the scan before the range predicates
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual"), scan)
  }

  test("r31: revenue pre-aggregates per customer BELOW the customer join") {
    val p = plan("r31_returned_revenue")
    val custJoin = p.linesIterator.indexWhere(l =>
      l.contains("Join") && l.contains("c_custkey"))
    assert(custJoin >= 0, p)
    assert(p.linesIterator.drop(custJoin).exists(_.contains("HashAggregate")), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("r32: NOT IN decorrelates to an ANTI join; no nested loop") {
    val p = plan("r32_supplier_variety")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("e12: dynamic sessionization rides ONE user_id exchange, no join") {
    val p = plan("e12_dynamic_sessions")
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("user_id")) == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("d11: surgery shuffles 64-bit gids and (doc, pos) keys only; coverage anti join is hash") {
    val p = plan("d11_span_surgery")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p24: funnel joins are doc_id-keyed outer hash joins, no cartesian, ONE final agg") {
    val p = plan("p24_curation_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.exists(l => l.contains("Join") && l.contains("LeftOuter")), p)
  }

  test("v8: Hamming top-k is TakeOrderedAndProject over the packed scan") {
    val p = plan("v8_hamming_knn")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Rank.topKPerGroup gets the WindowGroupLimit pushdown (bounded heaps, no full sort of losers)") {
    // Spark 4 plans a single rank() <= k filter as WindowGroupLimit:
    // per-partition bounded heaps BEFORE the window sort. Both levels of the
    // salted two-phase top-k must get it — this is why the operator needs no
    // custom physical node.
    import org.apache.spark.sql.functions.col
    val o = Tables.table(TestSpark.spark, TestSpark.sf0001, "orders")
    val p = graft.operators.Rank.topKPerGroup(o, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2, p)
  }

  test("d14: incremental gate is semi-join sides + hash joins, no cartesian") {
    // corpus/batch sides carved by LeftSemi against the slim source map;
    // the cross pair space itself is the mask/prefix equi-join — nothing
    // may plan as a cartesian or nested-loop product
    val p = plan("d14_incremental_dedup")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d15: semantic dedup pairs come from a list_id equi-join, never all-pairs") {
    // the cluster id must be a JOIN KEY — a cartesian/nested-loop product
    // here would be the O(n²) pair space SemDeDup exists to avoid
    val p = plan("d15_semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("list_id"), p)
  }

  test("p27: mix quotas broadcast to the rank side; window is source-partitioned") {
    // the 1-row totals and the per-source quota frame ride broadcast joins
    // (never a shuffle against the corpus scan), and the sampling rank is a
    // partitioned window — no global sort of the corpus
    val p = plan("p27_temperature_mix")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // (global windows are statically banned by StaticChecksTest, so the
    // Window node here is necessarily source-partitioned)
    assert(p.linesIterator.exists(_.trim.startsWith("+- Window") ) ||
      p.contains("Window ["), p)
  }

  test("ivfRoute: map-side argmin — no Exchange, no join, no window in the route plan") {
    // round-8 directive #3: routing must touch each vector once where it
    // lives. The round-7 crossJoin(broadcast)+row_number form shipped every
    // embedding ×nlist through a window exchange — a full-corpus index
    // build then shuffled nlist× the corpus bytes.
    val spark = TestSpark.spark
    val em = Tables.table(spark, TestSpark.sf0001, "embeddings")
    val centers = Array.tabulate(16, 64) { (i, j) => (i * 64 + j) / 1024.0 }
    val p = graft.operators.Sketches.ivfRoute(em, centers)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("d18 candidates: BATCH side broadcast (index streams through the join), no cartesian") {
    // round-9 measurement: the persisted index's parquet compresses under
    // the auto-broadcast threshold, so an unhinted plan broadcast the
    // CORPUS-sized side (5× slower at ×10 corpus). The batch is the
    // bounded side by contract — the hint must survive planning.
    import org.apache.spark.sql.functions.col
    val spark = TestSpark.spark
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val olds = (0 to 9).map(i => s"src$i")
    val p = graft.operators.Sketches.minhashCrossCandidates(spark,
        docs.filter(col("source").isin(olds: _*)),
        docs.filter(!col("source").isin(olds: _*)), corpusKey = None)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BuildRight"), p) // the batch side as written
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("t29: the polygon predicate rides the scan — no join, no explode, one agg") {
    val p = plan("t29_polygon_count")
    // ray casting is a pure projection: any Join/Generate here means the
    // polygon test left the scan stage and would shuffle points at 100 TB
    assert(!p.toLowerCase.contains("join"), p)
    assert(!p.contains("Generate"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("p35: the encode join is vocabulary-keyed, never a cartesian") {
    val p = plan("p35_bpe_encode")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("t30: geofence join is a broadcast HASH join on cell keys, never point x fence") {
    val p = plan("t30_geofence_join")
    // the fence side (≤400 cell rows) broadcasts; the cell-key equalities
    // must reach the planner as equi-join keys — a BNLJ/cartesian here is
    // the O(points × fences) plan that dies at 100 TB
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    // the ray-cast refine stays a post-join filter: the edge fold must not
    // explode the joined rows per edge (plans print `Generate explode(...)`
    // space-separated, so match the generator's ARGUMENT — the fence-cell
    // explodes are over sequence(...), never over the edges array)
    assert(!p.contains("explode(edges"), p)
  }

  test("t31: dwell keeps t30's blocked-join shape; the lead window is user-partitioned") {
    val p = plan("t31_geofence_dwell")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(!p.contains("explode(edges"), p)
    // the dt window must partition by user — a global lead would funnel
    // every point through one task (physical Window prints its spec as
    // windowspecdefinition(<partition cols>, <order>, <frame>))
    assert(p.contains("windowspecdefinition(user_id#"), p)
  }
}
