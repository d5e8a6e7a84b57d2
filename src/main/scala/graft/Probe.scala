package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.util.Snap.Ops

/** Round-13 measurement scratchpad (guide §1: measure first). Times the
  * component stages of the heavy trajectory-search queries in isolation so
  * the optimization targets the stage that actually costs, not a guess.
  * Diagnostic main only — never on a query path.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").count() // JVM warm-up (audit: no driver collect)
    Tables.cacheHot(spark, sfDir)

    def time[A](label: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    args.headOption.getOrElse("t21") match {
      case "t21" =>
        val ta = time("trajArrays build+read") {
          val x = Tables.trajArrays(spark, sfDir, "purchase"); x.count(); x
        }
        time("trajArrays re-count")(ta.count())
        val st = time("trajStats")(operators.TrajectorySearch.trajStats(ta))
        println(s"PROBE stats users=${st.users} medPts=${st.medianPoints}")
        val a = ta.select(col("user_id").as("u1"), col("xs").as("xs1"), col("ys").as("ys1"))
        val b = ta.select(col("user_id").as("u2"), col("xs").as("xs2"), col("ys").as("ys2"))
        val kernel = round(graft.functions.MetricCol("hausdorff",
          col("xs1"), col("ys1"), col("xs2"), col("ys2")), 6)
        val half = a.join(broadcast(b), col("u1") < col("u2"))
          .select(col("u1"), col("u2"), kernel.as("dist"))
        time("half join noop") {
          half.write.format("noop").mode("overwrite").save()
        }
        val ck = time("half join snap")(half.snap())
        val sym = ck.unionAll(ck.select(col("u2").as("u1"), col("u1").as("u2"), col("dist")))
          .select(col("u1").as("q_user"), col("u2").as("user_id"), col("dist"))
        for (i <- 1 to 2) {
          time(s"rank over sym (topKPerGroup) noop #$i") {
            operators.Rank.topKPerGroup(sym, Seq(col("q_user")),
                Seq(col("dist"), col("user_id")), 3)
              .write.format("noop").mode("overwrite").save()
          }
          time(s"rank over sym (plain WGL window) noop #$i") {
            import org.apache.spark.sql.expressions.Window
            val w = Window.partitionBy(col("q_user")).orderBy(col("dist"), col("user_id"))
            sym.withColumn("_rk", row_number().over(w)).filter(col("_rk") <= 3)
              .write.format("noop").mode("overwrite").save()
          }
        }
        for (i <- 1 to 2)
          time(s"t21 full count #$i")(SparkEntry.queries("t21_knn_join")(spark, sfDir).count())
      case "t2" =>
        val ta = Tables.trajArrays(spark, sfDir, "purchase"); ta.count()
        for (i <- 1 to 2)
          time(s"t2 full count #$i")(SparkEntry.queries("t2_hausdorff_pairs")(spark, sfDir).count())
        time("allPairsLb noop") {
          operators.TrajectorySearch.allPairsLb(ta)
            .write.format("noop").mode("overwrite").save()
        }
      case "d20" =>
        time("docTokens build")(Tables.docTokens(spark, sfDir).count())
        time("docTermFreq build")(Tables.docTermFreq(spark, sfDir).count())
        for (i <- 1 to 3)
          time(s"d20 full count #$i")(SparkEntry.queries("d20_bm25_topk")(spark, sfDir).count())
        for (i <- 1 to 2)
          time(s"d21 full count #$i")(SparkEntry.queries("d21_rrf_fusion")(spark, sfDir).count())
      case "d20ab" =>
        // r13 bm25Micro form (per-call qt/df/stats broadcast builds + dl
        // join) vs the r14 fused form (postings+dl frame x LocalRelation
        // consts), interleaved through the FULL d20 top-k so job-count
        // overhead is included
        Tables.docTermFreq(spark, sfDir).count()
        val q = spark.createDataFrame(Seq(
          (0, "spark fast query"), (1, "hash join merge"),
          (2, "stream window batch table"))).toDF("query_id", "qtext")
        val qt = q.select(col("query_id"), explode(split(col("qtext"), " ")).as("tok"))
          .filter(col("tok") =!= "").distinct()
        val avgdl = col("total").cast("double") / col("n_docs").cast("double")
        val idf = log(lit(1.0) +
          ((col("n_docs") - col("df")).cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)))
        val sat = (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
        def oldAgg = Tables.docTermFreq(spark, sfDir)
          .join(broadcast(qt), "tok")
          .join(broadcast(Tables.tokenDocFreq(spark, sfDir)
            .join(broadcast(qt.select(col("tok")).distinct()), Seq("tok"), "left_semi")), "tok")
          .join(Tables.docLengths(spark, sfDir), "doc_id")
          .crossJoin(broadcast(Tables.corpusTokenStats(spark, sfDir)))
          .select(col("query_id"), col("doc_id"),
            floor(idf * sat * lit(1e6) + lit(0.5)).cast("long").as("s_micro"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(sum(col("s_micro")).as("bm25_micro"))
        def oldTopk = operators.Rank.topKPerGroup(oldAgg, Seq(col("query_id")),
            Seq(col("bm25_micro").desc, col("doc_id")), 5,
            rankCol = "rk")
          .select(col("query_id"), col("rk"), col("doc_id"), col("bm25_micro"))
          .orderBy(col("query_id"), col("rk"))
        for (i <- 1 to 3) {
          time(s"d20 OLD (per-call builds) #$i")(
            oldTopk.write.format("noop").mode("overwrite").save())
          time(s"d20 NEW (fused consts)    #$i")(
            SparkEntry.queries("d20_bm25_topk")(spark, sfDir)
              .write.format("noop").mode("overwrite").save())
          time(s"d21 NEW                   #$i")(
            SparkEntry.queries("d21_rrf_fusion")(spark, sfDir)
              .write.format("noop").mode("overwrite").save())
        }
        println("PROBE d20 old-vs-new diff = " +
          oldTopk.exceptAll(SparkEntry.queries("d20_bm25_topk")(spark, sfDir)).count() +
          " / " +
          SparkEntry.queries("d20_bm25_topk")(spark, sfDir).exceptAll(oldTopk).count())
      case "p23ab" =>
        // old (self-join) vs new (collect_set + in-row pair explode) PMI
        // pair-count core, interleaved in ONE session so box-noise phases
        // hit both arms
        val dt = Tables.docTokens(spark, sfDir)
          .select(col("doc_id"), col("tok")).distinct()
        val a = dt.select(col("doc_id"), col("tok").as("t1"))
        val b = dt.select(col("doc_id").as("doc2"), col("tok").as("t2"))
        def oldForm = a.join(b, col("doc_id") === col("doc2") && col("t1") < col("t2"))
          .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 5)
        val sets = Tables.docTokens(spark, sfDir)
          .groupBy(col("doc_id")).agg(sort_array(collect_set(col("tok"))).as("ts"))
        def newForm = sets.select(explode(expr(
            """flatten(transform(ts, (x, i) ->
              |  transform(slice(ts, i + 2, size(ts)), y ->
              |    named_struct('t1', x, 't2', y))))""".stripMargin)).as("p"))
          .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
          .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 5)
        val dtR = Tables.docTokens(spark, sfDir)
          .select(col("doc_id"), col("tok"))
          .repartition(col("doc_id")).distinct()
        val aR = dtR.select(col("doc_id"), col("tok").as("t1"))
        val bR = dtR.select(col("doc_id").as("doc2"), col("tok").as("t2"))
        def oneExForm = aR.join(bR, col("doc_id") === col("doc2") && col("t1") < col("t2"))
          .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 5)
        for (i <- 1 to 3) {
          time(s"p23 pair core OLD self-join #$i")(
            oldForm.write.format("noop").mode("overwrite").save())
          time(s"p23 pair core NEW in-row #$i")(
            newForm.write.format("noop").mode("overwrite").save())
          time(s"p23 pair core ONE-EXCHANGE join #$i")(
            oneExForm.write.format("noop").mode("overwrite").save())
        }
      case "d12cold" =>
        // where does the COLD nearDupPairs build actually spend its time?
        import operators.DocSimilarity
        val toks0 = time("docTokens build+count")(
          { val x = Tables.docTokens(spark, sfDir); x.count(); x })
        val toks = time("distinctTokens persist+count") {
          val x = DocSimilarity.distinctTokens(spark, sfDir)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          x.count(); x
        }
        val vocab = time("vocab probe collect")(
          toks.select(col("tok")).distinct()
            .limit(DocSimilarity.MaxMaskVocab + 1).collect().map(_.getString(0)))
        val groups = time("maskGroups build (snap)")(
          DocSimilarity.corpusMaskGroups(toks, vocab).snap())
        time("pair join + persist + count")(
          DocSimilarity.maskPairs(toks, vocab, 3, 5)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).count())
        for (i <- 1 to 2)
          time(s"d12 full count #$i")(
            SparkEntry.queries("d12_dup_degree_histogram")(spark, sfDir).count())
        time("d13 full count")(
          SparkEntry.queries("d13_cross_source_dups")(spark, sfDir).count())
      case "t30" =>
        // derivePitch memo: the 2nd call arrives on a FRESH createDataFrame
        // frame — a hit proves semanticHash canonicalizes the two identically
        val f1 = spark.createDataFrame(graft.geo.Fences.all)
        val f2 = spark.createDataFrame(graft.geo.Fences.all)
        time("derivePitch #1 (cold)")(operators.GeofenceJoin.derivePitch(f1))
        time("derivePitch #2 (fresh frame)")(operators.GeofenceJoin.derivePitch(f2))
        for (i <- 1 to 3) {
          time(s"t30 full count #$i")(SparkEntry.queries("t30_geofence_join")(spark, sfDir).count())
          time(s"t31 full count #$i")(SparkEntry.queries("t31_geofence_dwell")(spark, sfDir).count())
        }
      case _ =>
        // any other args: treat each as a declared query name; 3 passes in
        // round-robin (the Bench decorrelation protocol)
        for (i <- 1 to 3; name <- args)
          time(s"$name full count #$i")(SparkEntry.queries(name)(spark, sfDir).count())
    }
    spark.stop()
  }
}
