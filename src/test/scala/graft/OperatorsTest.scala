package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DocSimilarity, VectorOps}

/** Self-consistency checks (SURVEY §5.2 layer 3 — the reference's own
  * methodology): optimized/blocked operators must equal their naive forms.
  */
class OperatorsTest extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosineSelfJoin refine path: finds planted near-duplicates exactly") {
    // synthetic vectors: two near-identical pairs above 0.9, the rest random
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val base = (0L until 50L).map(i => (i, vec()))
    val planted = Seq(
      (100L, base(0)._2.map(x => x + 0.001f)), // ~cos 1.0 with vec 0
      (101L, base(1)._2.map(x => x * 1.0001f)) // ~cos 1.0 with vec 1
    )
    val df = (base ++ planted).toDF("vec_id", "embedding")

    val fast = VectorOps.cosineSelfJoin(df, "vec_id", "embedding", 0.9)
      .orderBy($"id1", $"id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // naive reference: all pairs, exact cosine
    val rows = (base ++ planted)
    val naive = (for {
      (i, a) <- rows; (j, b) <- rows if i < j
      dot = (a, b).zipped.map((x, y) => x.toDouble * y.toDouble).sum
      na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.9
    } yield (i, j)).sorted

    assert(fast == naive)
    assert(fast.contains((0L, 100L)) && fast.contains((1L, 101L)))
  }

  test("d3 mask path equals inverted-index path on real data") {
    val toks = DocSimilarity.distinctTokens(spark, TestSpark.sf0001)
    val vocab = toks.select($"tok").distinct()
    assert(vocab.count() <= 64, "fixture vocab grew beyond mask capacity")
    // private strategies are exercised through nearDupPairs (mask) vs a
    // hand-built inverted-index equivalent
    val mask = DocSimilarity.nearDupPairs(spark, TestSpark.sf0001)
      .select($"d1", $"d2", $"lang", $"jaccard")
      .orderBy($"d1", $"d2").collect().map(_.toString).toSeq

    val sizes = toks.groupBy($"doc_id").agg(count(lit(1)).as("c"))
    val a = toks.select($"doc_id".as("d1"), $"lang", $"tok")
    val b = toks.select($"doc_id".as("d2"), $"lang".as("lang_b"), $"tok".as("tok_b"))
    val inverted = a.join(b, $"tok" === $"tok_b" && $"lang" === $"lang_b" && $"d1" < $"d2")
      .groupBy($"d1", $"d2", $"lang").agg(count(lit(1)).as("i"))
      .join(sizes.select($"doc_id".as("d1"), $"c".as("c1")), "d1")
      .join(sizes.select($"doc_id".as("d2"), $"c".as("c2")), "d2")
      .filter(lit(5) * $"i" >= lit(3) * ($"c1" + $"c2" - $"i"))
      .select($"d1", $"d2", $"lang",
        round($"i".cast("double") / ($"c1" + $"c2" - $"i"), 6).as("jaccard"))
      .orderBy($"d1", $"d2").collect().map(_.toString).toSeq

    assert(mask == inverted)
  }

  test("cross-corpus jaccard: mask and prefix paths equal the naive inverted cross join") {
    val toks = DocSimilarity.distinctTokens(spark, TestSpark.sf0001)
    val srcMap = Tables.table(spark, TestSpark.sf0001, "documents")
      .select($"doc_id", $"source")
    val oldSrcs = (0 to 9).map(i => s"src$i")
    val toksA = toks.join(
      srcMap.filter($"source".isin(oldSrcs: _*)).select($"doc_id"),
      Seq("doc_id"), "left_semi")
    val toksB = toks.join(
      srcMap.filter(!$"source".isin(oldSrcs: _*)).select($"doc_id"),
      Seq("doc_id"), "left_semi")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"old_id", $"new_id").collect().map(_.toString).toSeq

    val naive = canon(DocSimilarity.crossInvertedPairs(toksA, toksB, 3, 5))
    assert(naive.nonEmpty, "fixture must contain cross-source near-dups")

    val vocab = toks.select($"tok").distinct().collect().map(_.getString(0))
    assert(canon(DocSimilarity.crossMaskPairs(toksA, toksB, vocab, 3, 5)) == naive)
    assert(canon(DocSimilarity.crossPrefixPairs(toksA, toksB, 3, 5)) == naive)
    // the memoized operator (strategy-chosen) agrees too
    assert(canon(DocSimilarity.incrementalNearDups(spark, TestSpark.sf0001, oldSrcs)
      .select($"old_id", $"new_id", $"lang", $"jaccard")) == naive)
  }

  test("t2 UDF form equals SQL max-of-min form on sf0.001") {
    val udfForm = SparkEntry.queries("t2_hausdorff_pairs")(spark, TestSpark.sf0001)
      .collect().map(_.toString).toSeq

    val p = Tables.pts(spark, TestSpark.sf0001)
    p.createOrReplaceTempView("pts_t2test")
    val sqlForm = spark.sql(
      """WITH d AS (SELECT a.user_id u1, b.user_id u2, a.event_id ea, b.event_id eb,
        |                 SQRT((a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y)) AS dist
        |          FROM pts_t2test a JOIN pts_t2test b ON a.user_id < b.user_id),
        |hab AS (SELECT u1,u2, MAX(md) AS h FROM
        |        (SELECT u1,u2,ea, MIN(dist) AS md FROM d GROUP BY u1,u2,ea) GROUP BY u1,u2),
        |hba AS (SELECT u1,u2, MAX(md) AS h FROM
        |        (SELECT u1,u2,eb, MIN(dist) AS md FROM d GROUP BY u1,u2,eb) GROUP BY u1,u2)
        |SELECT hab.u1, hab.u2, ROUND(GREATEST(hab.h, hba.h),6) AS hausdorff
        |FROM hab JOIN hba ON hab.u1=hba.u1 AND hab.u2=hba.u2
        |ORDER BY ROUND(GREATEST(hab.h, hba.h),6) ASC, hab.u1, hab.u2 LIMIT 20""".stripMargin)
      .collect().map(_.toString).toSeq

    assert(udfForm == sqlForm)
  }

  test("t8 frechet search: k rows, each >= the hausdorff distance of the same pair") {
    val h = MetricOracles.topK(spark, TestSpark.sf0001, 0L, 1000, "hausdorff")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val f = SparkEntry.queries("t8_topk_search_frechet")(spark, TestSpark.sf0001).collect()
    assert(f.length == 10)
    f.foreach { r =>
      assert(r.getDouble(1) >= h(r.getLong(0)) - 1e-9,
        s"frechet ${r.getDouble(1)} < hausdorff ${h(r.getLong(0))} for user ${r.getLong(0)}")
    }
  }

  test("multi-word bitmap join equals inverted-index join on a >64-token vocab") {
    // synthetic corpus: 300-token vocabulary (forces 5 mask words), docs of
    // 20 tokens with planted near-duplicates and exact duplicates
    val rnd = new scala.util.Random(3)
    val vocab = (0 until 300).map(i => f"tok$i%03d")
    def doc(): Seq[String] = rnd.shuffle(vocab).take(20)
    val base = (0L until 40L).map(i => (i, doc()))
    val planted = Seq(
      (100L, base(0)._2.drop(2) ++ base(0)._2.take(2)), // identical set to 0
      (101L, base(1)._2.tail :+ "tok299")) // 19/21 overlap with 1
    val toks = (base ++ planted)
      .flatMap { case (id, ts) => ts.distinct.map(t => (id, "en", t)) }
      .toDF("doc_id", "lang", "tok")
    for ((num, den) <- Seq((3, 5), (1, 2))) {
      val inverted = DocSimilarity.invertedIndexPairs(toks, num, den)
        .orderBy($"d1", $"d2").collect().map(_.toString).toSeq
      val masked = DocSimilarity.jaccardPairs(toks, num, den)
        .orderBy($"d1", $"d2").collect().map(_.toString).toSeq
      assert(masked == inverted, s"threshold $num/$den")
      if (num == 3 && den == 5) assert(inverted.nonEmpty, "planted dups must qualify")
      // the huge-vocab route (prefix-filtered PPJoin) must agree on the
      // same >64-token corpus, not just on the tiny-vocab fixture
      val prefixed = DocSimilarity.prefixFilteredPairs(toks, num, den)
        .orderBy($"d1", $"d2").collect().map(_.toString).toSeq
      assert(prefixed == inverted, s"prefix threshold $num/$den")
    }
    // containment (asymmetric, ordered pairs): both strategies must agree
    // with the naive full inverted index; the planted subset (101 ⊂ ~1) and
    // the identical pair (0 ↔ 100) must appear in both directions resp.
    for ((num, den) <- Seq((9, 10), (1, 2))) {
      val naive = DocSimilarity.invertedContainmentPairs(toks, num, den)
        .orderBy($"d1", $"d2").collect().map(_.toString).toSeq
      val masked = DocSimilarity.maskContainment(toks, vocab.toArray, num, den)
        .orderBy($"d1", $"d2").collect().map(_.toString).toSeq
      val prefixed = DocSimilarity.prefixContainment(toks, num, den)
        .orderBy($"d1", $"d2").collect().map(_.toString).toSeq
      assert(masked == naive, s"mask containment $num/$den")
      assert(prefixed == naive, s"prefix containment $num/$den")
      if (num == 9) {
        val pairs = DocSimilarity.invertedContainmentPairs(toks, num, den)
          .select($"d1", $"d2").as[(Long, Long)].collect().toSet
        assert(pairs.contains((100L, 0L)) && pairs.contains((0L, 100L)),
          "identical sets must contain each other")
      }
    }
  }

  test("prefix-filtered set-similarity join equals inverted-index join") {
    val toks = DocSimilarity.distinctTokens(spark, TestSpark.sf0001)
    for ((num, den) <- Seq((3, 5), (1, 2))) {
      val inverted = DocSimilarity.invertedIndexPairs(toks, num, den)
        .orderBy($"d1", $"d2").collect().map(_.toString).toSeq
      val prefixed = DocSimilarity.prefixFilteredPairs(toks, num, den)
        .orderBy($"d1", $"d2").collect().map(_.toString).toSeq
      assert(prefixed == inverted, s"threshold $num/$den")
    }
  }

  test("topKPerGroup equals a brute-force per-group sort (r14: the former " +
      "two-stage-vs-window arm became tautological once both ran the window)") {
    val rnd = new scala.util.Random(21)
    val rows = (0 until 5000).map(_ =>
      (rnd.nextInt(7).toLong, rnd.nextLong(), rnd.nextInt(100)))
    val df = rows.toDF("g", "id", "v")
    for (k <- Seq(1, 5, 40)) {
      val got = graft.operators.Rank.topKPerGroup(
        df, Seq($"g"), Seq($"v", $"id"), k)
        .select($"g", $"id", $"v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      // plain-Scala oracle: per group, the k smallest under the (v, id) order
      val brute = rows.groupBy(_._1).flatMap { case (_, rs) =>
        rs.sortBy(r => (r._3, r._2)).take(k)
      }.toSet
      assert(got == brute, s"k=$k")
    }
  }

  test("salted join equals unsalted join") {
    val li = Tables.table(spark, TestSpark.sf0001, "lineitem")
      .select($"l_orderkey", $"l_quantity")
    val o = Tables.table(spark, TestSpark.sf0001, "orders")
      .select($"o_orderkey".as("l_orderkey"), $"o_custkey")
    val plain = li.join(o, "l_orderkey")
      .orderBy($"l_orderkey", $"l_quantity", $"o_custkey")
      .collect().map(_.toString).toSeq
    val salted = graft.operators.SaltedJoin.join(li, o, "l_orderkey")
      .orderBy($"l_orderkey", $"l_quantity", $"o_custkey")
      .collect().map(_.toString).toSeq
    assert(salted == plain)
  }

  test("approx_count_distinct within documented error of exact (r6 analog)") {
    val li = Tables.table(spark, TestSpark.sf001, "lineitem")
    val exact = li.select(countDistinct($"l_partkey")).as[Long].head()
    val approx = li.select(approx_count_distinct($"l_partkey", 0.02)).as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("FuzzyMatch length-band self-join ≡ naive all-pairs levenshtein") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = Tables.table(spark, TestSpark.sf001, "part")
      .select($"p_name").distinct().as[String].collect().toSeq
    val naive = (for {
      a <- names; b <- names if a < b && lev(a, b) <= 2
    } yield (a, b, lev(a, b).toLong)).sorted
    val fast = graft.operators.FuzzyMatch
      .levenshteinSelfJoin(Tables.table(spark, TestSpark.sf001, "part"), "p_name", 2)
      .orderBy($"name1", $"name2")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(naive.nonEmpty && fast == naive)
  }

  test("SpanDedup hashed-gram stats ≡ naive string-keyed scan") {
    val docs = Tables.table(spark, TestSpark.sf0001, "documents")
    val k = 8
    val raw = docs.select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty).toSeq))
    val grams = raw.flatMap { case (id, toks) =>
      if (toks.length < k) Seq.empty
      else toks.sliding(k).map(w => (id, w.mkString(" "))).toSeq
    }
    val dupSet = grams.groupBy(_._2).filter(_._2.map(_._1).distinct.length > 1).keySet
    val naive = grams.groupBy(_._1).map { case (id, gs) =>
      val nd = gs.count(g => dupSet(g._2))
      (id, gs.length.toLong, nd.toLong)
    }.toSeq.sortBy(_._1)
    val fast = graft.operators.SpanDedup.dupSpanStats(docs, "text", k)
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(naive.nonEmpty && fast == naive)
    assert(naive.exists(_._3 > 0)) // signal exists: some doc has duplicated spans
  }

  test("PiiScrub redacts planted PII and leaves clean text untouched") {
    val df = Seq(
      (1L, "contact bob.smith+x@mail.example.org or 10.0.0.1 room 42"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.co c@d.io and ip 192.168.1.255")).toDF("id", "s")
    val out = df.select($"id",
        graft.operators.PiiScrub.scrubbed($"s").as("m"),
        graft.operators.PiiScrub.matchCount($"s", "email").as("ne"),
        graft.operators.PiiScrub.matchCount($"s", "ipv4").as("ni"))
      .orderBy($"id").collect()
    assert(out(0).getString(1) == "contact <EMAIL> or <IP> room <NUM>")
    assert(out(0).getLong(2) == 1 && out(0).getLong(3) == 1)
    assert(out(1).getString(1) == "no pii here at all")
    assert(out(2).getLong(2) == 2 && out(2).getLong(3) == 1)
  }

  test("asofLatestWithin ≡ asofLatest with tolerance post-filter, naive scan") {
    val left = Seq((1L, 100L, 1L), (1L, 200L, 2L), (1L, 900L, 3L), (2L, 50L, 4L))
      .toDF("k", "ts", "lid")
    val right = Seq((1L, 90L, 10L), (1L, 150L, 11L), (2L, 500L, 12L))
      .toDF("k", "ts", "rid")
    val got = graft.operators.AsOfJoin.asofLatestWithin(
        left, right,
        keys = Seq("k"), order = Seq("ts"), payload = Seq("rid"), tol = 100L)
      .orderBy($"lid")
      .collect().map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
    // naive: latest right at-or-before, nulled when staler than tol
    val rr = Seq((1L, 90L, 10L), (1L, 150L, 11L), (2L, 500L, 12L))
    val want = Seq((1L, 100L, 1L), (1L, 200L, 2L), (1L, 900L, 3L), (2L, 50L, 4L)).map {
      case (k, ts, lid) =>
        val cand = rr.filter(r => r._1 == k && r._2 <= ts).sortBy(_._2).lastOption
        (lid, cand.filter(c => ts - c._2 <= 100L).map(_._3))
    }
    assert(got == want)
  }

  test("asofNearestWithin ≡ naive nearest scan on real data (both directions, backward ties)") {
    val tol = 600000000L
    val ev = Tables.events(spark, TestSpark.sf0001)
      .select($"user_id", $"ts_us", $"event_id")
    val errors = Tables.events(spark, TestSpark.sf0001)
      .filter($"event_type" === "error")
      .select($"user_id", $"ts_us", $"event_id", $"event_id".as("err_id"))
    val got = graft.operators.AsOfJoin.asofNearestWithin(
        ev, errors, keys = Seq("user_id"), order = Seq("ts_us", "event_id"),
        payload = Seq("err_id"), tol = tol)
      .select($"user_id", $"ts_us", $"event_id", $"err_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))
      .sortBy(t => (t._1, t._2, t._3)).toSeq

    // naive: per user, backward candidate = lexicographically largest error
    // (ts, id) ≤ the event's (ts, id); forward = smallest ≥; pick the
    // nearer within tol, equidistant → backward. Exactly the operator's
    // documented rule, computed by brute scan.
    val errByUser = errors.collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (u, a) => u -> a.map(_._2).sortBy(identity) }
    val want = ev.collect().map { r =>
      val (u, ts, eid) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val errs = errByUser.getOrElse(u, Array.empty[(Long, Long)])
      val b = errs.filter(e => e._1 < ts || (e._1 == ts && e._2 <= eid)).lastOption
        .filter(e => ts - e._1 <= tol)
      val f = errs.find(e => e._1 > ts || (e._1 == ts && e._2 >= eid))
        .filter(e => e._1 - ts <= tol)
      val pick = (b, f) match {
        case (Some(bb), Some(ff)) => if (ts - bb._1 <= ff._1 - ts) Some(bb) else Some(ff)
        case (bb, ff) => bb.orElse(ff)
      }
      (u, ts, eid, pick.map(_._2))
    }.sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(got.size == want.size)
    assert(got == want)
    // sanity: both directions actually fire on the fixture
    val matchedB = got.zip(want).count { case (g, _) => g._4.isDefined }
    assert(matchedB > 0)
  }

  test("t14/t15 on the real fixture: kernel parity per pair, non-degenerate eps") {
    val t14 = SparkEntry.queries("t14_lcss_pairs")(spark, TestSpark.sf0001).collect()
    val t15 = SparkEntry.queries("t15_edr_pairs")(spark, TestSpark.sf0001).collect()
    assert(t14.nonEmpty && t14.length == t15.length)
    // the declared ε is non-degenerate on the fixture: matches exist, but
    // no pair is a full match (else lcss degenerates to min-length)
    val lcss = t14.map(r => (r.getAs[Int]("lcss"), r.getAs[Int]("minlen")))
    assert(lcss.exists(_._1 > 0), "eps too tight: zero matches everywhere")
    assert(lcss.exists { case (c, ml) => c < ml }, "eps too loose: every pair fully matches")
    // UDF path ≡ direct kernel on a recomputed pair (arrays from trajArrays)
    val ta = Tables.trajArrays(spark, TestSpark.sf0001, "purchase")
      .filter($"user_id" <= 2).orderBy($"user_id")
      .select($"user_id", $"xs", $"ys").collect()
    val (xa, ya) = (ta(0).getSeq[Double](1).toArray, ta(0).getSeq[Double](2).toArray)
    val (xb, yb) = (ta(1).getSeq[Double](1).toArray, ta(1).getSeq[Double](2).toArray)
    val u1 = ta(0).getLong(0); val u2 = ta(1).getLong(0)
    val row14 = t14.find(r => r.getLong(0) == u1 && r.getLong(1) == u2).get
    assert(row14.getAs[Int]("lcss") ==
      graft.geo.Metrics.lcssCount(xa, ya, xb, yb, 2.0, 25.0))
    val row15 = t15.find(r => r.getLong(0) == u1 && r.getLong(1) == u2).get
    assert(row15.getAs[Int]("edr") ==
      graft.geo.Metrics.edr(xa, ya, xb, yb, 2.0, 25.0))
  }

  test("mmrGreedy edges: k > candidates returns all; empty input returns empty; lambda=1 is pure relevance order") {
    import graft.operators.VectorOps.mmrGreedy
    assert(mmrGreedy(Nil, 5, 0.7).isEmpty)
    val cands = Seq(
      (1L, Array(1.0f, 0.0f), 0.9),
      (2L, Array(0.0f, 1.0f), 0.8),
      (3L, Array(0.7f, 0.7f), 0.7))
    val all = mmrGreedy(cands, 10, 0.7)
    assert(all.map(_._2).toSet == Set(1L, 2L, 3L) && all.length == 3)
    // λ=1: diversity term vanishes → pure relevance order with id tie-break
    val rel = mmrGreedy(cands, 3, 1.0)
    assert(rel.map(_._2) == Seq(1L, 2L, 3L))
    // ranks are 1..k in emission order
    assert(rel.map(_._1) == Seq(1, 2, 3))
  }

  test("r34 HLL sketch: per-group estimates within the declared 2% rsd (5x slack)") {
    val got = SparkEntry.queries("r34_approx_distinct")(spark, TestSpark.sf001).collect()
    assert(got.nonEmpty)
    val exact = Tables.table(spark, TestSpark.sf001, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("p"), countDistinct($"l_suppkey").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got.foreach { r =>
      val (ep, es) = exact(r.getString(0))
      assert(math.abs(r.getLong(2) - ep).toDouble / ep <= 0.10,
        s"${r.getString(0)} parts ${r.getLong(2)} vs $ep")
      assert(math.abs(r.getLong(3) - es).toDouble / es <= 0.10,
        s"${r.getString(0)} supps ${r.getLong(3)} vs $es")
    }
  }

  test("p26 CMS heavy hitters: never under-counts; overshoot within eps*N; deterministic") {
    val got = SparkEntry.queries("p26_cms_heavy_hitters")(spark, TestSpark.sf001).collect()
    assert(got.length == 20)
    val total = Tables.docTokens(spark, TestSpark.sf001).count()
    got.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"${r.getString(0)}: CMS must never under-count ($est < $exact)")
      assert(est - exact <= (0.001 * total).toLong + 1,
        s"${r.getString(0)}: overshoot ${est - exact} beyond eps*N")
    }
    val again = SparkEntry.queries("p26_cms_heavy_hitters")(spark, TestSpark.sf001)
      .collect().map(_.toString).toSeq
    assert(again == got.map(_.toString).toSeq, "seeded sketch must be deterministic")
  }

  test("r30 quantile sketch: each value's exact rank within the documented error bound") {
    val got = SparkEntry.queries("r30_quantile_sketch")(spark, TestSpark.sf001).collect()
    assert(got.nonEmpty)
    val li = Tables.table(spark, TestSpark.sf001, "lineitem")
      .select($"l_returnflag", expr("CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)").as("c"))
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).sorted).toMap
    got.foreach { r =>
      val flag = r.getString(0)
      val xs = li(flag)
      val n = xs.length
      assert(r.getLong(1) == n)
      Seq((2, 0.5), (3, 0.9), (4, 0.99)).foreach { case (i, q) =>
        val v = r.getLong(i)
        // exact rank window of v in the sorted data vs target rank —
        // GK guarantee: |rank - q·n| <= n/accuracy (generous 2x slack for
        // the interpolation convention at the window edges)
        val lo = xs.count(_ < v)
        val hi = xs.count(_ <= v)
        val target = q * n
        val tol = 2.0 * n / 10000 + 1
        assert(lo - tol <= target && target <= hi + tol,
          s"$flag p$q: value $v rank window [$lo,$hi] vs target $target ± $tol")
      }
    }
  }

  test("v7 MMR: greedy ≡ naive re-implementation; first pick = v1 top-1; rerank ⊂ shortlist") {
    val v7 = SparkEntry.queries("v7_mmr_rerank")(spark, TestSpark.sf0001).collect()
    assert(v7.length == 10)
    assert(v7.map(_.getLong(0)).toSeq == (1L to 10L)) // ranks 1..10 in order
    val v1Top = SparkEntry.queries("v1_vector_knn")(spark, TestSpark.sf0001)
      .collect().head.getLong(0)
    assert(v7.head.getLong(1) == v1Top, "first MMR pick must be the most relevant vector")

    // naive reference: same shortlist, direct O(k·N·|S|) recompute
    val em = Tables.table(spark, TestSpark.sf0001, "embeddings")
    graft.functions.FloatDotProduct.register(spark)
    val q = em.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    val shortlist = em.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id", $"embedding", expr("graft_dot(q_emb, embedding)").as("rel"))
      .orderBy($"rel".desc, $"vec_id").limit(50).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2))).toSeq
    val ids = shortlist.map(_._1).toSet
    assert(v7.forall(r => ids.contains(r.getLong(1))), "picks must come from the shortlist")

    def dotFF(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }; s
    }
    var remaining = shortlist
    var selected = List.empty[(Long, Array[Float])]
    val naive = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    while (naive.length < 10) {
      val scored = remaining.map { case (id, emb, rel) =>
        val ms = if (selected.isEmpty) 0.0 else selected.map(s => dotFF(emb, s._2)).max
        (id, emb, 0.7 * rel - 0.3 * ms)
      }
      val best = scored.minBy { case (id, _, sc) => (-sc, id) }
      naive += ((best._1, best._3))
      selected ::= ((best._1, best._2))
      remaining = remaining.filterNot(_._1 == best._1)
    }
    assert(v7.map(_.getLong(1)).toSeq == naive.map(_._1).toSeq,
      "greedy operator must equal the naive MMR selection")
    // determinism: second run identical
    val again = SparkEntry.queries("v7_mmr_rerank")(spark, TestSpark.sf0001).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      v7.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("BPE merge training: hand-computed fixture with ties, overlap runs, multi-round") {
    val docs = Seq("ab ab ab", "aab aab", "b b", "cd cd", "aaaa").toDF("text")
    val vocab = graft.operators.Bpe.vocabulary(docs, "text")
    val vm = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vm == Map("ab" -> 3L, "aab" -> 2L, "b" -> 2L, "cd" -> 2L, "aaaa" -> 1L))
    val merges = graft.operators.Bpe
      .learnMerges(spark, vocab, cacheKey = "bpe-fixture-1", k = 3)
      .orderBy($"merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    // hand-computed: R1 ties (a,a)=5 with (a,b)=5 -> lexicographic picks
    // (a,a); greedy on the "aaaa" run gives [aa,aa] (overlap parity). R3
    // ties (aa,b)=2 with (c,d)=2 -> "aa" < "c".
    assert(merges.toSeq == Seq(
      (1, "a", "a", 5L, 18L),
      (2, "a", "b", 3L, 15L),
      (3, "aa", "b", 2L, 13L)))
    // the encode half: segmentation after the 3 merges, word by word
    val seg = graft.operators.Bpe
      .segmentedVocabulary(spark, vocab, cacheKey = "bpe-fixture-1", k = 3)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    assert(seg == Map(
      "ab" -> List("ab"), "aab" -> List("aab"), "b" -> List("b"),
      "cd" -> List("c", "d"), "aaaa" -> List("aa", "aa")))
  }

  test("BPE pretokenizer: CJK rows enter as per-codepoint symbols, never sentence-length words") {
    // zh text has no spaces — a space split would hand BPE one unlearnable
    // sentence-length "word"; the codepoint-class pretokenizer must yield
    // single-ideograph tokens (and keep letter/digit runs intact)
    val docs = Seq("中文中 数据", "中abc123文", "spark 查询 engine").toDF("text")
    val vm = graft.operators.Bpe.vocabulary(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vm == Map("中" -> 3L, "文" -> 2L, "数" -> 1L, "据" -> 1L,
      "abc" -> 1L, "123" -> 1L, "spark" -> 1L, "查" -> 1L, "询" -> 1L,
      "engine" -> 1L), s"got $vm")
    vm.keys.filter(_.head >= '一').foreach(w =>
      assert(w.length == 1, s"CJK pretoken '$w' must be a single codepoint"))
  }

  test("BPE pretokenizer: Unicode-general — accented Latin/Cyrillic/Greek/kana/Hangul/ext-CJK, zero token loss") {
    // round-12 directive #1: these scripts previously VANISHED from the
    // vocabulary ([a-zA-Z] only). Each word must survive intact; CJK —
    // including Extension A/B and the supplementary plane — stays
    // per-codepoint; NFD combining marks stay attached to their word;
    // U+0387 (Greek ano teleia, sentence punctuation) still separates.
    val extB = new String(Character.toChars(0x20000)) // 𠀀 (supplementary)
    val docs = Seq(
      "café naïve",                    // NFC accented Latin
      "café",                              // NFD: e + combining acute
      "привет мир", // привет мир
      "λόγος·θεός", // λόγος·θεός
      "こんにちは カタカナ",  // こんにちは カタカナ
      "안녕하세요",          // 안녕하세요
      "Trần Vượng",               // Vietnamese (1Exx + 01xx)
      "㐀" + extB + "中").toDF("text")   // extA + extB + core CJK
    val vm = graft.operators.Bpe.vocabulary(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map(
      "café" -> 1L, "naïve" -> 1L, "café" -> 1L,
      "привет" -> 1L, "мир" -> 1L,
      "λόγος" -> 1L, "θεός" -> 1L,
      "こんにちは" -> 1L, "カタカナ" -> 1L,
      "안녕하세요" -> 1L,
      "Trần" -> 1L, "Vượng" -> 1L,
      "㐀" -> 1L, extB -> 1L, "中" -> 1L)
    assert(vm == expected, s"got $vm")
    // CJK singles stay single CODEPOINTS (ext B is 2 UTF-16 units, 1 cp)
    Seq("㐀", extB, "中").foreach(w =>
      assert(w.codePointCount(0, w.length) == 1))
    // the Java and RE2 forms are literally the same string — drift-proof
    assert(graft.operators.Bpe.PretokenPattern ==
      graft.operators.Bpe.PretokenPatternSql)
    // training over the multilingual vocabulary works end to end: the
    // supplementary-plane word symbolizes to its one codepoint, and the
    // NFD word's combining mark is a symbol that can merge
    val vocab = graft.operators.Bpe.vocabulary(docs, "text")
    val seg = graft.operators.Bpe
      .segmentedVocabulary(spark, vocab, cacheKey = "bpe-multilingual-1", k = 4)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    assert(seg(extB) == List(extB), s"ext-B word must stay one symbol: ${seg(extB)}")
    assert(seg.keySet == expected.keySet)
    assert(seg.values.forall(_.nonEmpty), "no word may segment to nothing")
  }

  test("BPE reliable-checkpoint mode (sc.setCheckpointDir) trains the identical merge table") {
    // durability path (round-12 ADVICE): with a checkpoint dir set, rounds
    // snapshot to reliable storage instead of executor-local blocks — the
    // learned merges must be byte-identical either way
    val docs = Seq("ab ab ab", "aab aab", "b b", "cd cd", "aaaa").toDF("text")
    val vocab = graft.operators.Bpe.vocabulary(docs, "text")
    val local = graft.operators.Bpe
      .learnMerges(spark, vocab, cacheKey = "bpe-ckpt-local", k = 3)
      .orderBy($"merge_rank").collect().map(_.toSeq).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val rel = graft.operators.Bpe
        .learnMerges(spark, vocab, cacheKey = "bpe-ckpt-reliable", k = 3)
        .orderBy($"merge_rank").collect().map(_.toSeq).toSeq
      assert(rel == local, s"reliable-checkpoint training drifted: $rel vs $local")
      assert(new java.io.File(dir).listFiles != null &&
        new java.io.File(dir).listFiles.nonEmpty,
        "reliable mode must actually write checkpoint files")
    } finally {
      // SparkContext has no public unset for the checkpoint dir; it stays
      // set (a temp dir) for the rest of the JVM, so later BPE trainings
      // in shared-session suites run in reliable mode — which this test's
      // parity assertion just proved produces identical merge tables.
    }
  }

  test("BPE M=1 == independent sequential implementation (CJK + tie fixture)") {
    // naive reference: plain Scala maps, the textbook sequential algorithm
    def naive(words: Map[String, Long], k: Int): Seq[(Int, String, String, Long, Long)] = {
      var segs: Map[String, (Long, List[String])] =
        words.map { case (w, f) => w -> (f, w.map(_.toString).toList) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
      var stop = false
      while (out.size < k && !stop) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        segs.values.foreach { case (f, ss) =>
          ss.zip(ss.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f) }
        if (counts.isEmpty) stop = true
        else {
          val ((lhs, rhs), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
          segs = segs.map { case (w, (f, ss)) =>
            val acc = scala.collection.mutable.ListBuffer.empty[String]
            ss.foreach { x =>
              if (acc.nonEmpty && acc.last == lhs && x == rhs)
                acc(acc.size - 1) = lhs + rhs
              else acc += x
            }
            w -> (f, acc.toList)
          }
          val nSym = segs.values.map { case (f, ss) => f * ss.size }.sum
          out += ((out.size + 1, lhs, rhs, cnt, nSym))
        }
      }
      out.toSeq
    }
    val docs = Seq("中文中 中文 ab ab", "aab 中文 123 12", "b 文中 ab aa").toDF("text")
    val vocab = graft.operators.Bpe.vocabulary(docs, "text")
    val words = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = graft.operators.Bpe
      .learnMerges(spark, vocab, cacheKey = "bpe-naive-parity", k = 6)
      .orderBy($"merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == naive(words, 6), s"M=1 drifted from the sequential reference: $got")
  }

  test("BPE batched rounds: disjoint-support admission and one-fold application") {
    import graft.operators.Bpe
    // unit: greedy disjoint filter — shared symbol blocks, PRODUCT blocks
    val ranked = Seq(("a", "b", 10L), ("b", "c", 9L), ("x", "y", 8L),
      ("ab", "z", 7L), ("p", "q", 6L))
    assert(Bpe.admitDisjoint(ranked, 3) ==
      Seq(("a", "b", 10L), ("x", "y", 8L), ("p", "q", 6L)))
    // end-to-end, hand-computed on the p34 fixture: batch 1 admits (a,a)
    // [ (a,b) blocked on 'a' ] + (c,d); batch 2 admits (a,b) + (aa,aa)
    // [ (aa,b) blocked on 'b' ]; per-batch n_symbols_after
    val docs = Seq("ab ab ab", "aab aab", "b b", "cd cd", "aaaa").toDF("text")
    val vocab = graft.operators.Bpe.vocabulary(docs, "text")
    val merges = graft.operators.Bpe
      .learnMerges(spark, vocab, cacheKey = "bpe-batched-1", k = 4, batchM = 2)
      .orderBy($"merge_rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(merges.toSeq == Seq(
      (1, "a", "a", 5L, 16L),
      (2, "c", "d", 2L, 16L),
      (3, "a", "b", 3L, 12L),
      (4, "aa", "aa", 1L, 12L)), s"got ${merges.toSeq}")
    // truncation contract: asking for more merges than exist returns the
    // learned prefix, never throws (single-symbol words merge to nothing)
    val tiny = Seq("ab ab").toDF("text")
    val t = graft.operators.Bpe.learnMerges(spark,
        graft.operators.Bpe.vocabulary(tiny, "text"),
        cacheKey = "bpe-truncate-1", k = 10)
      .orderBy($"merge_rank").collect()
    assert(t.length == 1 && t(0).getString(1) == "a" && t(0).getString(2) == "b",
      s"got ${t.toSeq}")
  }

  test("p32 A-ES stability: selected SET invariant across partitionings under near-tie keys") {
    // adversarial fixture: keys equal or 1-2 ulp apart (the judge's
    // worst case for the two-stage heap) — the selected set and ranks
    // must be identical under any shuffle-partition count, input
    // partitioning, and bucket count, because every comparison sees the
    // same exact doubles and exact ties break on doc_id
    def ulps(d: Double, n: Int): Double = {
      var x = d; var i = 0
      while (i < math.abs(n)) { x = if (n > 0) Math.nextUp(x) else Math.nextDown(x); i += 1 }
      x
    }
    val base = math.log(0.5) / 7.0
    val rows = (0L until 40L).map { id =>
      val k = (id % 5) match {
        case 0 => base
        case 1 => ulps(base, 1)
        case 2 => ulps(base, -1)
        case 3 => base // exact tie with case 0 -> doc_id must decide
        case _ => ulps(base, 2)
      }
      ("s" + (id % 2), id, k)
    }
    val expected = rows.groupBy(_._1).flatMap { case (_, rs) =>
      rs.sortBy { case (_, id, k) => (-k, id) }.take(10).zipWithIndex
        .map { case ((g, id, _), i) => (g, i + 1, id) }
    }.toSet
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (parts <- Seq(1, 4, 7)) {
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        val df = rows.toDF("source", "doc_id", "k").repartition(parts)
        val got = graft.operators.Rank.topKPerGroup(df, Seq($"source"),
            Seq($"k".desc, $"doc_id"), 10, rankCol = "rk")
          .select($"source", $"rk", $"doc_id").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
        assert(got == expected,
          s"selection drifted at shufflePartitions=$parts")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
