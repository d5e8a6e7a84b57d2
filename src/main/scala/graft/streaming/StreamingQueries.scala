package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Fns.cents

/** Structured Streaming counterparts of the e1–e4 event queries (SURVEY
  * §2.6 / M6). Each transform takes the streaming events frame and produces
  * an incremental aggregation whose *final* state equals the batch answer —
  * verified by StreamingEquivalenceTest via file-source replay.
  *
  * Scale design: these are the shapes a 100 TB event pipeline runs
  * continuously — tumbling/sliding windows with watermarks for bounded
  * state, session windows keyed by user, and id-dedup via dropDuplicates
  * (with `dropDuplicatesWithinWatermark` as the bounded-state variant when
  * the id space is unbounded).
  */
object StreamingQueries {

  /** Raw parquet schema of `events` with the ns-timestamp read as BIGINT
    * (same convention as the batch loader). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source replay of an events directory: one file per micro-batch. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withColumn("ts_us", expr("ts DIV 1000"))
      .withColumn("ev_time", timestamp_micros(col("ts_us")))
  }

  /** Rate-source twin of [[eventsStream]]: Spark's built-in
    * `rate-micro-batch` source mapped deterministically onto the events
    * schema — proves the transforms are SOURCE-AGNOSTIC (any source that
    * yields this schema feeds them unchanged: files in the replay twins,
    * rate here, Kafka in production — SCALE.md "Streaming sources"). */
  def rateEventsStream(spark: SparkSession, totalRows: Long,
                       rowsPerBatch: Int = 500): DataFrame =
    synthEventsFromIndex(
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rowsPerBatch.toString)
        .option("numPartitions", "2")
        .load()
        .select(col("value")), totalRows)

  /** Deterministic row-index → event mapping shared by [[rateEventsStream]]
    * and its batch oracle (`spark.range`): event ids FOLD IN HALF so every
    * id arrives exactly twice (dedup has real work), event time is monotone
    * in the index (time-ordered replay, no late rows), types/values cycle.
    * `totalRows` must be EVEN — an odd total would make id 0 arrive three
    * times and break the exactly-twice contract (and the n/2 dedup fixed
    * point the rate-source test asserts). */
  def synthEventsFromIndex(idx: DataFrame, totalRows: Long): DataFrame = {
    require(totalRows % 2 == 0,
      s"synthEventsFromIndex needs an even totalRows (got $totalRows): " +
        "ids fold as value % (totalRows/2), so an odd total delivers id 0 three times")
    idx.filter(col("value") < totalRows)
      .select(
        (col("value") % (totalRows / 2)).as("event_id"),
        (lit(1700000000000000000L) + col("value") * 90L * 1000000000L).as("ts"),
        (col("value") % 50).as("user_id"),
        concat(lit("type_"), col("value") % 5).as("event_type"),
        ((col("value") % 1000).cast("double") / lit(7.0)).as("value"),
        lit("{}").as("props"))
      .withColumn("ts_us", expr("ts DIV 1000"))
      .withColumn("ev_time", timestamp_micros(col("ts_us")))
  }

  /** e1 counterpart: tumbling 1 h window per event_type, watermarked. */
  def hourlyTumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ev_time", "2 hours")
      .groupBy(window(col("ev_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      .select(
        (unix_micros(col("window.start")) / lit(3600000000L)).cast("long").as("hour_bucket"),
        col("event_type"), col("n"),
        (col("value_cents").cast("double") / lit(100.0)).as("sum_value"))

  /** e10 counterpart: chained time-window aggregation (Spark 3.4+) — the
    * hourly count stream re-windowed by day via `window_time`, giving the
    * daily peak hourly rate per type. Two stateful aggregations in ONE
    * query; the second consumes the first's finalized hour windows, so its
    * state is ≤ 24×types rows per day. Append mode (both watermarked). */
  def dailyPeakHour(events: DataFrame): DataFrame =
    events
      .withWatermark("ev_time", "2 hours")
      .groupBy(window(col("ev_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(window_time(col("window")), "1 day"), col("event_type"))
      .agg(max(col("n")).as("peak_hourly_n"), sum(col("n")).as("day_n"))
      .select(
        (unix_micros(col("window.start")) / lit(86400000000L)).cast("long").as("day_bucket"),
        col("event_type"), col("peak_hourly_n"), col("day_n"))

  /** e2 counterpart: 1 h window sliding every 15 min. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ev_time", "2 hours")
      .groupBy(window(col("ev_time"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(
        (unix_micros(col("window.start")) / lit(900000000L)).cast("long").as("win_start"),
        col("n"))

  /** e3 counterpart: per-user session windows with a 30 min gap. Emits one
    * row per (user, session-start) whose last update is the final session. */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ev_time", "2 hours")
      .groupBy(session_window(col("ev_time"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
      .select(unix_micros(col("session_window.start")).as("sess_start_us"),
        col("user_id"), col("n_ev"), col("dur_us"))

  /** e12 counterpart: DYNAMIC-gap session windows — the gap is an
    * expression of the event (purchases hold 60 min, others 30). Spark
    * merges half-open [ts, ts+gap) windows transitively, which is exactly
    * e12's batch running-max break rule (`ts ≥ prev_end` starts a session),
    * so the per-session rows roll up to the identical per-user stats. */
  def dynamicSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ev_time", "2 hours")
      .groupBy(session_window(col("ev_time"),
          when(col("event_type") === "purchase", "60 minutes")
            .otherwise("30 minutes")),
        col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
      .select(unix_micros(col("session_window.start")).as("sess_start_us"),
        col("user_id"), col("n_ev"))

  /** e4 counterpart: exact stream dedup on event_id. */
  def dedupCount(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id").groupBy().agg(count(lit(1)).as("n_ids"))

  /** Production-shape dedup: `dropDuplicatesWithinWatermark` keeps state
    * only until the watermark passes an id's event time — bounded state at
    * ANY stream length, vs [[dedupCount]]'s unbounded exact set. Correct
    * whenever duplicates arrive within the watermark of the original (the
    * at-least-once-delivery retry window); replay-tested against injected
    * duplicate batches. */
  def dedupCountBounded(events: DataFrame): DataFrame =
    events
      .withWatermark("ev_time", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy().agg(count(lit(1)).as("n_ids"))

  /** e5 counterpart: stream-static enrichment — each micro-batch broadcast-
    * joins the STATIC customer dimension (re-read per batch, no state), then
    * feeds the running aggregation. At 100 TB the static side is the
    * dimension snapshot; only the aggregation keeps state. */
  def streamStaticSegments(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("value_cents"))
      .select(col("c_mktsegment"), col("event_type"), col("n"),
        (col("value_cents").cast("double") / lit(100.0)).as("sum_value"))

  /** e6 counterpart: STREAM-STREAM interval join — purchases matched to
    * error events of the same user within the preceding hour. Both sides
    * are watermarked so the join state is bounded: a buffered error row can
    * be dropped once the purchase watermark passes its time + 1 h. Emits
    * the matched PAIRS (append mode); the equivalence test aggregates both
    * forms identically. */
  def streamStreamErrors(purchases: DataFrame, errors: DataFrame): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .withWatermark("ev_time", "2 hours")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("ev_time"))
    val e = errors.filter(col("event_type") === "error")
      .withWatermark("ev_time", "2 hours")
      .select(col("user_id").as("e_user"), col("event_id").as("err_id"),
        col("ts_us").as("err_us"), col("ev_time").as("err_time"))
    p.join(e,
      col("user_id") === col("e_user") &&
        col("err_time") <= col("ev_time") &&
        col("err_time") >= col("ev_time") - expr("INTERVAL 1 HOUR") &&
        col("err_us") <= col("ts_us") && col("err_us") > col("ts_us") - 3600000000L)
      .select(col("user_id"), col("event_id"), col("err_id"))
  }

  /** e7 counterpart: LEFT OUTER stream-stream interval join — purchases
    * WITHOUT a recent error must also flow downstream (the enrich-or-null
    * shape). Spark buffers an unmatched left row until the watermark proves
    * no matching right row can still arrive, then emits it with NULL error
    * columns — so the outer side is exact, not best-effort, and state stays
    * bounded by the same 2 h watermark as the inner e6 join. Watermarks are
    * stamped BEFORE the event-type filters so a replay sentinel can advance
    * them (the e3 flush technique). */
  def streamStreamErrorsOuter(purchases: DataFrame, errors: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ev_time", "2 hours")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"), col("ev_time"))
    val e = errors.withWatermark("ev_time", "2 hours")
      .filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_id").as("err_id"),
        col("ts_us").as("err_us"), col("ev_time").as("err_time"))
    p.join(e,
      col("user_id") === col("e_user") &&
        col("err_time") <= col("ev_time") &&
        col("err_time") >= col("ev_time") - expr("INTERVAL 1 HOUR") &&
        col("err_us") <= col("ts_us") && col("err_us") > col("ts_us") - 3600000000L,
      "left_outer")
      .select(col("user_id"), col("event_id"), col("err_id"))
  }

  /** Raw parquet schema of `documents` (for the file-source replay). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source replay of a documents directory: one file per micro-batch. */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(documentsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** Trajectory-row replay schema (one row per trajectory: id + arrays). */
  val trajSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("xs", ArrayType(DoubleType)),
    StructField("ys", ArrayType(DoubleType))))

  /** File-source replay of trajectory rows: one file per batch. */
  def trajStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(trajSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** t28 counterpart: CONTINUOUS spatial ingest gate — each arriving
    * trajectory (one row: user_id + coordinate arrays) is probed against
    * the STATIC corpus in one stateless stream-static join, the d14/d18/v11
    * gate shape carried to trajectory space. Slice boxes derive map-side
    * (pure column expressions), the codegen'd sliced-box lower bound prunes
    * the broadcast corpus in the join condition, and the early-abandoning
    * exact kernel verifies survivors IN-ROW (exact at/below tau+1e-5,
    * certificate above — the rounded compare cannot misclassify an
    * abandoned pair). Emits (cu, bu, h) close pairs in append mode; admit =
    * no emitted pair for bu. No watermark, no state store, nothing buffered
    * between micro-batches — replay-order-independent by construction. */
  def streamTrajGate(newTrajs: DataFrame, corpus0: DataFrame, tau: Double): DataFrame = {
    val s = corpus0.sparkSession
    graft.functions.SlicedBoxLb.register(s)
    val corpus = graft.Tables.withSliceBoxes(corpus0)
      .select(col("user_id").as("cu"), col("xs").as("cxs"),
        col("ys").as("cys"), col("boxes").as("cboxes"))
    val batch = graft.Tables.withSliceBoxes(newTrajs)
      .select(col("user_id").as("bu"), col("xs").as("bxs"),
        col("ys").as("bys"), col("boxes").as("bboxes"))
    // the 1e-6 bound and 1e-5 abandon margins of the batch gate's search
    // (TrajectorySearch.searchQuerySet states why they are exact)
    batch.join(broadcast(corpus),
        graft.operators.TrajectorySearch.slicedBoxLb("bboxes", "cboxes") <= tau + 1e-6)
      .withColumn("h", round(graft.functions.MetricCol("hausdorff",
        col("bxs"), col("bys"), col("cxs"), col("cys"), lit(tau + 1e-5)), 6))
      .filter(col("h") <= tau)
      .select(col("cu"), col("bu"), col("h"))
  }

  /** t30/t31's counterpart: CONTINUOUS geofence attribution — the shape a
    * telemetry ingest runs on arriving GPS points. Entirely STATELESS: the
    * fence table (with precomputed bbox grid cells) broadcasts, each
    * arriving point equi-joins its ONE home cell, the closed-bbox residual
    * prunes, and the exact edge-array ray-cast fold refines IN-ROW — the
    * t30 plan applied per micro-batch. Emits one (fence_id, user_id,
    * event_id, dt_us) hit row per inside point in append mode; per-fence
    * counts (t30) and dwell sums (t31) aggregate downstream — the
    * equivalence test aggregates the sink and matches both batch queries
    * exactly. `points` must carry (user_id, event_id, x, y, dt_us): this
    * layer's contract is the attribution join alone — when the dwell gap
    * is not enriched upstream, compose with [[streamDwellPoints]] (the
    * keyed-state derivation) via [[streamGeofenceDwell]]. No watermark,
    * no state store HERE — replay-order-independent by construction. */
  def streamGeofence(points: DataFrame): DataFrame = {
    val s = points.sparkSession
    graft.operators.GeofenceJoin
      .attribute(points, s.createDataFrame(graft.geo.Fences.all))
      .select(col("fence_id"), col("user_id"), col("event_id"), col("dt_us"))
  }

  /** One dwell-enriched point: t31's `(point, dt)` row, derived IN-STREAM. */
  final case class DwellPoint(user_id: Long, event_id: Long,
                              x: Double, y: Double, dt_us: Long)
  /** One buffered (not-yet-finalized) point of a user. */
  final case class PendingPoint(ts_us: Long, event_id: Long,
                                x: Double, y: Double)
  /** Per-user dwell state: the event-time-sorted unfinalized tail. */
  final case class DwellBuffer(pts: List[PendingPoint])

  /** KEYED-STATE dwell derivation (round-12 directive #3): enrich each
    * arriving point with the µs gap to its user's NEXT point — the t31
    * window computed incrementally, closing the gap `streamGeofence`'s
    * scaladoc conceded needed upstream enrichment.
    *
    * Exactness under out-of-order arrival: a point P finalizes only when
    * its buffered successor S satisfies ts_S < watermark — past that, no
    * admissible future row (all have ev_time ≥ watermark) can land in
    * (ts_P, ts_S) or tie S at ts_S, so S is provably THE successor in
    * (ts, event_id) order and P's dwell equals the batch lead-window gap.
    * New rows merge into the user's sorted buffer, so arrival order never
    * matters (late rows beyond the watermark delay are dropped by the
    * watermark, as in every stateful op).
    *
    * The LAST point has no successor; batch t31 gives it dt = 0. An
    * unbounded stream can't know "last", so `horizonUs` is the
    * dwell-session horizon: when the watermark passes ts_last + horizon
    * with no successor (event-time timeout), the point finalizes with
    * dt = 0 — i.e. a gap longer than the horizon attributes NO dwell
    * (the telemetry session-break convention). Replay ≡ batch exactly
    * whenever every true per-user gap is under the horizon, which the
    * equivalence test pins with a far-future sentinel.
    *
    * State is BOUNDED: the buffer holds only points newer than
    * (watermark − delay) minus the one open tail point — emitted points
    * leave the buffer immediately, so per-user state tracks the
    * watermark lag, not the user's history (asserted in the test via the
    * query's stateOperators progress).
    *
    * `points` must carry (user_id, event_id, x, y, ts_us, ev_time). */
  def streamDwellPoints(points: DataFrame, watermarkDelay: String,
                        horizonUs: Long): Dataset[DwellPoint] = {
    val s = points.sparkSession
    import s.implicits._
    points
      .withWatermark("ev_time", watermarkDelay)
      .select(col("user_id"), col("event_id"), col("x"), col("y"),
        col("ts_us"), col("ev_time"))
      .as[(Long, Long, Double, Double, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[DwellBuffer, DwellPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long,
         it: Iterator[(Long, Long, Double, Double, Long, java.sql.Timestamp)],
         state: GroupState[DwellBuffer]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // merge new rows (if any — a timeout invocation has none) into
          // the sorted buffer; (ts, event_id) is the batch window's order
          val merged = (state.getOption.map(_.pts).getOrElse(Nil) ++
            it.map(r => PendingPoint(r._5, r._2, r._3, r._4)))
            .sortBy(p => (p.ts_us, p.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[DwellPoint]
          var buf = merged
          // drain every point whose successor is watermark-final
          while (buf.lengthCompare(2) >= 0 && buf(1).ts_us < wmUs) {
            val p = buf.head
            out += DwellPoint(user, p.event_id, p.x, p.y,
              buf(1).ts_us - p.ts_us)
            buf = buf.tail
          }
          // horizon-final tail: no successor arrived within the horizon
          if (buf.lengthCompare(1) == 0 && buf.head.ts_us + horizonUs < wmUs) {
            val p = buf.head
            out += DwellPoint(user, p.event_id, p.x, p.y, 0L)
            buf = Nil
          }
          if (buf.isEmpty) state.remove()
          else {
            state.update(DwellBuffer(buf))
            // wake when the head's finalize-at time passes: its successor's
            // event time, or the horizon if it IS the open tail (strictly
            // beyond the current watermark, as the API requires)
            val finalizeAtUs =
              if (buf.lengthCompare(2) >= 0) buf(1).ts_us
              else buf.head.ts_us + horizonUs
            state.setTimeoutTimestamp(
              math.max(finalizeAtUs / 1000L + 1L,
                state.getCurrentWatermarkMs() + 1L))
          }
          out.iterator
      }
  }

  /** t31's END-TO-END streaming twin: raw points (no upstream dt) →
    * keyed-state dwell enrichment → the broadcast geofence attribution.
    * Aggregating the emitted hit rows per fence reproduces batch t30's
    * counts AND t31's dwell sums exactly once the watermark finalizes
    * every point (StreamingEquivalenceTest). */
  def streamGeofenceDwell(points: DataFrame, watermarkDelay: String,
                          horizonUs: Long): DataFrame =
    streamGeofence(
      streamDwellPoints(points, watermarkDelay, horizonUs).toDF())

  /** Embeddings replay schema (fixed dim 64, float). */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source replay of an embeddings directory: one file per batch. */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(embeddingsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** v11's incremental SEMANTIC gate as a continuous stream — the
    * embedding-space form of [[streamIncrementalGate]]: each arriving
    * vector routes to the FROZEN coarse centroids per row (stateless; the
    * nlist×dim centers ride the closure, exactly [[ivfRoute]]'s argmin
    * arithmetic with its lowest-list tie-break), then a stream-static join
    * against the broadcast corpus cluster members rejects at cosine ≥
    * threshold. No watermark, no state store; pairwise ≡ the batch gate
    * under replay (StreamingEquivalenceTest). */
  def streamSemanticGate(newVecs: DataFrame, corpusAssigned: DataFrame,
                         centers: Array[Array[Double]],
                         threshold: Double): DataFrame = {
    val s = newVecs.sparkSession
    graft.functions.FloatDotProduct.register(s)
    val route = udf((emb: Seq[Float]) => {
      var best = 0; var bestD = Double.MaxValue; var i = 0
      while (i < centers.length) {
        val c = centers(i); var d = 0.0; var j = 0
        while (j < c.length) { val t = emb(j).toDouble - c(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = i } // strict < keeps lowest list on ties
        i += 1
      }
      best
    })
    val routed = newVecs
      .select(col("vec_id").as("new_id"), col("embedding").as("e2"))
      .withColumn("list_id", route(col("e2")))
      .withColumn("n2", sqrt(expr("graft_dot(e2, e2)")))
    val corpus = corpusAssigned.select(col("list_id").as("l1"),
      col("vec_id").as("old_id"), col("embedding").as("e1"),
      sqrt(expr("graft_dot(embedding, embedding)")).as("n1"))
    routed.join(broadcast(corpus), col("list_id") === col("l1"))
      .withColumn("dot", expr("graft_dot(e1, e2)"))
      .filter(col("dot") >= lit(threshold) * col("n1") * col("n2"))
      .select(col("old_id"), col("new_id"), col("list_id"),
        round(col("dot") / (col("n1") * col("n2")), 6).as("cosine"))
  }

  /** d5 counterpart: CONTINUOUS benchmark decontamination — the shape a
    * 100 TB ingest pipeline runs on arriving documents. Entirely STATELESS:
    * per-doc shingling is map-side, the Bloom probe is a broadcast filter,
    * and the exact benchmark join is stream-static — no watermark, no state
    * store, nothing buffered between micro-batches. Emits (doc_id, shingle)
    * hit rows in append mode; per-doc hit counts aggregate downstream (the
    * equivalence test aggregates the sink and matches batch d5 exactly). */
  def streamDecontaminate(docs: DataFrame, benchShingles: DataFrame): DataFrame =
    graft.operators.Decontaminate.probableHits(
      graft.operators.Decontaminate.wordShingles(
        docs.select(col("doc_id"), col("text")), 3),
      benchShingles)

  /** d14 counterpart: CONTINUOUS incremental-ingestion dedup — each
    * arriving document is probed against the STATIC corpus in one
    * stateless stream-static join (admit = no emitted hit), the production
    * gate a 100 TB ingest pipeline runs before anything persists.
    *
    * The corpus side is the d14 mask strategy's index artifact
    * (`DocSimilarity.corpusMaskGroups`, batch-built once per corpus
    * snapshot, broadcast here). The arriving doc's token mask is a pure
    * per-row expression over the vocabulary literal — no explode, no
    * streaming aggregation, no state store, no watermark — so the gate is
    * append-mode stateless exactly like [[streamDecontaminate]]. Emits one
    * (old_id, new_id, lang, jaccard) row per qualifying corpus pair,
    * identical to the batch cross join (equivalence-tested pairwise).
    *
    * Scope: the vocabulary must be mask-capable (≤ `MaxMaskVocab`, the
    * same measured bound d14's own strategy chooser uses). The big-vocab
    * streaming form explodes tokens through a broadcast dictionary join
    * and re-aggregates in update mode instead — same semantics, stateful.
    * Out-of-vocabulary tokens in an arriving doc are EXACT, not lossy:
    * they count in `c2` (the union side) but can never intersect the
    * corpus — which is precisely their Jaccard contribution. */
  def streamIncrementalGate(newDocs: DataFrame, corpusGroups: DataFrame,
                            vocab: Array[String]): DataFrame = {
    val nWords = math.max(1, (vocab.length + 63) / 64)
    val vlit = array(vocab.sorted.map(lit): _*)
    val masked = newDocs
      .select(col("doc_id"), col("lang"),
        expr("array_distinct(filter(split(text, ' '), x -> x <> ''))").as("toks"))
      .withColumn("vv", vlit)
      .select(col("doc_id"), col("lang"), size(col("toks")).cast("long").as("c2"),
        array((0 until nWords).map(w => expr(
          s"""aggregate(toks, CAST(0 AS BIGINT), (acc, t) ->
             |  CASE WHEN array_position(vv, t) > 0
             |            AND (array_position(vv, t) - 1) DIV 64 = $w
             |       THEN acc | shiftleft(CAST(1 AS BIGINT),
             |                            CAST((array_position(vv, t) - 1) % 64 AS INT))
             |       ELSE acc END)""".stripMargin)): _*).as("m2"))
    val g = corpusGroups.select(col("lang").as("lang1"), col("mask").as("m1"),
      col("c").as("c1"), col("docs").as("docs1"))
    // popcount intersection unrolled over the statically-known word count —
    // whole-stage codegen instead of an interpreted zip_with/aggregate
    // lambda per (row × corpus group) (the DocSimilarity.maskInterCol fix;
    // measured 7.4× on the batch twin's cold pair build)
    masked.join(broadcast(g), col("lang") === col("lang1"))
      .withColumn("i", (0 until nWords)
        .map(w => expr(s"bit_count(m1[$w] & m2[$w])"))
        .reduce(_ + _).cast("long"))
      .withColumn("u", col("c1") + col("c2") - col("i"))
      .filter(lit(5) * col("i") >= lit(3) * col("u"))
      .select(explode(col("docs1")).as("old_id"), col("doc_id").as("new_id"),
        col("lang"), round(col("i").cast("double") / col("u"), 6).as("jaccard"))
  }

  /** d18 counterpart: CONTINUOUS MinHash-LSH ingest gate — each arriving
    * document computes its own signature per row (pure projection, the
    * same seeded hash family as the batch gate) and probes the broadcast
    * corpus side in one stateless stream-static join: a pair is a
    * candidate iff SOME band's signature slice matches
    * (`exists` over band slices — one row per pair, so no streaming
    * `distinct`/state store is ever needed), and every candidate is
    * exact-verified in the same row via `array_intersect` over the two
    * distinct-token sets before a rejection is emitted. Append-mode
    * stateless exactly like [[streamIncrementalGate]].
    *
    * The broadcast carries (sig, toks) per corpus doc — candidates AND
    * verification ride one artifact here for the stateless demonstration;
    * at 100 TB the broadcast half is the 16-long banded index (what
    * `minhashIngestGate` persists) and the verify half runs as the
    * downstream batch join against the corpus store, same semantics. */
  def streamMinhashGate(newDocs: DataFrame, corpusSigs: DataFrame,
                        k: Int = 16, bands: Int = 8): DataFrame = {
    val r = k / bands
    val probe = graft.operators.Sketches.minhashSignatures(newDocs, k)
    val c = corpusSigs.select(col("doc_id").as("old_id"),
      col("lang").as("lang1"), col("sig").as("sig1"), col("toks").as("toks1"))
    probe.join(broadcast(c), col("lang") === col("lang1") &&
        expr(s"""exists(sequence(0, ${bands - 1}),
                |       b -> slice(sig, b * $r + 1, $r) = slice(sig1, b * $r + 1, $r))"""
          .stripMargin))
      .withColumn("i", size(array_intersect(col("toks"), col("toks1"))).cast("long"))
      .withColumn("u",
        size(col("toks1")).cast("long") + size(col("toks")).cast("long") - col("i"))
      .filter(lit(5) * col("i") >= lit(3) * col("u"))
      .select(col("old_id"), col("doc_id").as("new_id"), col("lang"),
        round(col("i").cast("double") / col("u"), 6).as("jaccard"))
  }

  /** p16 counterpart: CONTINUOUS PII scrubbing at ingest — the redaction
    * pass runs BEFORE anything else persists the text, so it must be a
    * stateless map over arriving documents: per-row regex counts + masked
    * text, no state store, no watermark. Emits one scrubbed row per doc in
    * append mode; the audit aggregation runs downstream (equivalence test
    * matches batch PiiScrub.audit exactly). */
  def streamPiiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.operators.PiiScrub.matchCount(col("text"), "email").as("n_email"),
      graft.operators.PiiScrub.matchCount(col("text"), "ipv4").as("n_ip"),
      graft.operators.PiiScrub.matchCount(col("text"), "number").as("n_num"),
      graft.operators.PiiScrub.scrubbed(col("text")).as("masked"))

  /** One gate decision: the doc, its source, and whether it was admitted. */
  final case class QuotaAdmit(doc_id: Long, source: String, admitted: Boolean)

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** p27 counterpart: temperature-mix QUOTA GATE at ingest — admit an
    * arriving document iff its source's quota is not yet exhausted, the
    * ingest-time form of temperature-weighted source mixing. State is ONE
    * admitted-count per source (bounded by #sources — nothing buffers);
    * the quota map is p27's bounded per-source rollup (≈ #sources rows),
    * shipped as a broadcast.
    *
    * Within a micro-batch a source's rows are admitted in the SAMPLING-KEY
    * order (md5(doc_id), doc_id) — the same deterministic order batch p27
    * ranks by — so a replay that arrives in sampling-key order reproduces
    * the batch kept SET exactly (StreamingEquivalenceTest). A production
    * first-come-first-served ingest runs the identical gate in arrival
    * order: same quotas, same state bound, the admitted set is then the
    * arrival-order prefix per source. */
  def streamQuotaGate(docs: DataFrame, quotas: Map[String, Long]): Dataset[QuotaAdmit] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bq = spark.sparkContext.broadcast(quotas)
    docs.select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, QuotaAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[(Long, String)], state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val quota = bq.value.getOrElse(src, 0L)
          val out = it.map(_._1).toArray
            .sortBy(id => (md5Hex(id.toString), id))
            .map { id =>
              val admit = n < quota
              if (admit) n += 1
              QuotaAdmit(id, src, admit)
            }
          state.update(n)
          out.iterator
      }
  }

  /** One emitted session: (user_id, session start µs, event count, duration µs). */
  final case class Session(user_id: Long, start_us: Long, n_ev: Long, dur_us: Long)
  /** Open-session state carried between micro-batches. */
  final case class OpenSession(start_us: Long, last_us: Long, n_ev: Long)

  /** Custom stateful sessionization via flatMapGroupsWithState (the
    * `KeyValueGroupedDataset` custom-state surface): same 30-min-gap
    * semantics as e3 / session_window, but with explicit per-user state and
    * event-time timeouts — the shape to reach for when session logic stops
    * being expressible as a gap window (e.g. conversion funnels).
    * Closed sessions emit immediately; the open session emits when the
    * watermark passes its end (event-time timeout).
    */
  def sessionizeCustom(events: DataFrame, gapUs: Long = 1800000000L): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ev_time", "2 hours")
      // ev_time must survive the projection so the watermark reaches the
      // stateful operator (event-time timeout requires it)
      .select(col("user_id"), col("ts_us"), col("ev_time"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[(Long, Long, java.sql.Timestamp)], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start_us, s.n_ev, s.last_us - s.start_us))
          } else {
            val ts = it.map(_._2).toArray.sorted
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            var cur = state.getOption
            ts.foreach { t =>
              cur match {
                case Some(s) if t - s.last_us > gapUs =>
                  out += Session(user, s.start_us, s.n_ev, s.last_us - s.start_us)
                  cur = Some(OpenSession(t, t, 1))
                case Some(s) =>
                  cur = Some(OpenSession(s.start_us, math.max(s.last_us, t), s.n_ev + 1))
                case None =>
                  cur = Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // event-time timeout fires once the watermark passes session end
              state.setTimeoutTimestamp((s.last_us + gapUs) / 1000)
            }
            out.iterator
          }
      }
  }

  /** One funnel snapshot: the user's min-chain state after a micro-batch. */
  final case class FunnelRow(user_id: Long, stage: Long,
                             v_us: Option[Long], c_us: Option[Long], p_us: Option[Long])
  /** Buffered per-user funnel state. The view stage only needs its min
    * (monotone), but clicks/purchases must stay buffered: a LATER-arriving
    * earlier view can make a previously-ineligible click eligible, so the
    * chain is not incrementally computable from scalar mins. State is
    * bounded by the user's click+purchase count inside the retention
    * horizon; production would add an event-time timeout like
    * sessionizeCustom to drop users the watermark has passed. */
  final case class FunnelState(vMin: Long, clicks: List[Long], purchases: List[Long])

  /** e8 counterpart: the view → click → purchase min-chain as explicit
    * per-user state (flatMapGroupsWithState, Update mode). Each micro-batch
    * the group re-derives (v_us, c_us, p_us) from buffered state and emits
    * one snapshot row; the LAST snapshot per user equals batch e8 exactly
    * (verified by StreamingEquivalenceTest) because the final state has
    * seen every event, in any arrival order. */
  def funnelCustom(events: DataFrame): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_type"), col("ts_us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, String, Long)], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(Long.MaxValue, Nil, Nil))
          it.foreach {
            case (_, "view", t) => if (t < s.vMin) s = s.copy(vMin = t)
            case (_, "click", t) => s = s.copy(clicks = t :: s.clicks)
            case (_, "purchase", t) => s = s.copy(purchases = t :: s.purchases)
            case _ =>
          }
          state.update(s)
          val v = if (s.vMin == Long.MaxValue) None else Some(s.vMin)
          val c = v.flatMap(t => s.clicks.filter(_ >= t).minOption)
          val p = c.flatMap(t => s.purchases.filter(_ >= t).minOption)
          val stage = if (p.isDefined) 3L else if (c.isDefined) 2L else if (v.isDefined) 1L else 0L
          Iterator.single(FunnelRow(user, stage, v, c, p))
      }
  }

  final case class AsofRow(user_id: Long, n_after_err: Long, sum_us: Long,
                           buf_rows: Long)

  /** Watermark-bounded per-user state for [[asofLastErrorCustom]]. The
    * as-of running MAX is order-sensitive — a late-arriving error
    * re-assigns `last_err` for every later event — so only the suffix the
    * watermark has NOT passed stays buffered (`buf`, kept SORTED by the
    * tie-free (ts_us, event_id); each batch merges its sorted delta in
    * linearly — never a full re-sort). Once no event older than the
    * watermark can arrive, the finalized prefix collapses into the
    * (lastErr, n, sum) scalars and its rows drop: state is O(events inside
    * the watermark delay), not O(stream life). Events below the collapsed
    * boundary (beyond the lateness guarantee) are dropped, the standard
    * watermark contract. */
  final case class AsofState(upToUs: Long, lastErr: Long, n: Long, sum: Long,
                             buf: List[(Long, Long, Boolean)])

  /** w6 counterpart: as-of "time since last error" enrichment as explicit
    * per-user state (flatMapGroupsWithState, Update mode). Each micro-batch
    * merges its sorted delta into the buffered suffix, collapses the
    * watermark-finalized prefix into scalars, and emits the user's current
    * (count, Σ ts−last_err) snapshot in EXACT integer µs (scalars + one
    * pass over the bounded suffix); the LAST snapshot per user equals
    * batch w6 for any arrival order within `delay`. */
  def asofLastErrorCustom(events: DataFrame,
                          delay: String = "24 hours"): Dataset[AsofRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ev_time", delay)
      // ev_time must survive the projection so the watermark reaches the
      // stateful operator (getCurrentWatermarkMs requires it)
      .select(col("user_id"), col("ts_us"), col("event_id"),
        (col("event_type") === "error").as("is_err"), col("ev_time"))
      .as[(Long, Long, Long, Boolean, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[(Long, Long, Long, Boolean, java.sql.Timestamp)],
         state: GroupState[AsofState]) =>
          val s0 = state.getOption.getOrElse(
            AsofState(Long.MinValue, Long.MinValue, 0L, 0L, Nil))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // sorted delta (tie-free), dropping rows beyond the guarantee
          val delta = it.map(e => (e._2, e._3, e._4)).toArray
            .filter(e => s0.upToUs == Long.MinValue || e._1 >= s0.upToUs)
            .sortBy(e => (e._1, e._2))
          // linear merge of two sorted runs
          val merged = {
            val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Boolean)]
            var (a, b) = (s0.buf, delta.toList)
            while (a.nonEmpty && b.nonEmpty) {
              val (ha, hb) = (a.head, b.head)
              if (ha._1 < hb._1 || (ha._1 == hb._1 && ha._2 <= hb._2)) {
                out += ha; a = a.tail
              } else { out += hb; b = b.tail }
            }
            out ++= a; out ++= b
            out.toList
          }
          // collapse the watermark-finalized prefix (strictly below wm —
          // rows AT the watermark may still legally arrive) into scalars
          val (fin, keep) = merged.span(_._1 < wmUs)
          var (lastErr, n, sum) = (s0.lastErr, s0.n, s0.sum)
          fin.foreach { case (ts, _, err) =>
            if (err) lastErr = ts
            if (lastErr != Long.MinValue) { n += 1; sum += ts - lastErr }
          }
          state.update(AsofState(math.max(s0.upToUs, wmUs), lastErr, n, sum, keep))
          // snapshot = collapsed scalars + one pass over the bounded suffix
          var (le, nn, ss) = (lastErr, n, sum)
          keep.foreach { case (ts, _, err) =>
            if (err) le = ts
            if (le != Long.MinValue) { nn += 1; ss += ts - le }
          }
          if (nn == 0) Iterator.empty
          else Iterator.single(AsofRow(user, nn, ss, keep.length.toLong))
      }
  }

  final case class AnomalyRow(event_type: String, hr: Long, n: Long, trail_sum: Long)

  /** Watermark-bounded per-type state for [[rateAnomalyCustom]]: hourly
    * counts retained ONLY for (a) hours the watermark has not yet
    * finalized (they can still change — a late event within the delay
    * flips verdicts downstream of it) and (b) the trailing 24 OBSERVED
    * hours below `finalHr`, the lookback context every not-yet-final hour
    * needs. Everything older is evicted after its FINAL verdict is
    * emitted: state is ≤ 24 + O(delay-window hours) entries per type, not
    * O(stream life). */
  final case class RateState(finalHr: Long, counts: Map[Long, Long])

  /** e11 counterpart: trailing-24-observed-hours 3σ rate anomaly as
    * explicit per-type state (flatMapGroupsWithState), redesigned round 10
    * from an unbounded re-emit-everything snapshot to the production
    * FINALIZE-ON-WATERMARK contract: a verdict row is emitted exactly once,
    * when the watermark passes its hour (same all-integer
    * (24n−S)² > 9(24Q−S²) test over the 24 preceding OBSERVED hours);
    * downstream appends. An event-time timeout re-arms each batch so types
    * silent in a micro-batch still finalize as the watermark advances. The
    * hr = −1 sentinel per invocation carries (retained-entry count,
    * finalHr) for state-bound observability. Union of emitted verdicts
    * equals batch e11 for any arrival order within `delay` once the
    * watermark passes the data (StreamingEquivalenceTest flushes with a
    * far-future sentinel event). */
  def rateAnomalyCustom(events: DataFrame,
                        delay: String = "24 hours"): Dataset[AnomalyRow] = {
    val spark = events.sparkSession
    import spark.implicits._

    def finalize(typ: String, state: GroupState[RateState],
                 deltas: Iterator[Long]): Iterator[AnomalyRow] = {
      val s0 = state.getOption.getOrElse(RateState(Long.MinValue, Map.empty))
      val wmHour = state.getCurrentWatermarkMs() * 1000L / 3600000000L
      var counts = s0.counts
      deltas.foreach { hr =>
        // rows below finalHr are beyond the lateness guarantee — dropped
        if (s0.finalHr == Long.MinValue || hr >= s0.finalHr)
          counts = counts.updated(hr, counts.getOrElse(hr, 0L) + 1L)
      }
      val hours = counts.toArray.sortBy(_._1)
      val from = if (s0.finalHr == Long.MinValue) wmHour else s0.finalHr
      val out = scala.collection.mutable.ListBuffer.empty[AnomalyRow]
      var i = 24
      while (i < hours.length) {
        val (hr, n) = hours(i)
        // emit each verdict exactly once: in the batch whose watermark
        // finalizes its hour (hours < wmHour can receive no more events)
        if (hr >= from && hr < wmHour) {
          var s = 0L; var q = BigInt(0)
          var j = i - 24
          // accumulate the squares in BigInt — c*c in Long wraps once a
          // per-hour count passes ~3·10⁹; the batch form computes these
          // in decimal(38,0) for the same reason
          while (j < i) { val c = hours(j)._2; s += c; q += BigInt(c) * BigInt(c); j += 1 }
          val d = BigInt(24L * n - s)
          if (d > 0 && d * d > BigInt(9) * (BigInt(24) * q - BigInt(s) * BigInt(s)))
            out += AnomalyRow(typ, hr, n, s)
        }
        i += 1
      }
      // evict: keep unfinalized hours (≥ wmHour... they sort above) plus
      // the trailing 24 OBSERVED hours below the new finalization frontier
      val newFinal = math.max(wmHour, if (s0.finalHr == Long.MinValue) wmHour else s0.finalHr)
      val (below, above) = hours.partition(_._1 < newFinal)
      val kept = (below.takeRight(24) ++ above).toMap
      state.update(RateState(newFinal, kept))
      // re-arm: fire again once the watermark moves, even with no new data
      state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1L)
      // sentinel: observability row carrying the retained-entry count
      out.prepend(AnomalyRow(typ, -1L, kept.size.toLong, newFinal))
      out.iterator
    }

    events
      .withWatermark("ev_time", delay)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("hr"), col("ev_time"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[RateState, AnomalyRow](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (typ: String, it: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[RateState]) =>
          if (state.hasTimedOut) finalize(typ, state, Iterator.empty)
          else finalize(typ, state, it.map(_._2))
      }
  }

  final case class GapFillRow(event_type: String, n_hours: Long, n_events: Long,
                              silent_hours: Long, longest_silence: Long,
                              state_hours: Long)
  final case class LocfRow(event_type: String, n_hours: Long, carried_hours: Long,
                           locf_checksum: Long, state_hours: Long)

  /** Watermark-collapsed per-type state shared by the resample twins
    * ([[gapFillCustom]], [[locfCustom]]). The resample stats are LEFT
    * FOLDS over the dense hour axis, so once no event older than the
    * watermark hour can arrive, the finalized prefix [h0, upTo) folds into
    * the `pre` scalars (first hour, events/silent/longest-streak/LOCF
    * carry so far, plus the trailing silent-run / carry value at the
    * boundary) and its per-hour entries DROP — `counts` holds only
    * observed hours ≥ upTo: state and per-batch snapshot cost are
    * O(delay-window hours), not O(stream life). The collapse never runs
    * past the max OBSERVED hour: silent hours between the last event and
    * the watermark enter the grid only if a later event extends the span,
    * exactly like the batch min..max grid. Events below `upTo` (beyond
    * the lateness guarantee) are dropped, the standard watermark
    * contract. */
  final case class HourState(h0: Long, upTo: Long,
                             nEvents: Long, silent: Long, longest: Long,
                             streak: Long, carried: Long, checksum: Long,
                             locf: Long, counts: Map[Long, Long])

  private val emptyHourState =
    HourState(Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L, 0L, Map.empty)

  /** Merge the batch's hour deltas, collapse the watermark-finalized
    * prefix into the fold scalars, and return the updated state — the
    * shared engine of both resample twins. */
  private def collapseHours(it: Iterator[(String, Long, java.sql.Timestamp)],
                            state: GroupState[HourState]): HourState = {
    val s0 = state.getOption.getOrElse(emptyHourState)
    val wmHour = state.getCurrentWatermarkMs() * 1000L / 3600000000L
    var counts = s0.counts
    it.foreach { case (_, hr, _) =>
      if (s0.upTo == Long.MinValue || hr >= s0.upTo)
        counts = counts.updated(hr, counts.getOrElse(hr, 0L) + 1L)
    }
    if (counts.isEmpty && s0.h0 == Long.MinValue) { state.update(s0); return s0 }
    // the span start may still move DOWN while no prefix has been folded
    // (boundary ≤ h0): a watermark-legal late event EARLIER than the
    // first-seen hour extends the grid left, exactly as batch min..max
    val h0 =
      if (s0.h0 == Long.MinValue) counts.keys.min
      else if (s0.upTo <= s0.h0 && counts.nonEmpty) math.min(s0.h0, counts.keys.min)
      else s0.h0
    // s0.upTo - 1 must not run when upTo is the MinValue sentinel — the
    // subtraction underflows to MaxValue and poisons the collapse target
    val maxObs =
      if (counts.isEmpty) s0.upTo - 1 // counts empty ⇒ a collapse ran ⇒ upTo set
      else if (s0.upTo == Long.MinValue) counts.keys.max
      else math.max(counts.keys.max, s0.upTo - 1)
    // fold the dense grid from the old boundary up to (but excluding) the
    // collapse target — capped at maxObs + 1 so unobserved tail hours stay
    // out of the fold until an event proves they belong to the span
    val target = math.min(wmHour, maxObs + 1)
    var (nEvents, silent, longest, streak) = (s0.nEvents, s0.silent, s0.longest, s0.streak)
    var (carried, checksum, locf) = (s0.carried, s0.checksum, s0.locf)
    var hr = math.max(h0, if (s0.upTo == Long.MinValue) h0 else s0.upTo)
    // the boundary NEVER exceeds the watermark-derived target: pinning it
    // to the first-seen hour would silently drop watermark-LEGAL earlier
    // events — so it stays ≤ watermark, monotone via the max with its
    // previous value
    val upTo = if (s0.upTo == Long.MinValue) target else math.max(s0.upTo, target)
    while (hr < target) {
      val n = counts.getOrElse(hr, 0L)
      nEvents += n
      if (n == 0) { silent += 1; streak += 1; if (streak > longest) longest = streak }
      else streak = 0
      if (n > 0) locf = n else if (locf > 0) carried += 1
      checksum += locf
      hr += 1
    }
    val s1 = HourState(h0, upTo, nEvents, silent, longest, streak, carried,
      checksum, locf, counts.filter(_._1 >= upTo))
    state.update(s1)
    s1
  }

  /** e13 counterpart: dense-grid gap-fill/resample as explicit per-type
    * state (flatMapGroupsWithState, Update mode). Each micro-batch merges
    * the hour-count deltas, collapses the watermark-finalized prefix into
    * scalars, and re-emits the type's CURRENT full-span snapshot (hours,
    * events, silent hours, longest silent streak over the zero-filled
    * min..max grid — computed as scalars + a walk over the bounded
    * suffix); the LAST snapshot per type equals batch e13 exactly for any
    * arrival order within `delay` — a type's state only changes on its own
    * events, so the last batch containing the type emits the complete
    * answer. */
  def gapFillCustom(events: DataFrame,
                    delay: String = "24 hours"): Dataset[GapFillRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ev_time", delay)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("hr"), col("ev_time"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HourState, GapFillRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[HourState]) =>
          val s = collapseHours(it, state)
          if (s.h0 == Long.MinValue) Iterator.empty
          else {
            val h1 = if (s.counts.isEmpty) s.upTo - 1 else s.counts.keys.max
            var (nEvents, silent, longest, streak) = (s.nEvents, s.silent, s.longest, s.streak)
            var hr = math.max(s.h0, s.upTo) // boundary may sit below h0 pre-fold
            while (hr <= h1) {
              val n = s.counts.getOrElse(hr, 0L)
              nEvents += n
              if (n == 0) { silent += 1; streak += 1; if (streak > longest) longest = streak }
              else streak = 0
              hr += 1
            }
            Iterator.single(GapFillRow(typ, h1 - s.h0 + 1, nEvents, silent,
              longest, s.counts.size.toLong))
          }
      }
  }

  /** w10 counterpart: LOCF resample as explicit per-type state — silent
    * grid hours inherit the last active hour's count; emits the running
    * (hours, carried hours, exact integer LOCF checksum) snapshot from the
    * collapsed scalars + the bounded suffix. LAST snapshot per type equals
    * batch w10 for any arrival order within `delay`. */
  def locfCustom(events: DataFrame,
                 delay: String = "24 hours"): Dataset[LocfRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ev_time", delay)
      .select(col("event_type"), expr("ts_us DIV 3600000000").as("hr"), col("ev_time"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[HourState, LocfRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[(String, Long, java.sql.Timestamp)],
         state: GroupState[HourState]) =>
          val s = collapseHours(it, state)
          if (s.h0 == Long.MinValue) Iterator.empty
          else {
            val h1 = if (s.counts.isEmpty) s.upTo - 1 else s.counts.keys.max
            var (carried, checksum, locf) = (s.carried, s.checksum, s.locf)
            var hr = math.max(s.h0, s.upTo) // boundary may sit below h0 pre-fold
            while (hr <= h1) {
              val n = s.counts.getOrElse(hr, 0L)
              if (n > 0) locf = n else if (locf > 0) carried += 1
              checksum += locf
              hr += 1
            }
            Iterator.single(LocfRow(typ, h1 - s.h0 + 1, carried, checksum,
              s.counts.size.toLong))
          }
      }
  }
}
