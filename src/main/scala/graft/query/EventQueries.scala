package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Portable.pround

/** Batch twins of the jetstream serving-path operators (SURVEY.md §2.1),
  * expressed over the `events` fixture table, which stands in for the
  * reference's time-keyed event log. Column mapping:
  *
  *   - `ts`        ≙ `time_us`   (reference `pkg/models/models.go:11`) — the
  *                    monotonic sort key / cursor domain; we derive
  *                    `time_us = unix_micros(ts)`.
  *   - `user_id`   ≙ `did`       (`models.go:10`)
  *   - `event_type`≙ `commit.collection` (`models.go:21`)
  *   - `props`     ≙ `commit.record` raw-JSON payload (`models.go:23`)
  *
  * Every query is a pure DataFrame expression: filters and projections reach
  * the parquet scan (pushdown + column pruning), aggregations get map-side
  * partial aggregation, and nothing collects to the driver — so each plan
  * scales from the 10k-row fixture to a partitioned 100 TB log unchanged.
  */
object EventQueries {

  /** Deterministic "cursor" used by the replay queries: 10 days past the
    * fixture epoch (events span 2024-01). At cluster scale the cursor is a
    * caller-supplied µs value; the plan shape is identical.
    */
  val CursorUs: Long = 1704067200000000L + 10L * 24 * 3600 * 1000000 // 2024-01-11T00:00:00Z

  /** High-water mark for the dedup/overlap queries: 20 days past epoch. */
  val HwmUs: Long = 1704067200000000L + 20L * 24 * 3600 * 1000000

  /** `ts` arrives as LongType nanoseconds (see [[graft.Tables.load]]). */
  private def timeUs: Column = expr("ts div 1000")

  /** S13 — cursor replay: ordered range scan from a time cursor.
    * Reference: pkg/consumer/persist.go:143-204 (LSM LowerBound iterator).
    * Spark: the `time_us >= cursor` predicate is pushed to parquet
    * row-group min/max; on a `hour(ts)`-partitioned production table it
    * also prunes partitions. Total order (time_us, event_id) mirrors the
    * reference key `{time_us}_{did}_{collection}` and makes LIMIT
    * deterministic; Catalyst plans orderBy+limit as TakeOrderedAndProject
    * (no global sort materialization).
    */
  def replayScan(spark: SparkSession, dir: String): DataFrame =
    // cursor compared in the STORAGE domain (Tables.eventsRange) so it
    // pushes to parquet row-group min/max — a filter on the normalized
    // `ts` projection would scan everything
    Tables.eventsRange(spark, dir, fromUs = Some(CursorUs))
      .select(col("event_id"), timeUs.as("time_us"), col("user_id"), col("event_type"))
      .orderBy(col("time_us"), col("event_id"))
      .limit(5000)

  /** S14 — collection (event_type) semi-filter against a wanted set.
    * Reference: cmd/jetstream/server.go:119-123. Small literal set → `isin`
    * (codegen'd); a large subscriber set would be a broadcast left-semi join.
    */
  def collectionFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("event_type"), col("user_id"))

  /** S15 — DID (user_id) filter. Reference: cmd/jetstream/server.go:125-129. */
  def didFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id").isin(1L, 3L, 5L, 7L))
      .select(col("event_id"), col("user_id"), col("event_type"))

  /** S14+S15+S16 — the full emitToSubscriber predicate chain: collection
    * set ∧ did set ∧ time_us > hwm. Reference: cmd/jetstream/server.go:118-136.
    * One conjunctive filter — Catalyst orders the conjuncts and pushes all
    * three to the scan.
    */
  def subscribeFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsRange(spark, dir, fromUs = Some(HwmUs + 1)) // time_us > hwm
      .filter( // remaining conjuncts on raw columns → pushed to the scan
        col("event_type").isin("click", "view", "purchase") &&
          col("user_id").isin(0L, 2L, 4L, 6L, 8L, 10L, 12L, 14L))
      .select(col("event_id"), timeUs.as("time_us"), col("user_id"), col("event_type"))

  /** S9 — monotonic sequencer, batch twin: assign a strictly increasing,
    * gap-free seq over the (ts, event_id) total order.
    * Reference: pkg/monotonic/clock.go:34-56 + consumer.go:311-342 — all
    * parallelism collapses into one stamping stage; the Spark analog is an
    * unpartitioned window, which is likewise a deliberate single-task stage
    * (SURVEY §7.4). The streaming sequencer (graft.ingest.Sequencer) does
    * this per-microbatch with carried state instead.
    */
  def seqAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), timeUs.as("time_us"))
      .withColumn("seq", row_number().over(Window.orderBy(col("time_us"), col("event_id"))).cast("long"))

  /** S25 — running operational counters: events by type.
    * Reference: pkg/consumer/metrics.go:8-11 (Prometheus counter vec).
    * Partial aggregation happens map-side; only 5 groups shuffle.
    */
  def routerCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** S2+S3 — full mixed-stream decode round trip: the fixture events are
    * serialized into raw firehose frames (one commit / identity / account
    * frame per event, kind chosen by `event_id % 3`, `time` as RFC3339),
    * pushed through [[graft.ingest.Decode.parseMixedFrames]] →
    * [[graft.ingest.Decode.decodeFrames]] (the HandleStreamEvent switch,
    * consumer.go:99-161), and the decoded envelopes aggregated per type.
    * Verifies the acc/id envelope build + RFC3339→µs conversion
    * (consumer.go:115,138) end-to-end against the oracle computing the
    * same partition directly. The whole synth+parse+decode chain is
    * narrow — one codegen stage, no shuffle until the final 3-group agg.
    */
  def mixedDecode(spark: SparkSession, dir: String): DataFrame = {
    import graft.ingest.Decode
    val rfc3339 = date_format(timestamp_micros(timeUs), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    val did = concat(lit("did:plc:u"), col("user_id"))
    val frame = when(col("event_id") % 3 === 0,
        to_json(struct(
          lit("#commit").as("t"), did.as("did"),
          concat(lit("r"), col("event_id")).as("rev"),
          col("event_id").as("seq"), rfc3339.as("time"), lit(false).as("tooBig"),
          array(struct(
            lit("create").as("action"),
            concat(lit("app.graft.doc/k"), col("event_id")).as("path"),
            lit("c1").as("cid"), lit("c1").as("recordCid"),
            concat(lit("{\"v\":"), col("event_id"), lit("}")).as("record"))).as("ops"))))
      .when(col("event_id") % 3 === 1,
        to_json(struct(
          lit("#identity").as("t"), did.as("did"), col("event_id").as("seq"),
          rfc3339.as("time"),
          concat(lit("u"), col("user_id"), lit(".test")).as("handle"))))
      .otherwise(
        to_json(struct(
          lit("#account").as("t"), did.as("did"), col("event_id").as("seq"),
          rfc3339.as("time"), lit(true).as("active"), lit("active").as("status"))))
    // spread the events ahead of the synth+parse+decode chain (guide
    // §2.5): the fixture table is one parquet row group, so the chain —
    // to_json + from_json + the decode projections, the query's entire
    // cost — otherwise runs in the scan's single task. One tiny
    // id-keyed exchange of the three source columns buys executor-width
    // decode; the chain stays one codegen stage after it, and at corpus
    // scale the scan is already wide so the repartition degenerates to
    // the same narrow shape.
    val raw = graft.util.Scans.spread(
        Tables.events(spark, dir).select(col("event_id"), col("user_id"), col("ts")),
        col("event_id"))
      .select(frame.as("value"))
    Decode.decodeFrames(Decode.parseMixedFrames(raw))
      .groupBy(col("type"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_time_us")).as("min_us"),
        max(col("event_time_us")).as("max_us"))
  }

  /** S25 — ops by (kind, collection): counter with two label dimensions.
    * Reference: pkg/consumer/metrics.go:13-16 fed at consumer.go:201.
    */
  def opCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        pround(sum(col("value")), 2).as("sum_value"))

  /** S26 — histogram aggregate: bucketed distribution of `value`.
    * Reference: pkg/consumer/metrics.go:18-22 (exponential duration
    * buckets). Fixed-width bucketing keeps the oracle exact; the
    * percentile view the Grafana dashboard derives is `histogramQuantiles`
    * below.
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(floor(col("value") / 10.0).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"))

  /** S27 — lag/gap derivation: distance of each group's newest event from
    * the global head, i.e. `head_time - last_seen(type)` — the per-label
    * staleness gauge. Reference: pkg/consumer/consumer.go:129-132,152-155
    * (lastEvtCreatedAtGauge etc.). Uses max(ts) as the deterministic "now".
    */
  def lagGauge(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_type"), timeUs.as("time_us"))
    val head = e.agg(max(col("time_us")).as("head_us"))
    e.groupBy(col("event_type"))
      .agg(max(col("time_us")).as("last_us"))
      .crossJoin(broadcast(head))
      .select(
        col("event_type"),
        (col("head_us") - col("last_us")).as("lag_us"))
  }

  /** S8 — JSON payload projection: extract a field from the schemaless
    * `record` JSON and aggregate on it.
    * Reference: consumer.go:234-243 (CBOR→JSON passthrough); payload stays
    * a JSON string and is parsed per-query, exactly like jetstream
    * consumers do.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"))

  /** S16/S19 — replay∪live overlap dedup: two overlapping time slices of
    * the log unioned, duplicates collapsed by key. Reference:
    * cmd/jetstream/server.go:131-134 (per-subscriber high-water mark skip).
    * Batch form: union + dropDuplicates(event_id); streaming form is
    * dropDuplicatesWithinWatermark (graft.streaming).
    */
  def overlapDedup(spark: SparkSession, dir: String): DataFrame = {
    // each slice ranges in the storage domain (Tables.eventsRange) → pushed
    def slice(fromUs: Long, untilUs: Option[Long] = None) =
      Tables.eventsRange(spark, dir, fromUs = Some(fromUs), untilUs = untilUs)
        .select(col("event_id"), timeUs.as("time_us"), col("event_type"))
    val replay = slice(CursorUs, Some(HwmUs + 86400000000L))
    val live   = slice(HwmUs + 1)
    replay.union(live)
      .groupBy(col("event_id"))
      .agg(min(col("time_us")).as("time_us"), min(col("event_type")).as("event_type"))
  }

  /** S12 — TTL retention: the survivor set after trimming everything older
    * than head − TTL, summarized per day. Reference:
    * pkg/consumer/persist.go:120-137 (range-delete by key prefix); on a
    * date-partitioned table this is a partition drop — the per-day
    * grouping here mirrors exactly the partitions a production trim would
    * drop vs keep.
    */
  def ttlRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(timeUs.as("time_us"))
    val ttlUs = 7L * 24 * 3600 * 1000000 // 7-day TTL against the fixture's 30-day span
    val head = e.agg(max(col("time_us")).as("head_us"))
    e.crossJoin(broadcast(head))
      .filter(col("time_us") >= col("head_us") - ttlUs)
      .select(to_date(timestamp_micros(col("time_us"))).as("event_date"))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** S10 — keyed upsert materialization: latest event per user, i.e. the
    * "current state" view a keyed KV persist implies. Reference:
    * pkg/consumer/persist.go:90-117 (write under `{time_us}_{did}_…`).
    *
    * Skew posture: expressed as a `max_by` AGGREGATION, not a
    * row_number window — partial aggregation collapses every hot key
    * map-side before the shuffle, so a did receiving 30% of all events
    * costs one extra struct-compare per input row instead of one task
    * sorting 30% of the corpus (measured at 20M rows, PERF.md round 2;
    * a key-partitioned window is the one shape AQE skew handling cannot
    * split). Tie order (time_us, event_id) lexicographic = the window's
    * desc/desc rn=1.
    */
  def latestPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), timeUs.as("time_us"), col("user_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_id"), col("time_us"), col("event_type")),
        struct(col("time_us"), col("event_id"))).as("e"))
      .select(col("e.event_id"), col("e.time_us"), col("user_id"), col("e.event_type"))

  /** S25/S26 tumbling-window counters (the reference's Grafana
    * `rate()` panels as a query): events per (hour window, type) via
    * Spark's `window()` operator — one partial-aggregated shuffle keyed
    * on (window, type).
    */
  def hourlyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        window(timestamp_micros(timeUs), "1 hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n_events"))

  /** S26 dashboard view — p50/p95/p99 of `value` per event_type, the
    * Grafana percentile panels (grafana-dashboard.json "Event Processing
    * Time"). percentile_approx is deterministic for exact accuracy on
    * small groups; rounded for oracle stability.
    */
  def histogramQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        pround(expr("percentile(value, 0.5)"), 4).as("p50"),
        pround(expr("percentile(value, 0.95)"), 4).as("p95"),
        pround(expr("percentile(value, 0.99)"), 4).as("p99"))

  /** S2 — syntax validation at the query boundary via the native
    * codegen expressions (graft.functions.NsidValid/DidValid; reference
    * server.go:250-287). Events are mapped onto NSID/DID-shaped strings
    * (with deterministic invalid cases mixed in) and bucketed by
    * validity.
    */
  def syntaxValidate(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val nsid = when(col("event_id") % 7 === 0, lit("not a nsid"))
      .otherwise(concat(lit("app.bsky."), col("event_type"), lit(".rec")))
    val did = when(col("event_id") % 11 === 0, lit("bogus"))
      .otherwise(concat(lit("did:plc:u"), col("user_id")))
    Tables.events(spark, dir)
      .select(
        graft.functions.GraftFunctions.nsid_valid(nsid).as("nsid_ok"),
        graft.functions.GraftFunctions.did_valid(did).as("did_ok"))
      .groupBy(col("nsid_ok"), col("did_ok"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** §1.2 — open-schema payload access via Spark 4's VARIANT type:
    * `parse_json` the schemaless record once, then typed `variant_get`
    * paths — the indexed alternative to per-query string JSON parsing
    * for hot fields (reference keeps payloads opaque JSON, models.go:23).
    */
  def variantExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .groupBy(col("event_type"))
      .agg(
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        count(col("k")).as("n_with_k"))

  /** Event-analytics — gap sessionization: a new session opens when a
    * user is idle > 30 min; sessions are numbered per user by a running
    * sum over the new-session flags. One shuffle on user_id serves the
    * lag, the running sum, AND the final per-session aggregate (all
    * three are partitioned on the same key, so Catalyst plans a single
    * Exchange reused across the window stages) — the classic log
    * sessionizer, no stateful loop.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("time_us"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), timeUs.as("time_us"))
      .withColumn("new_s",
        when(col("time_us") - lag(col("time_us"), 1).over(order) > gapUs ||
          lag(col("time_us"), 1).over(order).isNull, lit(1)).otherwise(lit(0)))
      .withColumn("session_id",
        sum(col("new_s")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("time_us")).as("session_start_us"),
        count(lit(1)).as("n_events"),
        (max(col("time_us")) - min(col("time_us"))).as("duration_us"))
  }

  /** Event-analytics — strict sequential funnel view→click→purchase:
    * each stage's entry time is the min event time AFTER the previous
    * stage's entry, so out-of-order events don't convert. Three
    * key-partitioned aggregates chained by joins on user_id — each
    * stage's survivor set only shrinks, so the joins get cheaper down
    * the funnel.
    */
  def funnelConversion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), timeUs.as("t"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("t") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("t") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("t")).as("t3"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_view_click"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_full_funnel"))))
  }

  /** Event-analytics — retention cohorts: users grouped by first-seen
    * date, counted on each later active day offset. The cohort table is
    * one aggregate; the activity join is keyed on user_id (the same
    * partitioning as the cohort aggregate's output, so the join reuses
    * it); day_offset arithmetic is row-local.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), to_date(timestamp_micros(timeUs)).as("d"))
    val cohorts = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_date"))
    e.join(cohorts, "user_id")
      .select(col("user_id"), col("cohort_date"),
        datediff(col("d"), col("cohort_date")).cast("long").as("day_offset"))
      .distinct()
      .groupBy(col("cohort_date"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** S17 — fan-out share: each type's share of total traffic (the
    * per-subscriber delivery-rate view, cmd/jetstream/metrics.go:23-31).
    * Ratio of a grouped count to the global count via a broadcast scalar.
    */
  def typeShare(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_type"))
    val total = e.agg(count(lit(1)).as("total"))
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .crossJoin(broadcast(total))
      .select(
        col("event_type"), col("n_events"),
        pround(col("n_events") / col("total"), 6).as("share"))
  }

  /** S5 — the RAW relay wire, end to end: per document a REAL XRPC
    * commit frame is synthesized (canonical DAG-CBOR records →
    * sha-256-addressed blocks → canonical MST → commit object → CARv1 →
    * cborgen-shaped body + header, [[graft.functions.Car.buildCommitFrame]]),
    * then decoded BACK in-plan by the native `xrpc_frame_to_json`
    * expression — CAR section framing, hash verification, MST walk per
    * op, strict record CBOR — through the standard mixed-frame decode
    * chain (the full consumer.go:99-305 path). Planted adversarial
    * cases prove the checks bite: every 7th doc's first op declares a
    * FORGED CID (dropped by the cid==recordCid filter,
    * consumer.go:227-231), every 5th doc adds a delete op (no record,
    * kept). The oracle recomputes the surviving rows arithmetically —
    * a decode, framing, MST, or CID defect hash-mismatches.
    *
    * Scale: frame synthesis and decode are row-local (mapPartitions +
    * codegen'd expression); no shuffle until the final comparison-free
    * projection — the plan is the ingest hot path itself.
    */
  def carDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Car
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val frames = ids.mapPartitions(_.map { id =>
      val creates = Seq("a", "b", "c").zipWithIndex.map { case (sfx, j) =>
        val forged = id % 7 == 3 && j == 0
        Car.WireOp("create", s"app.graft.doc/rk$id$sfx",
          Some(s"""{"k":$id,"v":${(id * 7 + j) % 1000},"s":"t$id"}"""),
          cidOverride =
            if (forged) Some(Car.cidForBlock(Array[Byte](1, 2, 3))) else None)
      }
      val dels =
        if (id % 5 == 0) Seq(Car.WireOp("delete", s"app.graft.doc/rkdel$id", None))
        else Seq.empty
      Car.buildCommitFrame(s"did:plc:car$id", id, "2024-01-01T00:00:00Z",
        s"rev$id", creates ++ dels)
    }).toDF("frame")
    val decoded = graft.ingest.Decode.decodeFrames(
      graft.ingest.Decode.parseMixedFrames(
        frames.select(graft.functions.GraftFunctions
          .xrpc_frame_to_json(col("frame")).as("value"))))
    decoded.select(
      col("did"),
      col("commit.type").as("op_type"),
      col("commit.collection").as("collection"),
      col("commit.rkey").as("rkey"),
      get_json_object(col("commit.record"), "$.k").cast("long").as("k"),
      get_json_object(col("commit.record"), "$.v").cast("long").as("v"),
      get_json_object(col("commit.record"), "$.s").as("s"))
  }
}
