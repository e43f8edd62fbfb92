package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-side operators over the live event tail (SURVEY §2.2
  * streaming rows): watermarked dedup for the replay/live overlap and
  * the windowed aggregations that replace the reference's Prometheus
  * counters + Grafana `rate()` panels.
  *
  * All transforms here take and return streaming DataFrames; sinks and
  * triggers belong to the caller (tests use MemoryStream + memory sink).
  */
object LiveTail {

  /** Event-time column derived from the µs sequence domain. */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", timestamp_micros(col("time_us")))

  /** S16 streaming twin — overlap dedup with bounded state: duplicates
    * can only occur within the replay/live handoff window, so a
    * watermark bounds the dedup state (vs the reference's per-subscriber
    * scalar hwm, server.go:131-134 — same guarantee, bounded memory).
    */
  def dedupOverlap(events: DataFrame, watermark: String = "10 seconds"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("time_us")

  /** STREAMING content dedup — the ingest-side twin of the batch
    * exact-dedup family (ext.Dedup): drop events whose CONTENT
    * fingerprint (whitespace-normalized lowercase hash of `textCol`)
    * was already seen within the watermark window. The training-data
    * shape: dedupe the firehose before it lands, so a repost storm or
    * a crawler loop never bloats the persisted log. State is one
    * fingerprint per distinct content within the watermark — bounded,
    * unlike an unbounded seen-set; an exact cross-history dedup is the
    * batch operators' job over the table.
    *
    * Events with NULL text do not participate: a null fingerprint would
    * group every textless event (deletes, likes, identity events — most
    * of the firehose this operator is documented for) as "equal
    * content" and collapse them to one. Textless rows pass through
    * unchanged and pay no dedup state.
    */
  def dedupContent(events: DataFrame, textCol: String,
      watermark: String = "10 minutes"): DataFrame = {
    val stamped = withEventTime(events)
      .withColumn("content_fp",
        md5(lower(regexp_replace(col(textCol), "\\s+", " "))))
    stamped
      .filter(col("content_fp").isNotNull)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("content_fp")
      .unionByName(stamped.filter(col("content_fp").isNull))
  }

  /** Session windows: activity bursts per key separated by ≥`gap` of
    * silence (SURVEY §2.2 streaming-windows row) — e.g. per-DID posting
    * sessions. State is one open session per live key, closed by the
    * watermark.
    */
  def sessionCounts(events: DataFrame, keyCol: String,
      gap: String = "5 minutes", watermark: String = "10 seconds"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"))

  /** Stream-stream interval join: pair each left event with the right
    * events of the same key whose event time falls within `[left,
    * left + within]` — click-through attribution, request/response
    * pairing, replay↔live reconciliation. Both sides carry watermarks
    * and the join condition bounds both times, so Spark provably
    * expires buffered state: per side, rows older than
    * watermark + interval are dropped, not kept forever (the
    * unbounded-state trap of an unconstrained stream join).
    *
    * Inputs must each have a `time_us` column; key columns must be
    * named `keyCol` on the left and `rightKeyCol` on the right. The
    * right side's `time_us` comes out renamed `r_time_us` (like its
    * event time) so the joined frame has exactly one `time_us` and
    * downstream `col("time_us")` references stay unambiguous.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      keyCol: String, rightKeyCol: String,
      within: String = "10 minutes", watermark: String = "10 seconds"): DataFrame = {
    val l = withEventTime(left).withWatermark("event_time", watermark)
    val r = withEventTime(right)
      .withColumnRenamed("event_time", "r_event_time")
      .withColumnRenamed("time_us", "r_time_us")
      .withWatermark("r_event_time", watermark)
    l.join(r,
      col(keyCol) === col(rightKeyCol) &&
        col("r_event_time") >= col("event_time") &&
        col("r_event_time") <= col("event_time") + expr(s"INTERVAL $within"))
  }

  /** S25 streaming — per-collection event counts over tumbling windows
    * (the Grafana `rate(jetstream_events_processed[1m])` panel as a
    * first-class streaming aggregation; partial aggregation happens
    * per-microbatch map-side, state is one row per (window, collection)).
    */
  def windowedCounts(events: DataFrame,
      window_ : String = "1 minute",
      watermark: String = "10 seconds"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("collection"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("collection"), col("n_events"))
}
