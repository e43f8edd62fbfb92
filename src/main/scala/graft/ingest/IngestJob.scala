package graft.ingest

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.EventsTable

/** S1+S9+S10+S11 — the ingest job: streaming source → per-batch monotonic
  * sequencing → append to the events table (reference pipeline §3.1:
  * firehose → decode workers → single sequencer goroutine → pebble).
  *
  * Durability/recovery contract mirrors the reference exactly
  * (SURVEY §7.4.5): event writes are at-least-once (reference uses
  * pebble.NoSync, persist.go:110), the resume point is checkpointed
  * (reference: cursor write every 5 s, persist.go:41-63; here: the
  * Structured Streaming offset/commit log at `checkpointDir`), and the
  * sequencer high-water mark is recovered from the table itself on
  * restart (`max(time_us)`, [[EventsTable.resumeState]]), reproducing
  * the reference's read-cursor-then-resume startup
  * (cmd/jetstream/main.go:280-297).
  */
object IngestJob {

  /** S29 — start-cursor resolution precedence (reference:
    * cmd/jetstream/main.go:280-297): explicit override if ≥0, else the
    * stored cursor if ≥0, else live (None = start at the head / empty).
    */
  def resolveStartCursor(overrideUs: Option[Long], storedUs: Option[Long]): Option[Long] =
    overrideUs.filter(_ >= 0).orElse(storedUs.filter(_ >= 0))

  /** Default batch size above which sequencing switches to the
    * no-serial-stage [[Sequencer.stampScalable]]: ~2M rows is where a
    * single-task sort of a wide row stops fitting one executor's core
    * comfortably. Small batches keep the window form — one tiny task
    * beats a range-sampling + zipWithIndex round trip.
    */
  val ScalableStampThresholdRows: Long = 2000000L

  /** Start the ingest stream. `decoded` is a streaming DataFrame of
    * event rows (post-Decode, pre-sequencing); `orderCols` give the
    * deterministic intra-batch order. Batches at or above
    * `scalableThresholdRows` are stamped with the distributed sequencer
    * (same gap-free assignment, no single-task stage).
    *
    * `trigger` defaults to AvailableNow (drain-and-stop — tests and
    * backfills); pass `Trigger.ProcessingTime(...)` for the standing
    * live ingest (the reference's firehose consumer runs until shutdown,
    * cmd/jetstream/main.go's consumer loop).
    */
  def start(
      decoded: DataFrame,
      orderCols: Seq[String],
      tablePath: String,
      checkpointDir: String,
      prevMaxUs: Long = 0L,
      nowUs: () => Long = () => System.currentTimeMillis() * 1000L,
      scalableThresholdRows: Long = ScalableStampThresholdRows,
      trigger: Trigger = Trigger.AvailableNow(),
      metrics: graft.serve.Metrics.Registry = graft.serve.Metrics.default,
      appendShards: Int = 0,
      manifestCommits: Boolean = false): StreamingQuery = {
    val hwm = new AtomicLong(prevMaxUs)
    // the reference's per-consumer sequenced/persisted counters
    // (pkg/consumer/consumer.go:79-81), labeled by the table the way
    // the reference labels by socket URL
    val sequenced = metrics.counter("graft_consumer_events_sequenced_total",
      "Total events stamped by the sequencer", "table" -> tablePath)
    val persisted = metrics.counter("graft_consumer_events_persisted_total",
      "Total events appended to the events table", "table" -> tablePath)
    val lastSeq = metrics.gauge("graft_consumer_last_seq",
      "Sequence (time_us) of the last event processed", "table" -> tablePath)
    decoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // two jobs per batch: the count builds the decoded batch's cache
        // and counts it in one stage (no aggregate, so no exchange); the
        // write stamps from that copy and collects what it writes for
        // the commit listeners (EventsTable.append)
        val frames = batch.persist()
        try {
          val n = frames.queryExecution.toRdd.count()
          // the window stamp over one partition needs no exchange; ties
          // still take partition order, then row order
          val seq =
            if (n >= scalableThresholdRows)
              Sequencer.stampScalable(frames, orderCols, hwm.get(), nowUs, rows = n)
            else Sequencer.stamp(frames.coalesce(1), orderCols, hwm.get(), nowUs, rows = n)
          // every non-empty batch is stamped past the hwm and appended, a
          // re-delivered one again (at-least-once, as the reference): the
          // sequenced and persisted counters (consumer.go:79-81) differ
          // only when an append throws
          if (n > 0) {
            sequenced.add(n.toDouble)
            // 0 = auto: small live triggers stay one-file-per-hour; big
            // batches fan the write out across time-contiguous shards
            // (prefix closure holds either way — EventsTable.append doc).
            // manifestCommits = the object-store-safe visibility mode:
            // rename-order prefix closure degrades silently on rename-less
            // stores; the manifest commit moves the boundary off the
            // listing entirely (EventsTable.appendManifested doc)
            val shards = if (appendShards > 0) appendShards else EventsTable.autoShards(n)
            if (manifestCommits) EventsTable.appendManifested(seq.df, tablePath, shards, rows = n)
            else EventsTable.append(seq.df, tablePath, shards, rows = n)
            persisted.add(n.toDouble)
            hwm.set(seq.maxTimeUs)
            lastSeq.set(seq.maxTimeUs.toDouble)
          }
        } finally { frames.unpersist(); () }
      }
      .start()
  }
}
