package graft.ingest

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.store.EventsTable
import graft.streaming.IngestMetrics

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
    * One Spark job per micro-batch: the batch is stamped straight from
    * the source and written by [[EventsTable.append]], whose write
    * observes the row count, the newest `time_us` and the commit
    * listeners' frames. The hwm, `graft_consumer_last_seq` and the
    * sequenced/persisted counters come from that observation; if it
    * does not arrive they come from a read of the table from the hour
    * the batch began in, never from a guess.
    *
    * The stamp path and the shard count take a bound known before the
    * batch: the offsets the batch spans ([[Bridge.microBatchSpan]]),
    * frames for the WebSocket source. Frames are not rows: Decode
    * drops a too-big or CID-mismatched commit's ops and explodes the
    * rest, one row per op. Neither use needs a row count to be right:
    * `stamp` and `stampScalable` assign the same sequence, and prefix
    * closure holds at any shard count (EventsTable.append), so a bound
    * off by the ops per commit only picks a slower stamp or a different
    * file layout. A source whose offsets are not integers gives no
    * bound: its batches take the window stamp and `autoShards(0)`. A
    * batch that spans no offsets is not written.
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
    val spark = decoded.sparkSession
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
    val handOff = metrics.histogram("graft_commit_handoff_seconds",
      "Commit hand-off: the write's return to the last commit listener's return",
      IngestMetrics.DurationBuckets, "table" -> tablePath)
    decoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val bound = Bridge.microBatchSpan(spark, batchId)
        if (!bound.contains(0L)) {
          val base = Sequencer.baseUs(hwm.get(), nowUs)
          // the window stamp over one partition needs no exchange; ties
          // still take partition order, then row order
          val stamped =
            if (bound.exists(_ >= scalableThresholdRows))
              Sequencer.stampScalableFrom(batch, orderCols, base)
            else Sequencer.stampFrom(batch.coalesce(1), orderCols, base)
          // 0 = auto: small live triggers stay one-file-per-hour; big
          // batches fan the write out across time-contiguous shards.
          // manifestCommits = the object-store-safe visibility mode:
          // rename-order prefix closure degrades silently on rename-less
          // stores; the manifest commit moves the boundary off the
          // listing entirely (EventsTable.appendManifested doc)
          val shards = if (appendShards > 0) appendShards else EventsTable.autoShards(bound.getOrElse(0L))
          val appended =
            if (manifestCommits) EventsTable.appendManifested(stamped, tablePath, shards)
            else EventsTable.append(stamped, tablePath, shards)
          handOff.observe(appended.handOffSeconds)
          // the stamps run gap-free from `base`, so the head read also
          // gives the row count
          val (n, maxUs) = appended.written.fold {
            val head = EventsTable.headUs(spark, tablePath, fromUs = base - 1)
            (head - base + 1, head)
          }(w => (w.rows, w.maxTimeUs))
          // a batch is stamped by the job that writes it, so the
          // sequenced and persisted counters (consumer.go:79-81) count
          // the same rows: what that write wrote
          if (n > 0) {
            sequenced.add(n.toDouble)
            persisted.add(n.toDouble)
            hwm.set(maxUs)
            lastSeq.set(maxUs.toDouble)
          }
        }
      }
      .start()
  }
}
