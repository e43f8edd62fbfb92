package graft.streaming

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

import graft.serve.Metrics

/** Consumer-side metric parity (pkg/consumer/metrics.go:8-58) as a
  * [[StreamingQueryListener]]: the reference counts per event inside
  * its handler; the Spark-native equivalent reads each micro-batch's
  * progress (row counts from the source, per-phase durations) and
  * folds it into a [[Metrics.Registry]] the `/metrics` endpoint serves.
  * No extra jobs, no second aggregation: everything here is read off
  * work the stream already did.
  *
  * Series (consumer_* → graft_consumer_*, label `socket_url` → the
  * query name, which for graft ingests carries the source identity):
  *   - `graft_consumer_events_processed_total{query}`   (metrics.go:8-11)
  *   - `graft_consumer_event_processing_duration_seconds{query}`
  *     histogram of per-batch trigger execution, the reference's
  *     exponential buckets (metrics.go:18-22)
  *   - `graft_consumer_batch_phase_seconds{query,phase}` histogram of
  *     the micro-batch phases `getBatch`, `queryPlanning`, `addBatch`
  *     (decode, sequence, append and the commit hand-off) and
  *     `walCommit`, from the progress's `durationMs`
  *   - `graft_consumer_batch_jobs{query}` histogram of the Spark jobs
  *     each micro-batch ran ([[jobsListener]], a SparkListener)
  *   - `graft_consumer_last_evt_processed_at{query}`    (metrics.go:29-32)
  * `graft_consumer_last_seq{table}` (metrics.go:24-27) is set by
  * [[graft.ingest.IngestJob]] from each committed batch. Timestamps are
  * µs-since-epoch (the engine's event-time unit; the reference
  * publishes ns — unit is a label-free scale choice, the shape is what
  * transfers).
  */
object IngestMetrics {

  /** The reference's histogram buckets: ExponentialBuckets(0.0001, 2, 18). */
  val DurationBuckets: Array[Double] = Metrics.exponentialBuckets(0.0001, 2, 18)

  /** The micro-batch phases exported per batch. */
  val BatchPhases: Seq[String] = Seq("getBatch", "queryPlanning", "addBatch", "walCommit")

  /** Buckets of `graft_consumer_batch_jobs`: a count per job up to 8. */
  val JobBuckets: Array[Double] = Array(1d, 2d, 3d, 4d, 5d, 6d, 7d, 8d, 12d, 16d)

  /** The Spark jobs each micro-batch ran, by query: counted per
    * (query id, batch id) from the local properties the stream sets on
    * its jobs, and folded into `graft_consumer_batch_jobs{query}` on
    * that batch's progress event. The progress event reaches a
    * SparkListener through the same queue as the batch's job starts,
    * after them. Attach with `spark.sparkContext.addSparkListener`.
    */
  def jobsListener(registry: Metrics.Registry = Metrics.default): SparkListener =
    new SparkListener {
      // touched only by this listener's queue thread
      private val jobs = scala.collection.mutable.HashMap.empty[(String, String), Int]
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId")))
          jobs((q, b)) = jobs.getOrElse((q, b), 0) + 1
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case e: QueryProgressEvent =>
          val p = e.progress
          val n = jobs.remove((p.id.toString, p.batchId.toString)).getOrElse(0)
          registry.histogram("graft_consumer_batch_jobs", "Spark jobs per micro-batch",
            JobBuckets, "query" -> Option(p.name).getOrElse(p.id.toString)).observe(n.toDouble)
        case e: QueryTerminatedEvent =>
          jobs.keys.filter(_._1 == e.id.toString).foreach(jobs.remove)
        case _ => ()
      }
    }

  /** Build the listener. Attach with
    * `spark.streams.addListener(IngestMetrics.listener(registry))`;
    * detach with `removeListener` when done (tests; standing jobs keep
    * it for the process lifetime, like the reference's promauto
    * globals).
    */
  def listener(registry: Metrics.Registry = Metrics.default): StreamingQueryListener =
    new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val q = Option(p.name).getOrElse(p.id.toString)
        if (p.numInputRows > 0)
          registry.counter("graft_consumer_events_processed_total",
            "Total events processed by the ingest stream", "query" -> q)
            .add(p.numInputRows.toDouble)
        val trigMs = p.durationMs.getOrDefault("triggerExecution", 0L)
        if (trigMs > 0L)
          registry.histogram("graft_consumer_event_processing_duration_seconds",
            "Micro-batch processing duration", DurationBuckets, "query" -> q)
            .observe(trigMs / 1000.0)
        BatchPhases.foreach { phase =>
          Option(p.durationMs.get(phase)).foreach { ms =>
            registry.histogram("graft_consumer_batch_phase_seconds",
              "Micro-batch phase duration", DurationBuckets, "query" -> q, "phase" -> phase)
              .observe(ms / 1000.0)
          }
        }
        registry.gauge("graft_consumer_last_evt_processed_at",
          "Batch timestamp of the last progress, us", "query" -> q)
          .set(java.time.Instant.parse(p.timestamp).toEpochMilli * 1000.0)
      }
    }
}
