package graft.sources

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** S1/S13/S19 — the jetstream subscription as a first-class Structured
  * Streaming source (`spark.readStream.format("graft-replay")`): a
  * cursor-offset tail over the events table.
  *
  * Offset domain = `time_us` (exactly the reference's cursor domain,
  * cmd/jetstream/server.go:274-287): each micro-batch delivers
  * `(prevOffset, head]` in sequence order. Starting from a historical
  * `cursor` option IS replay; once caught up the same query is the live
  * tail — the replay→live cutover (server.go:305-337) falls out of the
  * micro-batch loop instead of being a hand-written state machine, and
  * the offset checkpoint gives cursor-resume across restarts
  * (reference: persist.go:41-87 cursor read-back).
  *
  * Options:
  *   - `path`   (required): events table location (EventsTable layout)
  *   - `cursor` (optional µs, default 0): first event delivered is the
  *     earliest with `time_us >= cursor`; a future cursor waits for live
  *     events — "future cursor → live" (server.go:283-286) for free
  *   - `maxEventsPerBatch` (optional): ingest-rate cap per micro-batch
  *     (S20 twin of `maxOffsetsPerTrigger`)
  *
  * Scale notes: `getOffset` is one driver-side max() over the table's
  * fresh tail (same cost class as FileStreamSource's directory listing);
  * `getBatch` plans a pruned range scan — partition + row-group
  * skipping via the EventsTable layout, so a batch touches only the
  * hours it covers.
  */
class ReplayTailProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-replay"

  private def tableSchema(sqlContext: SQLContext, params: Map[String, String]): StructType =
    try graft.store.EventsTable.read(sqlContext.sparkSession,
      ReplayTailSource.path(params)).schema
    catch { case e: org.apache.spark.sql.AnalysisException
        if ReplayTailSource.isFreshBoot(e) =>
      // fresh boot ONLY (path missing / nothing to infer): the ingest
      // half hasn't created the table yet — a tail of a
      // not-yet-existing table reads as empty with the canonical
      // ingested schema (FileStreamSource's missing-dir contract), so
      // serve can start before the first event lands. Any other
      // analysis failure is table breakage and propagates.
      ReplayTailSource.bootstrapSchema(sqlContext.sparkSession)
    }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(tableSchema(sqlContext, parameters)))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new ReplayTailSource(sqlContext,
      schema.getOrElse(tableSchema(sqlContext, parameters)), parameters)
}

object ReplayTailSource {
  val UsPerHour = 3600000000L

  def path(params: Map[String, String]): String =
    params.getOrElse("path", throw new IllegalArgumentException(
      "graft-replay source requires a 'path' option (events table location)"))

  /** True only for the analysis failures a FRESH BOOT produces — the
    * events-table dir not created yet (PATH_NOT_FOUND) or created but
    * holding no parquet to infer from (UNABLE_TO_INFER_SCHEMA).
    * Everything else (schema drift, an unreadable generation, a failed
    * partition-column cast) must PROPAGATE: mapping it to an empty
    * stream would tail forever delivering zero rows with no error
    * surfaced.
    */
  private[graft] def isFreshBoot(e: org.apache.spark.sql.AnalysisException): Boolean =
    Option(e.getCondition).exists(c =>
      c.startsWith("PATH_NOT_FOUND") || c.startsWith("UNABLE_TO_INFER_SCHEMA"))

  /** A FileNotFoundException anywhere in the cause chain: the listing
    * raced a concurrent retention/compaction delete — re-listing
    * resolves it, so callers retry instead of dying.
    */
  private[sources] def isTransientListing(e: Throwable): Boolean = {
    var c = e
    var depth = 0
    while (c != null && depth < 12) {
      if (c.isInstanceOf[java.io.FileNotFoundException]) return true
      val next = c.getCause
      c = if (next eq c) null else next
      depth += 1
    }
    false
  }

  /** Engine offsets arrive live (LongOffset) or checkpoint-recovered
    * (SerializedOffset) — one coercion for every source in this
    * package.
    */
  private[sources] def offsetToLong(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.toLong
  }

  /** The canonical ingested-table schema, derived from the REAL
    * decode → sequence → layout chain over zero rows (no file IO, no
    * hand-maintained copy to drift).
    */
  def bootstrapSchema(spark: org.apache.spark.sql.SparkSession): StructType = {
    val emptyFrames = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.StringType))))
    graft.store.EventsTable.withLayoutCols(
      graft.ingest.Decode.decodeFrames(
        graft.ingest.Decode.parseMixedFrames(emptyFrames))
        .withColumn("time_us", org.apache.spark.sql.functions.lit(0L)))
      .schema
  }
}

class ReplayTailSource(
    sqlContext: SQLContext,
    override val schema: StructType,
    params: Map[String, String]) extends Source with Logging {

  import ReplayTailSource.UsPerHour

  private val tablePath = ReplayTailSource.path(params)
  private val cursorUs = params.get("cursor").map(_.toLong).getOrElse(0L)
  private val maxPerBatch = params.get("maxEventsPerBatch").map(_.toLong)

  /** Optional subscriber predicate pushed INTO the source: a stream
    * dedicated to one subscription filters at the parquet scan
    * (dictionary-page pushdown on collection/did) instead of
    * post-source. Offsets/rate caps still advance over the unfiltered
    * time domain — pacing on scanned events, filtering on emit, exactly
    * the reference's ReplayEvents + emitToSubscriber split
    * (persist.go:147-204, server.go:118-136).
    */
  private val subscriberSpec: Option[graft.serve.Subscribe.SubscriberSpec] = {
    def csv(k: String) = params.get(k).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val (cols, dids) = (csv("wantedCollections"), csv("wantedDids"))
    if (cols.isEmpty && dids.isEmpty) None
    else Some(graft.serve.Subscribe.SubscriberSpec(cols, dids))
  }

  /** EventsTable-layout tables carry the hour partition column; a plain
    * parquet dir pointed at this source still works, just without
    * partition pruning.
    */
  private val hasHourCol =
    schema.fieldNames.contains(graft.store.EventsTable.PartitionCol)

  /** The events table through the compaction-generation resolution —
    * a micro-batch planned mid-compaction still sees every hour
    * (EventsTable.read; plain-parquet fast path when never compacted).
    * A table that doesn't exist yet reads as empty with this source's
    * schema — the fresh-boot window where serve starts before the
    * ingest half's first append (see [[ReplayTailSource.bootstrapSchema]]).
    */
  /** AQE-off session clone for the offset PROBES only. getOffset runs a
    * tiny `max(time_us)` head() every trigger, CONCURRENTLY with
    * whatever else the shared session is executing (e.g. the serve
    * loop's replay steps); AQE's final-plan wait has a lost-wakeup race
    * under that concurrency — observed as the stream thread parked
    * forever in `AdaptiveSparkPlanExec.withFinalPlanUpdate` while every
    * executor thread idled — and adaptive planning buys nothing on a
    * footer-sized scan anyway. getBatch plans stay on the engine's own
    * session (the streaming planner already runs them AQE-less).
    */
  private lazy val probeSession = {
    val s = sqlContext.sparkSession.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.experimental.extraOptimizations =
      sqlContext.sparkSession.experimental.extraOptimizations
    s
  }

  private def table: DataFrame = tableFor(sqlContext.sparkSession)

  /** Open the table for one scan. Two tolerated failure shapes:
    *
    *   - fresh boot (path missing / nothing to infer): empty frame with
    *     the canonical schema, so serve can start before the ingest
    *     half creates the table;
    *   - TRANSIENT listing race: `EventsTable.read`'s schema-footer
    *     read can land on a file that retention or compaction deleted
    *     between the directory listing and the read — a
    *     FileNotFoundException that would TERMINATE the streaming query
    *     if it escaped getOffset/getBatch (the round-12 multi-edge soak
    *     caught exactly this: the serve tail died at the first
    *     maintenance pass). Deletes are not transactional, so the only
    *     correct response is to re-list: retry with a short backoff —
    *     the reading side loses nothing because the deleted hours are
    *     behind every cursor this source plans. Persistent failures
    *     still propagate after the retry budget.
    */
  private def tableFor(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    var attempt = 0
    var out: DataFrame = null
    while (out == null) {
      try out = graft.store.EventsTable.read(spark, tablePath)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if ReplayTailSource.isFreshBoot(e) =>
          out = spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        case e: Throwable
            if attempt < 4 && ReplayTailSource.isTransientListing(e) =>
          attempt += 1
          logWarning(s"table listing raced a concurrent delete " +
            s"(attempt $attempt/4, re-listing): ${e.getMessage}")
          Thread.sleep(25L << attempt)
      }
    }
    out
  }

  /** `time_us >= lowerUs AND time_us <= upperUs` with matching hour-partition
    * bounds, so every scan this source plans prunes to the hours the range
    * covers instead of listing all 24h × 100 TB of the log
    * (≙ pebble iterator LowerBound/UpperBound, persist.go:152-155).
    */
  private[sources] def rangeScan(lowerUs: Long, upperUs: Option[Long],
      over: DataFrame = table): DataFrame = {
    val hourCol = col(graft.store.EventsTable.PartitionCol)
    var df = over.filter(col("time_us") >= lowerUs)
    if (hasHourCol) df = df.filter(hourCol >= lowerUs / UsPerHour)
    upperUs.foreach { u =>
      df = df.filter(col("time_us") <= u)
      if (hasHourCol) df = df.filter(hourCol <= u / UsPerHour)
    }
    df
  }

  /** Head of the log (None until an event at/after the cursor exists). */
  override def getOffset: Option[Offset] = {
    val prev = delivered
    // First undelivered µs: everything at/under `prev` is already planned
    // into an earlier batch, so both scans below start at the tail — on a
    // 24h log this prunes every hour before the current position.
    val lowerUs = prev.map(_ + 1).getOrElse(cursorUs)
    val probe = tableFor(probeSession)
    val row = rangeScan(lowerUs, None, probe).agg(max(col("time_us"))).head()
    if (row.isNullAt(0)) prev.map(LongOffset(_)) // no new data: re-announce tail
    else {
      val head = row.getLong(0)
      val capped = maxPerBatch match {
        case Some(cap) =>
          // rate cap: advance the offset only to the cap-th event of the range
          val chunk = rangeScan(lowerUs, Some(head), probe)
            .orderBy(col("time_us")).limit(cap.toInt)
            .agg(max(col("time_us"))).head()
          if (chunk.isNullAt(0)) head else chunk.getLong(0)
        case None => head
      }
      // Never regress below an offset the engine already planned/committed.
      Some(LongOffset(math.max(capped, prev.getOrElse(Long.MinValue))))
    }
  }

  /** Tail of the last planned batch — the rate-cap cursor. Restart-safe:
    * on recovery MicroBatchExecution re-calls `getBatch` with the restored
    * committed range before asking for a new offset, so this is re-seeded
    * from the checkpoint rather than resetting to `cursor` (the reference's
    * cursor read-back, persist.go:41-87). Monotonic max because a recovery
    * replay must not move it backwards.
    */
  @volatile private var delivered: Option[Long] = None

  /** Deliver `(start, end]` in sequence order, pruned at the scan. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val lower = start.map(ReplayTailSource.offsetToLong).getOrElse(cursorUs - 1)
    val upper = ReplayTailSource.offsetToLong(end)
    logInfo(s"graft-replay batch ($lower, $upper]")
    delivered = Some(math.max(delivered.getOrElse(Long.MinValue), upper))
    // time_us > lower ⇔ time_us >= lower+1, which pins the hour lower bound
    val ranged = rangeScan(lower + 1, Some(upper))
    val emitted = subscriberSpec match {
      case Some(spec) => ranged.filter(
        graft.serve.Subscribe.filterFor(spec, collectionCol = "collection", didCol = "did"))
      case None => ranged
    }
    org.apache.spark.sql.graft.Bridge.asStreaming(emitted)
  }

  override def stop(): Unit = ()
}
