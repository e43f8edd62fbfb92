package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Replay→live cutover (reference: cmd/jetstream/server.go:305-337 +
  * the replay-lag gate at :60,100-103 — SURVEY §3.3, §7.4.2).
  *
  * The reference loop: replay from cursor in chunks; while replaying,
  * live events are suppressed for this subscriber; when the replay tail
  * is within `CutoverThresholdUs/2` of the live head, clear the cursor
  * and let the live tail take over; the per-subscriber high-water mark
  * dedups the overlap window.
  *
  * Spark translation: a per-subscriber [[CutoverSession]] replays
  * bounded chunks of the events table ([[replayChunk]]) until
  * [[caughtUp]] with the live head, then takes live frames from the
  * append commits, the hwm deduping the overlap.
  */
object Replay {

  /** 1 s — replay considered "caught up" within half this (server.go:60,322). */
  val CutoverThresholdUs: Long = 1000000L

  /** Has replay caught up enough to cut over? (server.go:322) */
  def caughtUp(replayTailUs: Long, liveHeadUs: Long): Boolean =
    replayTailUs > liveHeadUs - CutoverThresholdUs / 2

  /** S20 — rate-limited replay chunk: at most `maxEvents` events from
    * the cursor, in order (reference: playback limiter at 10× the
    * 5,000 ev/s sub rate, persist.go:147-149 + server.go:307; the
    * reference's replay loop is exactly repeated calls of this with the
    * returned next-cursor, server.go:305-337). Per-consumer egress
    * pacing beyond this stays in the serving layer (SURVEY §4: not a
    * Catalyst concept).
    */
  def replayChunk(spark: SparkSession, path: String, cursorUs: Long,
      maxEvents: Int): DataFrame =
    graft.store.EventsTable.replay(spark, path, cursorUs).limit(maxEvents)
}
