package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.EventsTable

/** S18+S19 — one subscriber's replay→live lifecycle with the replay-lag
  * gate, end to end (reference: the subscribe handler's replay goroutine,
  * cmd/jetstream/server.go:305-337, and the live-suppression check in
  * `Server.Emit`, server.go:100-103).
  *
  * Reference protocol:
  *   - while `cursor != nil` the subscriber is REPLAYING: chunks are
  *     read from the log and delivered through the subscriber predicate
  *     + per-subscriber hwm (`sub.seq`, server.go:131-134);
  *   - live events are SUPPRESSED while the subscriber lags more than
  *     `CutoverThresholdUs` behind them (server.go:100-103) — near
  *     events flow through and advance the hwm, which the replay then
  *     skips past (the overlap dedup);
  *   - when a chunk's scan tail is within `CutoverThresholdUs/2` of the
  *     live head, the cursor is cleared and live takes over
  *     (server.go:318-330).
  *
  * One deliberate strengthening: the reference can lose events that
  * arrived live (suppressed) in the final `(lastSeq, serverSeq]` window
  * right before cutover — a sub-500 ms race it accepts. Here cutover
  * first delivers that window as a gap-fill chunk, so the session is
  * exactly-once: every event ≥ cursor is delivered once, in time order.
  *
  * Spark posture: all data movement is range scans of the hour-partitioned
  * events table (partition-pruned, row-group-pruned, limit-pushed); the
  * session object holds only two longs of driver-side state per
  * subscriber — at 100 TB the scans are the same plans EventsTable
  * already serves, and a serving tier can run thousands of sessions
  * against one table.
  */
final class CutoverSession(
    spec: Subscribe.SubscriberSpec,
    startCursorUs: Long,
    chunkSize: Int = 10000,
    playback: Option[TokenBucket] = None,
    barrierRecoverHolds: Int = 1200,
    pool: CutoverSession.SnapshotPool = CutoverSession.SnapshotBudget)
    extends org.apache.spark.internal.Logging {

  @volatile private[this] var cursorOpt: Option[Long] = Some(startCursorUs)
  @volatile private[this] var seqVar: Long = Long.MinValue

  // Adaptive replay chunk (PERF.md round-11 ceiling table: the chunk
  // size is the per-session catch-up lever — a 10k default replays at
  // ~6k ev/s against a near-constant per-chunk listing cost, so a
  // producer faster than that starves a fixed-chunk session forever).
  // When replay lag (live head − cursor) fails to SHRINK between steps
  // and the last chunk came back full, the effective chunk doubles, up
  // to 16× the configured size, hard-capped at 400k rows: each step
  // snapshots its chunk driver-side (the cache()-is-not-a-snapshot
  // race, see `snapshot`), so the cap bounds that to ~150 MB of wire
  // rows per stepping session. The playback rate limiter still bounds
  // actual admission — acquireUpTo grants at most the bucket's tokens
  // and unfilled budget is refunded, so pacing semantics are unchanged;
  // a paced session simply stops benefiting from growth at the bucket
  // rate, which is the operator's stated intent.
  private[this] val maxChunk: Int =
    math.min(math.max(chunkSize, 16L * chunkSize), 400000L).toInt
  private[this] var effChunk: Int = chunkSize
  private[this] var prevLagUs: Long = Long.MinValue
  private[this] var lastChunkFull: Boolean = false
  // VERDICT r12 #4a: a grown chunk DECAYS — but on UNDERFULL SCANS (two
  // consecutive steps whose scan filled less than half the effective
  // chunk), not on shrinking lag as first suggested: a lag-shrink decay
  // oscillates mid-backlog (a grown chunk that outpaces the producer
  // shrinks the lag, decays, starves again, regrows — observed as a
  // 4↔8 thrash on the decay spec's starving fixture and never
  // converging). An underfull scan is direct evidence the appetite
  // exceeds the need (sparse region, pacing clamp, pool clamp, drained
  // backlog); full chunks mid-catch-up never decay. Halves per firing,
  // never below the configured size. rearmReplay() additionally RESETS
  // the chunk outright: a re-armed session replays a small recovery
  // window and must not reserve its old 400k appetite for it.
  private[this] var underfullStreak = 0

  /** Current effective replay chunk (adaptive; starts at `chunkSize`). */
  private[serve] def effectiveChunk: Int = effChunk

  // Consecutive visibility-barrier holds at one (lastSeq, serverSeqUs)
  // pair. The barrier exists for the transient append-commit race and
  // normally releases within a tick or two; if the observed live-head
  // event becomes PERMANENTLY invisible (retention/compaction removed
  // the head hour), the barrier can never be satisfied. Bound the
  // silence: warn at BarrierWarnHolds and every multiple after, and at
  // `barrierRecoverHolds` consecutive holds (≈30 s at the edge's 40 Hz
  // replay tick — far beyond any append-commit latency) ABANDON the barrier:
  // treat the observed head as permanently invisible, deliver the
  // surviving gap window and cut over, instead of replaying forever
  // against a head that can never be seen again.
  //
  // DEPLOYMENT CAVEAT (ADVICE r11): the ≈30 s default is tuned for
  // local/HDFS-class listing latency. On storage whose listings can lag
  // a committed write by longer than that (eventual-consistency object
  // stores, an ingest commit stalled behind slow metadata), an abandon
  // trades exactly-once for liveness on a window that was merely LATE,
  // not removed. Scale `barrierRecoverHolds` to ≥ (worst observed
  // commit-to-visible latency × 40 ticks/s) there — the abandon is
  // always logged with the surviving window, so a mis-sized default is
  // auditable after the fact.
  private[this] var barrierHolds = 0
  private[this] var barrierHoldKey = (Long.MinValue, Long.MinValue)
  private val BarrierWarnHolds = 200 // ≈5 s at the edge's 40 Hz replay tick

  /** Diagnostic breadcrumb trail of session-state transitions (hwm
    * advances with their source, cutover decisions) — bounded, cheap,
    * and invaluable when a distributed-delivery assertion fails: specs
    * print it instead of guessing at interleavings.
    */
  private[serve] val trace = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private def traced(msg: String): Unit = {
    if (trace.size > 512) trace.poll()
    trace.add(msg)
  }

  /** Still in replay mode? (sub.cursor != nil, server.go:100) */
  def replaying: Boolean = cursorOpt.isDefined

  /** Per-subscriber high-water mark (sub.seq, server.go:131-134). */
  def seqUs: Long = seqVar

  private def advanceSeq(toUs: Long): Unit = synchronized {
    if (toUs > seqVar) seqVar = toUs
  }

  /** Subscriber predicate + hwm dedup (emitToSubscriber, server.go:118-134);
    * collection/did resolved against the frame's actual shape (flat
    * fixture columns or the nested wire envelope).
    */
  private def deliverable(df: DataFrame): DataFrame =
    df.filter(Subscribe.filterForDf(spec.copy(hwmUs = seqVar), df))

  private def maxTimeUs(df: DataFrame): Option[Long] = {
    val row = df.agg(max(col("time_us"))).head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** One iteration of the replay loop (server.go:310-330): scan a chunk
    * at the cursor, deliver its subscriber view, then either advance the
    * cursor or cut over (delivering the gap-fill first). Returns true
    * while still replaying. `serverSeqUs` is the live head (s.seq,
    * server.go:114,183-186); `deliver` receives the in-order view and
    * must consume it before the call returns.
    */
  /** One table scan → an immutable driver-local snapshot. Every further
    * action in a replay step runs over the snapshot (a LocalRelation),
    * NEVER re-reading the table: `.cache()` cannot pin a parquet scan
    * here because a concurrent append to the same path INVALIDATES the
    * cached plan (Spark recaches by path on write), so two actions over
    * one "cached" chunk can see two different table states — observed
    * as a step whose scan-tail said 40 rows, whose delivery collected
    * 44, and whose hwm advanced to a 46-row state's max: the hwm then
    * deduped events that never reached the wire. The reference replays
    * from one LSM iterator and cannot race this way (persist.go:147-204).
    * Snapshots are bounded: ≤ chunkSize rows (replay) or the ≤ ½ s
    * cutover window (gap-fill).
    */
  private def snapshot(spark: SparkSession, df: DataFrame): (DataFrame, Option[Long], Long) = {
    val rows = df.collect()
    val snap = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
    val ti = df.schema.fieldIndex("time_us")
    val maxUs = if (rows.isEmpty) None else Some(rows.iterator.map(_.getLong(ti)).max)
    (snap, maxUs, rows.length.toLong)
  }

  def replayStep(spark: SparkSession, path: String, serverSeqUs: Long)(
      deliver: DataFrame => Unit): Boolean = cursorOpt match {
    case None => false
    case Some(cursor) =>
      // CONTENDED-REPLAY FAIRNESS (VERDICT r15 #6): every Spark job this
      // step submits (chunk scan, delivery collect, gap-fill) runs in a
      // dedicated scheduler pool. Under the default FIFO scheduler the
      // pool tag is inert; with `spark.scheduler.mode=FAIR` (the service
      // and soak sessions set it) replay chunk scans get a fair share of
      // task slots AGAINST the live micro-batch jobs instead of queuing
      // behind them — the 18k-soak shape where a late joiner replayed at
      // 0.7k ev/s while live ran 16k on the same box, catch-up only
      // succeeding in the post-generation drain. Thread-local, restored
      // on exit (the batch loop's worker threads also run live emits).
      val sc = spark.sparkContext
      val prevPool = sc.getLocalProperty("spark.scheduler.pool")
      sc.setLocalProperty("spark.scheduler.pool", "graft-replay")
      try replayStepImpl(spark, path, serverSeqUs, cursor)(deliver)
      finally sc.setLocalProperty("spark.scheduler.pool", prevPool)
  }

  private def replayStepImpl(spark: SparkSession, path: String,
      serverSeqUs: Long, cursor: Long)(
      deliver: DataFrame => Unit): Boolean = {
      // adaptive growth check BEFORE this step: did the last full chunk
      // fail to close the lag? (serverSeqUs == 0 = no live head yet —
      // nothing to measure against)
      if (serverSeqUs > 0) {
        val lag = serverSeqUs - cursor
        if (prevLagUs != Long.MinValue && lag >= prevLagUs &&
            lastChunkFull && effChunk < maxChunk) {
          effChunk = math.min(maxChunk.toLong, 2L * effChunk).toInt
          traced(s"chunk grow eff=$effChunk lag=$lag")
        }
        prevLagUs = lag
      }
      val budget = playback.map(_.acquireUpTo(effChunk.toLong).toInt).getOrElse(effChunk)
      if (budget == 0) return true // paced out this tick (persist.go:147-149)
      // VERDICT r12 #4b: the per-session 400k cap bounds ONE session's
      // snapshot; the server-wide pool bounds their SUM — 100 catching-
      // up sessions can no longer hold 100 × 150 MB of driver rows at
      // once. A floor grant keeps every session live when the pool is
      // hot (overshoot ≤ floor × sessions, see SnapshotBudget).
      val grant = pool.reserve(budget.toLong).toInt
      try {
      val (chunk, chunkMax, scanned) =
        try snapshot(spark, Replay.replayChunk(spark, path, cursor, grant))
        catch {
          // A FAILED chunk snapshot must shrink the appetite, not retry
          // forever at the same size (observed: a grown 400k chunk's
          // TakeOrdered collect returns each task's LOCAL top-`grant`,
          // and at ~30 scan tasks the serialized results crossed
          // spark.driver.maxResultSize — every retry then failed
          // identically and the session stalled for the rest of the
          // soak, because the underfull-decay only sees chunks that
          // SUCCEED). Halve toward the configured size and retry next
          // tick; regrowth is gated on full successful chunks, so a
          // halving on a merely-transient failure self-corrects. At the
          // floor the failure is structural — surface it to the
          // caller's transient/drop handling instead of looping.
          case e: Throwable if effChunk > chunkSize =>
            playback.foreach(_.refund(budget))
            effChunk = math.max(chunkSize.toLong, effChunk.toLong / 2L).toInt
            // without these resets the very next tick re-grows off the
            // STALE full-chunk/lag pair and re-fails at the same size
            prevLagUs = Long.MinValue
            lastChunkFull = false
            traced(s"chunk snapshot failed, decay eff=$effChunk: ${e.getMessage}")
            logWarning(s"replay chunk snapshot failed at grant=$grant; " +
              s"halving effective chunk to $effChunk and retrying next tick", e)
            return true
        }
      // refund the budget the chunk didn't fill (tail of the backlog,
      // or a pool-clamped grant): only scanned events consume playback
      // tokens
      playback.foreach(_.refund(budget - scanned))
      // "full" = the CHUNK SIZE was the binding limit: the scan filled an
      // un-paced, un-clamped grant. A pacing-limited grant (budget <
      // effChunk) or a pool-clamped one (grant < budget) must not count
      // — growing the chunk cannot help a session whose admission is
      // token- or pool-bound, and unchecked growth would burst-shape
      // the paced stream for nothing.
      lastChunkFull = scanned >= grant && scanned > 0 &&
        budget == effChunk && grant == budget
      // underfull-decay (see the adaptive-chunk comment): two
      // consecutive scans below half the effective chunk halve it
      if (scanned * 2 < effChunk) {
        underfullStreak += 1
        if (underfullStreak >= 2 && effChunk > chunkSize) {
          effChunk = math.max(chunkSize.toLong, effChunk.toLong / 2L).toInt
          underfullStreak = 0
          traced(s"chunk decay eff=$effChunk scanned=$scanned")
        }
      } else underfullStreak = 0
      // scan tail — the reference's ReplayEvents return value (persist.go:199-203)
      val lastSeq = chunkMax.getOrElse(cursor - 1)
      val view = deliverable(chunk).orderBy(col("time_us"))
      deliver(view)
      val viewMax = maxTimeUs(view)
      traced(s"chunk cursor=$cursor lastSeq=$lastSeq srv=$serverSeqUs viewMax=$viewMax")
      viewMax.foreach(advanceSeq)
      if (Replay.caughtUp(lastSeq, serverSeqUs)) {
        // gap-fill (lastSeq, serverSeqUs]: what live suppressed while we
        // replayed — hwm-deduped, so anything the open gate already
        // delivered is skipped (the exactly-once strengthening)
        val gapDf = EventsTable.read(spark, path)
          .filter(col(EventsTable.PartitionCol) >= (lastSeq + 1) / 3600000000L &&
            col(EventsTable.PartitionCol) <= serverSeqUs / 3600000000L &&
            col("time_us") > lastSeq && col("time_us") <= serverSeqUs)
        // The gap-fill collect counts against the SAME pool as replay
        // chunks (ADVICE r13: N sessions cutting over simultaneously
        // otherwise hold N gap windows of driver rows outside the
        // budget). Unlike a chunk, the window cannot be clamped — every
        // surviving row must be delivered for exactly-once — so its size
        // is only known AFTER the collect: book the ACTUAL row count
        // (ADVICE r14: a clamped reserve against a pre-count under-
        // reported reality by (count − grant), and the pre-count was an
        // extra full scan of the window per cutover attempt). A hot pool
        // can thus be exceeded by one ≤ ½ s gap window per cutting-over
        // session — honest and bounded, and later reserves see the
        // overshoot and clamp to the floor until it releases.
        val (gapAll, gapAllMax, gapRows) = snapshot(spark, gapDf)
        pool.book(gapRows)
        try {
        // Visibility barrier: serverSeqUs IS an observed event's
        // timestamp (the serving loop's live head), so a gap scan that
        // cannot see that event raced an append's file commit —
        // certifying the suppressed window as delivered off that stale
        // listing would LOSE the rows the commit was still moving into
        // place. Keep the cursor and retry: the next tick re-lists a
        // fresher table. serverSeqUs == 0 means "no live head observed
        // yet" — nothing to certify.
        val barrierHeld =
          serverSeqUs > math.max(lastSeq, 0L) && !gapAllMax.contains(serverSeqUs)
        if (barrierHeld) {
          val key = (lastSeq, serverSeqUs)
          if (key == barrierHoldKey) barrierHolds += 1
          else { barrierHoldKey = key; barrierHolds = 1 }
        }
        if (barrierHeld && barrierHolds < barrierRecoverHolds) {
          traced(s"barrier hold lastSeq=$lastSeq srv=$serverSeqUs gapAllMax=$gapAllMax")
          if (barrierHolds % BarrierWarnHolds == 0)
            logWarning(s"cutover barrier held $barrierHolds consecutive " +
              s"ticks at lastSeq=$lastSeq srv=$serverSeqUs — the observed " +
              "live head may be permanently invisible (retention or " +
              "compaction removed it); session keeps replaying until " +
              s"$barrierRecoverHolds holds, then cuts over past it")
          cursorOpt = Some(lastSeq + 1)
          true
        } else {
          if (barrierHeld) {
            // recovery: the head stayed invisible for the full hold
            // budget — no append commit takes ≈30 s, so retention or
            // compaction removed the observed hour. The gap scan over
            // the CURRENT table is everything that survives; deliver it
            // and cut over (holding longer can never deliver more).
            traced(s"barrier abandoned holds=$barrierHolds lastSeq=$lastSeq srv=$serverSeqUs")
            logWarning(s"cutover barrier abandoned after $barrierHolds " +
              s"consecutive ticks at lastSeq=$lastSeq srv=$serverSeqUs: " +
              "the observed live head is permanently invisible (retention " +
              "or compaction removed it); cutting over with the surviving " +
              "gap window")
          }
          barrierHolds = 0; barrierHoldKey = (Long.MinValue, Long.MinValue)
          val gap = deliverable(gapAll).orderBy(col("time_us"))
          deliver(gap)
          val gapMax = maxTimeUs(gap)
          traced(s"cutover lastSeq=$lastSeq srv=$serverSeqUs gapAllMax=$gapAllMax gapMax=$gapMax")
          gapMax.foreach(advanceSeq)
          cursorOpt = None // sub.cursor = nil (server.go:334-336)
          false
        }
        } finally pool.release(gapRows)
      } else {
        cursorOpt = Some(lastSeq + 1) // next chunk (server.go:327-330)
        true
      }
      } finally pool.release(grant.toLong)
  }

  /** The live `Emit` branch for this subscriber (server.go:87-111): while
    * replaying, live delivery is suppressed (the replay-lag gate,
    * server.go:100-103); afterwards events pass the subscriber predicate
    * + hwm. Advances the hwm to the returned view's tail, so the caller
    * must sink what it gets back.
    *
    * Gate note: the reference's per-event form (`deliver iff time_us ≤
    * seq + threshold`) lets a live delivery jump `sub.seq` past events
    * the replay hasn't reached yet, which the hwm then skips — a
    * bounded-loss race it accepts for boundary latency. Because this
    * session gap-fills at cutover, strict suppression costs nothing in
    * completeness, and delivery is provably exactly-once and in-order.
    */
  def liveEmit(batch: DataFrame): DataFrame = {
    val gated = if (replaying) batch.limit(0) else batch
    val view = deliverable(gated).orderBy(col("time_us"))
    maxTimeUs(view).foreach(advanceSeq)
    view
  }

  // wanted-sets as hash sets for the in-process emit loop — the Seq
  // forms stay on the spec for the Column path, but a per-frame
  // `Seq.contains` would make the loop O(frames × wanted) driver CPU
  private[this] val collSet = spec.wantedCollections.toSet
  private[this] val didSet = spec.wantedDids.toSet

  /** The live `Emit` branch over the ONCE-collected micro-batch — the
    * in-process twin of [[liveEmit]], applying the same gate, predicate
    * and hwm dedup per frame in plain JVM code so the serving loop runs
    * ONE Spark job per micro-batch regardless of subscriber count
    * (the reference's emit loop is exactly this shape: one serialized
    * batch in memory, a per-subscriber predicate pass in process,
    * server.go:87-134). `frames` must be time-ordered (the caller sorts
    * the collected batch once); the returned wires are then in order.
    *
    * The hwm does NOT advance here: the caller confirms via
    * [[delivered]] AFTER the wire write succeeds — the reference
    * advances `sub.seq` only past a successful write
    * (server.go:131-152). Advancing first would dedup-forever frames
    * whose write then failed.
    */
  def liveEmitFrames(frames: Array[Subscribe.WireFrame]): (Array[String], Long) = {
    val admitted = liveFrames(frames)
    (admitted.map(_.wire), admitted.lastOption.fold(Long.MinValue)(_.timeUs))
  }

  /** [[liveEmitFrames]]'s admitted frames themselves, each keeping its
    * `time_us`, so a writer that puts only a prefix on the wire can
    * confirm exactly that prefix.
    */
  private[serve] def liveFrames(frames: Array[Subscribe.WireFrame]): Array[Subscribe.WireFrame] = {
    if (replaying) return Array.empty // replay-lag gate (server.go:100-103)
    val hwm = seqVar
    // a missing collection passes any wanted-set (server.go:119's
    // `collection != ""` guard — identity/account events flow to all)
    frames.filter(f => f.timeUs > hwm &&
      (collSet.isEmpty || f.collection == null || f.collection.isEmpty ||
        collSet(f.collection)) &&
      (didSet.isEmpty || (f.did != null && didSet(f.did))))
  }

  /** Confirm a successful wire write of [[liveEmitFrames]] output up to
    * `tailUs` — advances the hwm (sub.seq = timeUS after the write,
    * server.go:131-152). No-op for the Long.MinValue "nothing emitted"
    * sentinel.
    */
  def delivered(tailUs: Long): Unit =
    if (tailUs != Long.MinValue) { traced(s"live tail=$tailUs"); advanceSeq(tailUs) }

  /** Re-arm a LIVE session back into replay at its current hwm — the
    * recovery path for a live delivery that failed AFTER frames were
    * computed (a non-IO write failure): the skipped window cannot be
    * re-emitted from memory (the next micro-batch carries only newer
    * events) but is still in the table. Replay re-reads from hwm+1
    * (never before the subscriber's start cursor), the hwm dedup skips
    * anything already confirmed, and the normal gap-fill cutover
    * returns the session to live exactly-once. No-op while replaying.
    */
  def rearmReplay(): Unit = synchronized {
    if (cursorOpt.isEmpty) {
      val c = math.max(seqVar + 1, startCursorUs)
      traced(s"rearm replay cursor=$c eff=$chunkSize (reset)")
      // a recovery window is small; the old grown appetite must not be
      // reserved for it (VERDICT r12 #4) — re-grow only on evidence
      effChunk = chunkSize
      prevLagUs = Long.MinValue
      lastChunkFull = false
      underfullStreak = 0
      cursorOpt = Some(c)
    }
  }
}

/** Server-wide snapshot accounting for replay sessions. */
object CutoverSession {

  /** Cap on the SUM of in-flight replay-snapshot rows across the
    * sessions sharing one pool (VERDICT r12 #4): the per-session 400k
    * cap bounds one session at ~150 MB of collected wire rows; the
    * pool bounds their aggregate, so 100 catching-up sessions contend
    * for one budget instead of holding 15 GB together. A session whose
    * request cannot be met still receives up to `floorRows` (liveness:
    * every session keeps stepping, just with small chunks), so the
    * worst-case overshoot is floorRows × sessions — bounded and tiny
    * next to the pool. `peak` records the high-water mark for the
    * 50-session smoke's bounded-heap assertion. Sessions default to
    * the server-wide [[SnapshotBudget]] instance; tests pass their own
    * pool so shrinking it can never clamp unrelated suites.
    */
  final class SnapshotPool(@volatile var totalRows: Long,
      val floorRows: Long = 1000L) {
    private val used = new java.util.concurrent.atomic.AtomicLong
    private val peakRows = new java.util.concurrent.atomic.AtomicLong

    /** Reserve up to `requested` rows; returns the grant (≥ the floor,
      * ≤ requested). Pair with [[release]].
      */
    def reserve(requested: Long): Long = {
      val want = math.max(0L, requested)
      var granted = 0L
      var done = false
      while (!done) {
        val u = used.get()
        val avail = math.max(totalRows - u, 0L)
        granted = math.max(math.min(want, avail), math.min(want, floorRows))
        done = used.compareAndSet(u, u + granted)
      }
      val _ = peakRows.getAndUpdate(p => math.max(p, used.get()))
      granted
    }

    /** Unconditionally account `n` rows ALREADY held on the driver (the
      * true-up for collects whose size is only known afterwards — the
      * cutover gap window). `used` may exceed `totalRows`; that is the
      * honest view of an overshoot: subsequent [[reserve]]s see a hot
      * pool and clamp to the floor until the booking releases.
      */
    def book(n: Long): Unit = {
      used.addAndGet(math.max(0L, n))
      val _ = peakRows.getAndUpdate(p => math.max(p, used.get()))
    }

    def release(n: Long): Unit = { used.addAndGet(-n); () }
    def inFlight: Long = used.get()
    def peak: Long = peakRows.get()
  }

  /** The server-wide default pool (~750 MB of wire rows at the soak's
    * row width); deployments size `totalRows` to driver heap.
    */
  val SnapshotBudget = new SnapshotPool(2000000L)
}
