package graft.serve

/** Adaptive replay share (VERDICT r16 #2) — the saturation governor
  * between replay steps and live delivery.
  *
  * The FAIR scheduler pool (see [[CutoverSession.replayStep]]) gives
  * replay chunk scans a FIXED share of task slots. That share is what
  * lets a late joiner catch up DURING generation — but at the box's
  * saturation point it is also what pushes live delivery over the edge:
  * in the round-16 16k ev/s soak, live delivery p90 climbed to 22 s,
  * the late joiner's socket write blew the slow-consumer budget, and
  * S21 dropped a COMPLIANT client (the drop is designed for readers
  * that stop reading, not for a box that stopped serving).
  *
  * This governor makes the share adaptive: the serving edge reports
  * live delivery lag per micro-batch ([[observeLive]]); when the EWMA
  * of that lag exceeds `targetLagUs`, replay steps are admitted at a
  * reduced rate — proportionally (lag 2× target → every 2nd step),
  * floored at `floorShare` so a replaying session always converges
  * (never a full stall: a stalled cursor never cuts over). When live
  * goes quiet (generation over, idle stream) the observation goes
  * STALE and the share snaps back to 1.0 — the post-generation drain
  * replays at full speed, exactly as before this governor existed.
  *
  * The step gate is a fractional-rate accumulator ([[stepAllowed]]):
  * each candidate tick deposits `share`; a step fires when the
  * accumulator reaches 1. Credit is capped at 1 so a long-idle pump
  * cannot burst. Throttling only delays steps — it never touches the
  * session's cursor, hwm, or barrier logic, so exactly-once semantics
  * are untouched; a throttled joiner degrades to SLOW catch-up instead
  * of being disconnected.
  *
  * Reference behavior preserved: server.go:168-175 drops slow
  * consumers, and still does — this changes only how much background
  * replay work the server schedules against its own live path, which
  * the reference never had to decide (its replay is a per-goroutine
  * LSM iterator, not cluster jobs competing for task slots).
  */
final class ReplayThrottle(
    val targetLagUs: Long = 2000000L,
    val floorShare: Double = 1.0 / 16,
    staleNanos: Long = 5000000000L,
    alpha: Double = 0.3,
    nowNanos: () => Long = () => System.nanoTime()) {
  require(targetLagUs > 0, s"targetLagUs must be positive, got $targetLagUs")
  require(floorShare > 0 && floorShare <= 1.0,
    s"floorShare in (0, 1], got $floorShare")
  require(alpha > 0 && alpha <= 1.0, s"alpha in (0, 1], got $alpha")

  private[this] var ewmaLagUs: Double = 0.0
  private[this] var lastObsNanos: Long = Long.MinValue
  private[this] var accum: Double = 1.0 // first candidate step always fires

  /** Report one live micro-batch's delivery lag (emit wall-clock −
    * newest event time_us). Called from the serving edge's batch loop.
    */
  def observeLive(lagUs: Long): Unit = synchronized {
    val l = math.max(0L, lagUs).toDouble
    ewmaLagUs =
      if (lastObsNanos == Long.MinValue) l
      else alpha * l + (1.0 - alpha) * ewmaLagUs
    lastObsNanos = nowNanos()
  }

  /** Current replay share in [floorShare, 1]: 1 while live delivery
    * lag is at/under target or observations are stale (quiet stream —
    * no contention to arbitrate); target/lag above it.
    */
  def share: Double = synchronized(shareLocked())

  private[this] def shareLocked(): Double =
    if (lastObsNanos == Long.MinValue ||
        nowNanos() - lastObsNanos > staleNanos) 1.0
    else if (ewmaLagUs <= targetLagUs.toDouble) 1.0
    else math.max(floorShare, targetLagUs.toDouble / ewmaLagUs)

  /** One admission decision for one candidate replay tick (covering
    * however many sessions that tick steps). Deterministic fractional
    * rate: fires ⌈share⌉ of the time, credit capped at one step.
    */
  def stepAllowed(): Boolean = synchronized {
    accum += shareLocked()
    if (accum >= 1.0) { accum = math.min(accum - 1.0, 1.0); true }
    else false
  }

  /** Diagnostic snapshot: (ewma lag µs, share). */
  def state: (Long, Double) = synchronized((ewmaLagUs.toLong, shareLocked()))
}
