package graft.serve

/** S20 — per-subscriber rate limits: a token bucket at the
  * reference's live cap (`maxSubRate`, server.go:211,345) and at its
  * playback operating point (server.go:307 `playbackRateLimit =
  * maxSubRate * 10`, enforced inside the playback iterator at
  * pkg/consumer/persist.go:147-149).
  *
  * Driver-side state by design: pacing is per-subscriber control flow,
  * not a data transform — the Spark work stays distributed, only the
  * admit decision lives here (the same split as the reference, where
  * the limiter wraps the playback loop, not the storage scan). The
  * clock is injectable so specs are deterministic.
  */
final class TokenBucket(ratePerSec: Double, burst: Long, nowUs: () => Long) {
  require(ratePerSec > 0 && burst > 0)

  private[this] var tokens: Double = burst.toDouble
  private[this] var lastUs: Long = nowUs()

  private def refill(): Unit = {
    val t = nowUs()
    if (t > lastUs) {
      tokens = math.min(burst.toDouble, tokens + (t - lastUs) * ratePerSec / 1e6)
      lastUs = t
    }
  }

  /** Take up to `n` tokens — the playback form (persist.go:147-149
    * paces the replay iterator; nothing is lost, the cursor just
    * advances more slowly). Returns how many were granted.
    */
  def acquireUpTo(n: Long): Long = synchronized {
    refill()
    val take = math.max(0L, math.min(n.toDouble, math.floor(tokens)).toLong)
    tokens -= take
    take
  }

  /** Return unused tokens, capped at `burst` like any refill. The paced
    * replay acquires a chunk-sized budget BEFORE scanning (the scan
    * limit needs a bound); when the chunk comes back short — backlog
    * tail, or a filtered view — the un-consumed budget flows back so
    * the effective replay rate stays the configured one instead of
    * being silently debited for events that never existed.
    */
  def refund(n: Long): Unit = synchronized {
    if (n > 0) { refill(); tokens = math.min(burst.toDouble, tokens + n) }
  }

  /** Tokens currently available (diagnostics/tests). */
  def available: Long = synchronized { refill(); math.floor(tokens).toLong }
}

object TokenBucket {
  /** Reference defaults: 5k ev/s `maxSubRate`, 10× for playback
    * (BASELINE.md; cmd/jetstream/main.go's maxSubRate flag default).
    */
  val DefaultLiveRate = 5000.0
  val PlaybackMultiplier = 10.0

  /** The live cap: `rate` frames/s with a burst of one second of it. */
  def live(rate: Double): TokenBucket =
    new TokenBucket(rate, math.max(1L, rate.toLong), () => System.nanoTime() / 1000L)

  def playback(nowUs: () => Long = () => System.nanoTime() / 1000L,
      liveRate: Double = DefaultLiveRate): TokenBucket = {
    val r = liveRate * PlaybackMultiplier
    new TokenBucket(r, r.toLong, nowUs)
  }
}
