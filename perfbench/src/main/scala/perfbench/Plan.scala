package perfbench

/** The frame plan of live_fanout, identical in every process that
  * builds it from the same seed and window: [[Plan.WarmSeconds]] at
  * [[Plan.WarmRateEps]] events/s (a low-rate warm-up while a cold
  * service compiles its code paths), then [[Plan.RateEps]] events/s for
  * the settle and the measured window of `seconds`. The two segments
  * start separately (the full rate once the service has caught up with
  * the warm-up, see `Drive.run`); frame `i` is due `offsetUs(i)` after
  * the start of its segment, so events arrive at exactly the scheduled
  * rates on average.
  */
final case class Plan(seed: Long, seconds: Double) {
  import Plan._

  /** Seconds at the full rate: the settle, then the measured window. */
  val liveSeconds: Double = SettleSeconds + seconds

  /** Events sent at the warm-up rate. */
  val warmEvents: Long = (WarmRateEps * WarmSeconds).toLong

  val (frames, firstIds): (Array[FrameGen.Frame], Array[Long]) = {
    val gen = new FrameGen(seed)
    val fs = Array.newBuilder[FrameGen.Frame]
    val ids = Array.newBuilder[Long]
    val total = warmEvents + (RateEps * liveSeconds).toLong
    var id = 0L
    var i = 0
    while (id < total) {
      val f = gen.frame(i, id)
      fs += f; ids += id
      id += f.events.length
      i += 1
    }
    (fs.result(), ids.result())
  }

  /** Frame `i` belongs to the warm-up segment. */
  def isWarm(i: Int): Boolean = firstIds(i) < warmEvents

  def offsetUs(i: Int): Long = {
    val k = firstIds(i)
    if (k < warmEvents) (k * 1e6 / WarmRateEps).toLong
    else ((k - warmEvents) * 1e6 / RateEps).toLong
  }

  /** End of the warm-up segment started at `t0Us`. */
  def warmEndUs(t0Us: Long): Long = t0Us + (WarmSeconds * 1e6).toLong

  /** Start of the measured window: the settle after the full rate starts. */
  def windowUs(fullUs: Long): Long = fullUs + (SettleSeconds * 1e6).toLong

  /** End of the schedule. */
  def endUs(fullUs: Long): Long = fullUs + (liveSeconds * 1e6).toLong

  /** Every event in id order with the index of its frame. */
  lazy val events: Array[(FrameGen.Ev, Int)] =
    frames.zipWithIndex.flatMap { case (f, i) => f.events.map(_ -> i) }
}

object Plan {
  /** The open-loop rate (events/s): below the 5k events/s per-subscriber
    * live cap and under a third of the service's saturation rate on a
    * 4-core box (see WORKLOADS.md).
    */
  val RateEps = 2000.0
  /** The warm-up before the full rate: the first micro-batches of a
    * fresh service take seconds while its JVM compiles.
    */
  val WarmSeconds = 18.0
  val WarmRateEps = 200.0
  /** The full rate starts once the service delivers every warm-up event
    * scheduled more than this long before the warm-up's end.
    */
  val CatchUpSeconds = 5.0
  /** Time at the full rate before the measured window opens. */
  val SettleSeconds = 2.0

  /** The plan of `--seed` and `--seconds` (the measured window). */
  def fromArgs(a: Args): Plan = Plan(a("seed").toLong, a("seconds").toDouble)
}
