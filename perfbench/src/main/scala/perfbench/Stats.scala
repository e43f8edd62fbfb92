package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  /** The `q` quantile of `xs` under the tail rule: a percentile is only
    * reported where at least `minBeyond` samples lie beyond it, so with
    * n samples the quantile actually taken is min(q, 1 - minBeyond/n)
    * (a p99 needs 1000 samples; with 200 it is read at p95), but never
    * below the median (with too few samples a tail reads as the median).
    * Linear interpolation between order statistics. NaN on no samples.
    */
  def pct(xs: Seq[Double], q: Double, minBeyond: Int = 10): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val n = s.length
      val qq = math.max(math.min(q, 0.5), math.min(q, 1.0 - minBeyond.toDouble / n))
      val pos = qq * (n - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, n - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5, 0)
}

/** In-memory span recorder for the traced runs: spans nest per thread,
  * and each span's self time is its duration minus the part its child
  * spans cover. Nothing is written until [[Spans.summary]] is read at
  * the end of the run.
  */
final class Spans {
  private final case class Open(name: String, t0: Long, var childNs: Long)
  private val stack = new ThreadLocal[List[Open]] { override def initialValue() = Nil }
  private val totals = scala.collection.concurrent.TrieMap.empty[String, Spans.Acc]

  def apply[A](name: String)(body: => A): A = {
    val o = Open(name, System.nanoTime(), 0L)
    stack.set(o :: stack.get)
    try body
    finally {
      val dur = System.nanoTime() - o.t0
      stack.set(stack.get.tail)
      stack.get.headOption.foreach(p => p.childNs += dur)
      totals.getOrElseUpdate(name, new Spans.Acc).add(dur, dur - o.childNs)
    }
  }

  /** Per-span (calls, total ms, self ms, per-call ms samples). */
  def summary: Map[String, Spans.Acc] = totals.toMap
}

object Spans {
  final class Acc {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
    var totalMs = 0.0
    var selfMs = 0.0
    def add(durNs: Long, selfNs: Long): Unit = synchronized {
      buf += durNs / 1e6; totalMs += durNs / 1e6; selfMs += selfNs / 1e6
    }
    def calls: Int = synchronized(buf.size)
    def samples: Seq[Double] = synchronized(buf.toVector)
  }
}
