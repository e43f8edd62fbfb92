package perfbench

/** Seeded firehose content for the service workloads.
  *
  * Frame `i` is a pure function of (seed, i): mostly `#commit` frames
  * carrying one to four ops, plus a few `#identity` and `#account`
  * frames. Repo DIDs and op collections are drawn from Zipf
  * distributions. Every event the decoder emits carries its event id —
  * the op's rkey (`r<id>`) or the identity/account `seq` — so a
  * subscriber can check its stream exactly. About 0.5% of create ops
  * carry a CID mismatch; the decoder drops those by design, so they are
  * never expected downstream.
  *
  * The frame's RFC 3339 `time` is its scheduled send time, so every
  * delivered event carries it as `event_time_us`.
  */
final class FrameGen(seed: Long) {
  import FrameGen._

  private val didCdf = zipfCdf(NumDids, 1.05)
  private val collCdf = zipfCdf(Collections.length, 1.2)

  private def rng(i: Long) = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)

  def didOf(rank: Int): String = f"did:plc:bench${rank}%07d"

  /** Consecutive DID ranks from `fromRank` whose total share of repo
    * draws first reaches `share` — a DID filter of that selectivity.
    */
  def didsWithShare(fromRank: Int, share: Double): Seq[String] = {
    val mass = (r: Int) => didCdf(r) - (if (r == 0) 0.0 else didCdf(r - 1))
    var acc = 0.0
    Iterator.from(fromRank).takeWhile { r => val go = acc < share; acc += mass(r); go }
      .map(didOf).toVector
  }

  /** Frame `i`, whose first event id is `firstId`. */
  def frame(i: Long, firstId: Long): Frame = {
    val r = rng(i)
    val did = didOf(sample(didCdf, r.nextDouble()))
    val kind = r.nextDouble()
    if (kind < IdentityShare) {
      val id = firstId
      Frame(Array(Ev(id, null, did, kept = true)), t =>
        s"""{"t":"#identity","did":"$did","seq":$id,"time":"${iso(t)}","handle":"u$id.bsky.social"}""")
    } else if (kind < IdentityShare + AccountShare) {
      val id = firstId
      Frame(Array(Ev(id, null, did, kept = true)), t =>
        s"""{"t":"#account","did":"$did","seq":$id,"time":"${iso(t)}","active":true}""")
    } else {
      val nOps = 1 + r.nextInt(MaxOps)
      val ops = Array.tabulate(nOps) { k =>
        val id = firstId + k
        val coll = Collections(sample(collCdf, r.nextDouble()))
        val a = r.nextDouble()
        val action = if (a < 0.8) "create" else if (a < 0.85) "update" else "delete"
        val bad = action == "create" && r.nextDouble() < CidMismatchShare
        val text = Words(r.nextInt(Words.length)) + " " + Words(r.nextInt(Words.length))
        (Ev(id, coll, did, kept = !bad), action, bad, text)
      }
      Frame(ops.map(_._1), t => {
        val sb = new StringBuilder(256 * nOps)
        sb.append(s"""{"t":"#commit","did":"$did","rev":"v$i","seq":$i,"time":"${iso(t)}","tooBig":false,"ops":[""")
        ops.zipWithIndex.foreach { case ((ev, action, bad, text), k) =>
          if (k > 0) sb.append(',')
          val path = s"${ev.collection}/r${ev.id}"
          if (action == "delete")
            sb.append(s"""{"action":"delete","path":"$path"}""")
          else {
            val cid = s"bafy${ev.id}"
            sb.append(s"""{"action":"$action","path":"$path","cid":"$cid",""")
              .append(s""""recordCid":"${if (bad) "bafyX" else cid}",""")
              .append(s""""record":{"$$type":"${ev.collection}","text":"$text",""")
              .append(s""""createdAt":"${iso(t)}"}}""")
          }
        }
        sb.append("]}").toString
      })
    }
  }
}

object FrameGen {
  /** One event of a frame: its id, collection (null for identity/
    * account), DID, and whether the decoder keeps it.
    */
  final case class Ev(id: Long, collection: String, did: String, kept: Boolean)

  /** A frame: its events and a renderer taking the send time (µs). */
  final case class Frame(events: Array[Ev], render: Long => String)

  val NumDids = 20000
  val MaxOps = 4
  val IdentityShare = 0.02
  val AccountShare = 0.01
  val CidMismatchShare = 0.005

  /** Collections by popularity rank (Zipf over this order). */
  val Collections: Array[String] = Array(
    "app.bsky.feed.like", "app.bsky.feed.post", "app.bsky.graph.follow",
    "app.bsky.feed.repost", "app.bsky.actor.profile", "app.bsky.graph.block",
    "app.bsky.graph.listitem", "app.bsky.feed.threadgate", "app.bsky.graph.list",
    "app.bsky.feed.generator", "app.bsky.feed.postgate", "app.bsky.graph.starterpack",
    "chat.bsky.actor.declaration", "app.bsky.labeler.service", "com.whtwnd.blog.entry",
    "fyi.unravel.frontpage.post")

  private val Words = Array("spark", "stream", "firehose", "cursor", "replay",
    "hour", "table", "subscriber", "delta", "batch", "sky", "post")

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def sample(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  def iso(us: Long): String =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L).toString
}
