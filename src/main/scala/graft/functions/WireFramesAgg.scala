package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import graft.serve.Subscribe.WireFrame
import graft.util.DriverBudget

/** Bounded collect of a commit's wired frames — the commit hand-off's
  * collector ([[graft.store.EventsTable.append]] observes it on its
  * write). Wrapped with `functions.udaf` it compiles to a
  * `ScalaAggregator`, so each write task keeps its own frames and the
  * driver merges one buffer per task.
  *
  * Every frame is charged what the driver holds for it: a fixed object
  * cost plus two bytes per char of its three strings (a UTF-16 char is
  * at most two bytes). Past `budgetBytes` the buffer drops its frames
  * and keeps only the flag: a task stops collecting at the budget, and
  * so does the merge. Reduce and merge are concatenations, so the
  * frames come out in no particular order; the caller sorts them.
  */
class WireFramesAgg(budgetBytes: Long)
    extends Aggregator[WireFrame, WireFramesAgg.Frames, WireFramesAgg.Frames] {
  import WireFramesAgg._

  override def zero: Frames = Frames(Vector.empty, 0L, over = false)

  override def reduce(b: Frames, f: WireFrame): Frames =
    charged(if (b.over) Vector.empty else b.frames.toVector :+ f, b.bytes + frameBytes(f), b.over)

  override def merge(a: Frames, b: Frames): Frames =
    charged(a.frames ++ b.frames, a.bytes + b.bytes, a.over || b.over)

  private def charged(frames: Seq[WireFrame], bytes: Long, over: Boolean): Frames =
    if (over || bytes > budgetBytes) Frames(Vector.empty, bytes, over = true)
    else Frames(frames, bytes, over = false)

  override def finish(b: Frames): Frames = b

  override def bufferEncoder: Encoder[Frames] = FramesEncoder
  override def outputEncoder: Encoder[Frames] = FramesEncoder
}

object WireFramesAgg {

  /** The frames collected so far, the bytes charged for every frame
    * seen, and whether those passed the budget (then `frames` is empty).
    */
  final case class Frames(frames: Seq[WireFrame], bytes: Long, over: Boolean)

  // built once: an encoder is derived by reflection
  private val FramesEncoder: Encoder[Frames] = ExpressionEncoder[Frames]()
  val FrameEncoder: Encoder[WireFrame] = ExpressionEncoder[WireFrame]()

  private def chars(s: String): Long = if (s == null) 0L else s.length.toLong

  /** Driver heap of one frame: its object and boxed time plus its
    * strings' chars.
    */
  def frameBytes(f: WireFrame): Long =
    DriverBudget.fixedRowBytes(4) + 2L * (chars(f.collection) + chars(f.did) + chars(f.wire))
}
