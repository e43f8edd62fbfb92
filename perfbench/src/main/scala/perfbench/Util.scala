package perfbench

/** `--key value` command-line arguments. */
final case class Args(args: Array[String]) {
  private val kv: Map[String, String] = args.grouped(2).collect {
    case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
  }.toMap
  def get(k: String): Option[String] = kv.get(k)
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def getOr(k: String, d: String): String = kv.getOrElse(k, d)
}

/** Just enough JSON to write results; values are pre-rendered text. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def writeFile(path: String, text: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))
}

/** Tab-separated `key<TAB>value` lines (the expected-fingerprint file). */
object Tsv {
  def read(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.contains('\t')).map { l =>
        val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1)
      }.toMap
}

/** A workload's result file: `run.py` turns it into the final line. */
object Result {
  def write(path: String, correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], info: String): Unit = {
    val ms = metrics.map { case (n, v, u) =>
      n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
    }
    Json.writeFile(path, Json.obj(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(ms: _*),
      "info" -> info))
  }
}

/** Peak memory this process holds, in MB: the most heap any garbage
  * collection left in use (summed over the heap pools) plus the peak
  * non-heap use (metaspace, code cache). Unlike the resident set, it
  * follows what the program keeps, not how far the collector grew the
  * heap. [[Mem.watch]] starts listening to collections.
  */
object Mem {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
  private val heapPools = pools.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peakHeap = new java.util.concurrent.atomic.AtomicLong(0L)

  def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakHeap.accumulateAndGet(used, math.max(_, _))
      }, null, null)
    case _ => ()
  }

  def peakMb(): Double = {
    // no collection yet: the heap in use now
    val heap = if (peakHeap.get > 0) peakHeap.get
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val nonHeap = pools.filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (heap + nonHeap) / 1048576.0
  }
}
