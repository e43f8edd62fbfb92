package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ingest.{Decode, Sequencer}
import graft.serve.{CutoverSession, Metrics, Replay, Subscribe, TokenBucket}
import graft.store.{Compaction, EventsTable, Retention}
import graft.tools.Service

/** The traced run of live_fanout, in one process:
  *
  *  1. the workload against an in-process `Service.start`, with a
  *     benchmark-owned `StreamingQueryListener` recording every
  *     micro-batch's phase durations for the ingest and the serving
  *     tail, and the ingest lag sampled every 100 ms, both over the
  *     untraced run's measured window;
  *  2. the same generated input driven through the public entry points
  *     in pipeline order, one span per call: `Decode.parseMixedFrames`/
  *     `decodeFrames` → `Sequencer.stamp` → `EventsTable.append` →
  *     `CutoverSession.replayStep`/`liveEmitFrames` → socket write; then
  *     the table is range-scanned with `Replay.replayChunk`, compacted
  *     (`Compaction.compactClosed`) and trimmed (`Retention.trim`).
  *
  * Spans stay in memory and are summarised at the end; the result file
  * holds every per-layer metric ([[Layers]]).
  */
object ServiceTrace {
  private val OrderCols = Seq("event_time_us", "did", "type")

  /** Per-batch progress of the two streaming queries. */
  final class PhaseListener extends StreamingQueryListener {
    /** Per query: (batch start ms, input rows, phase durations ms). */
    val batches = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[(Long, Long, Map[String, Long])]]
    @volatile var callbackNs = 0L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t0 = System.nanoTime()
      val p = e.progress
      if (p.numInputRows > 0) synchronized {
        import scala.jdk.CollectionConverters._
        batches.getOrElseUpdate(p.id, mutable.ArrayBuffer.empty) +=
          ((java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }
      callbackNs += System.nanoTime() - t0
    }
    /** Batches of query `id` that started at or after `fromMs`. */
    def of(id: java.util.UUID, fromMs: Long): Seq[(Long, Map[String, Long])] = synchronized(
      batches.get(id).map(_.toVector).getOrElse(Vector.empty)
        .collect { case (t, n, d) if t >= fromMs => (n, d) })
  }

  /** A loopback socket whose reader discards everything: the wire the
    * traced serve writes go to.
    */
  final class Sink {
    private val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    private val client = new java.net.Socket(java.net.InetAddress.getLoopbackAddress, server.getLocalPort)
    private val peer = server.accept()
    private val reader = new Thread(() => {
      val in = peer.getInputStream; val buf = new Array[Byte](1 << 16)
      try while (in.read(buf) >= 0) () catch { case _: Throwable => () }
    }, "bench-sink")
    reader.setDaemon(true); reader.start()
    val out = new java.io.BufferedOutputStream(client.getOutputStream, 1 << 16)
    var bytes = 0L
    def write(wires: Array[String]): Unit = {
      wires.foreach { w => val b = w.getBytes(UTF_8); Ws.writeText(out, b); bytes += b.length }
      out.flush()
    }
    def close(): Unit = { client.close(); peer.close(); server.close() }
  }

  private def dirStats(path: String): (Long, Long) = {
    val files = Option(new java.io.File(path)).filter(_.exists).toSeq.flatMap(f =>
      org.apache.commons.io.FileUtils.listFiles(f, Array("parquet"), true).toArray
        .map(_.asInstanceOf[java.io.File]))
    (files.size.toLong, files.map(_.length).sum)
  }

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val plan = Plan.fromArgs(a)
    val dataDir = a("data-dir")
    val spans = new Spans
    val tWall = System.nanoTime()
    val spark = ServiceHost.session("perfbench-trace")
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.install(spark)
    val m = mutable.LinkedHashMap.empty[String, Double]

    // --- 1. the workload against the in-process service
    val listener = new PhaseListener
    spark.streams.addListener(listener)
    val registry = new Metrics.Registry
    val up = new Upstream(plan)
    val running = Service.start(spark,
      ServiceHost.config(s"ws://127.0.0.1:${up.port}/subscribe", dataDir), registry = registry)
    // the untraced run's measured window
    def windowUs: Long = if (up.fullStart == Long.MaxValue) Long.MaxValue else plan.windowUs(up.fullStart)
    val lagMs = mutable.ArrayBuffer.empty[Double]
    @volatile var sampling = true
    // ingest lag: the newest frame sent minus the newest frame the ingest
    // has committed (its source offset counts frames since connect)
    val sampler = new Thread(() => while (sampling) {
      Option(running.ingest.lastProgress).flatMap(_.sources.headOption)
        .flatMap(src => scala.util.Try(src.endOffset.trim.toInt).toOption)
        .filter(n => n > 0 && n <= up.sentSchedUs.size && up.sentSchedUs(n - 1) >= windowUs)
        .foreach(n => lagMs.synchronized(lagMs += (up.headSchedUs - up.sentSchedUs(n - 1)) / 1000.0))
      Thread.sleep(100)
    }, "bench-lag-sampler")
    sampler.setDaemon(true); sampler.start()
    val o = try Drive.run(plan, up, running.servePort)
      finally { sampling = false; up.close() }
    val delivered = registry.render.linesIterator.filter(_.startsWith("graft_events_delivered_total"))
      .map(l => l.substring(l.lastIndexOf(' ') + 1).toDouble).sum
    running.close()
    spark.streams.removeListener(listener)

    def batches(id: java.util.UUID) = listener.of(id, windowUs / 1000L)
    def batchMs(id: java.util.UUID) = batches(id).map(_._2.getOrElse("triggerExecution", 0L).toDouble)
    val ingestBatches = batches(running.ingest.id)
    m("sources.ingest.batch_ms.p50") = Stats.median(batchMs(running.ingest.id))
    m("sources.ingest.batch_ms.p99") = Stats.pct(batchMs(running.ingest.id), 0.99)
    m("sources.tail.batch_ms.p50") = Stats.median(batchMs(running.server.query.id))
    m("sources.tail.batch_ms.p99") = Stats.pct(batchMs(running.server.query.id), 0.99)
    Seq("getBatch", "queryPlanning", "addBatch", "walCommit").foreach { ph =>
      m(s"sources.ingest.phase_ms.$ph") = Stats.median(ingestBatches.map(_._2.getOrElse(ph, 0L).toDouble))
    }
    m("sources.ingest.batch_rows.p50") = Stats.median(ingestBatches.map(_._1.toDouble))
    m("sources.ingest.lag_ms.p99") = Stats.pct(lagMs.synchronized(lagMs.toVector), 0.99)
    m("gen.late_ms.p99") = Stats.pct(o.lateMs, 0.99)
    m("gen.offered_eps") = o.offeredEps
    m("serve.delivered") = delivered
    m("serve.dropped") = o.subs.count(_.closedByServer).toDouble

    // --- 2. the public entry points in pipeline order, one span per call
    val sink = new Sink
    try pipeline(spark, plan, s"$dataDir/pipeline", spans, sink, m)
    finally sink.close()

    val s = spans.summary
    def med(n: String) = s.get(n).map(x => Stats.median(x.samples)).getOrElse(0.0)
    Seq("ingest.decode", "ingest.sequence", "store.append", "store.replay", "store.compact",
      "store.retention", "serve.replay_step", "serve.serialize", "serve.emit", "serve.write")
      .foreach(n => m(s"$n.ms") = med(n))
    // instrumentation cost: the spans (each timed as an empty span) and
    // the listener callbacks, against the traced run's wall time
    val perSpanNs = { val t = System.nanoTime(); (1 to 10000).foreach(_ => spans("trace.probe")(())); (System.nanoTime() - t) / 10000.0 }
    val nSpans = s.values.map(_.calls).sum
    m("trace.overhead_share") = (nSpans * perSpanNs + listener.callbackNs) / (System.nanoTime() - tWall).toDouble
    val info = Json.obj(
      "checks" -> Json.obj(o.subs.zip(o.checks).map { case (x, c) => x.spec.name -> Json.str(c.toString) }: _*),
      "spans" -> Json.obj(s.toSeq.sortBy(_._1).map { case (n, x) =>
        n -> Json.obj("calls" -> Json.num(x.calls), "total_ms" -> Json.num(x.totalMs),
          "self_ms" -> Json.num(x.selfMs)) }: _*))
    Result.write(a("out"), correct = o.failed == 0, o.attempted, o.failed,
      Layers.complete(m.toMap), info)
    spark.stop()
    sys.exit(0)
  }

  /** Part 2: the full-rate frames in one-second batches, each decoded,
    * sequenced, appended to a fresh table, serialized and emitted to the
    * four live sessions (which first replay the first batch to cut
    * over); then the whole table is range-scanned in replay chunks,
    * compacted (its hour counted as closed) and trimmed.
    */
  private def pipeline(spark: SparkSession, plan: Plan, dir: String,
      spans: Spans, sink: Sink, m: mutable.Map[String, Double]): Unit = {
    import spark.implicits._
    val table = s"$dir/events"
    var maxUs = 0L
    var rowsIn, rowsOut = 0L
    def ingestBatch(frames: Seq[Int], atUs: Int => Long): DataFrame = {
      val raw = frames.map(i => plan.frames(i).render(atUs(i))).toDF("value")
      rowsIn += frames.map(plan.frames(_).events.length).sum
      val decoded = spans("ingest.decode")(
        Decode.decodeFrames(Decode.parseMixedFrames(raw)).localCheckpoint())
      val n = decoded.count()
      rowsOut += n
      val seq = spans("ingest.sequence") {
        val s = Sequencer.stamp(decoded, OrderCols, maxUs, rows = n)
        s.copy(df = s.df.localCheckpoint())
      }
      spans("store.append")(EventsTable.append(seq.df, table))
      maxUs = seq.maxTimeUs
      seq.df
    }
    val sessions = Drive.specs(plan).map { sp =>
      val bucket = TokenBucket.playback()
      (sp, bucket, new CutoverSession(Subscribe.SubscriberSpec(sp.collections, sp.dids),
        0L, chunkSize = 50000, playback = Some(bucket)))
    }
    var steps, paced, stepRows = 0L
    /** Steps every replaying session until all cut over; a step taken
      * with the playback bucket empty counts as paced out.
      */
    def replayToLive(): Unit =
      while (sessions.exists(_._3.replaying)) sessions.foreach { case (_, bucket, sess) =>
        if (sess.replaying) {
          steps += 1
          if (bucket.available <= 0) paced += 1
          spans("serve.replay_step")(sess.replayStep(spark, table, maxUs) { view =>
            val wires = Decode.toWire(view).select("wire").collect().map(_.getString(0))
            stepRows += wires.length
            spans("serve.write")(sink.write(wires))
          })
        }
      }

    val first = plan.frames.indices.find(i => plan.firstIds(i) >= plan.warmEvents)
      .getOrElse(plan.frames.length)
    val batches = (first until plan.frames.length)
      .groupBy(i => plan.offsetUs(i) / 1000000L).toSeq.sortBy(_._1).map(_._2)
    val t0 = Clock.nowUs
    var offered = 0L
    val admitted = mutable.Map.empty[String, Long].withDefaultValue(0L)
    batches.zipWithIndex.foreach { case (b, k) =>
      val df = ingestBatch(b, i => t0 + plan.offsetUs(i))
      val frames = spans("serve.serialize") {
        val w = Decode.toWire(df)
        w.select($"time_us", Subscribe.resolvedCollection(w).as("collection"), $"did", $"wire")
          .collect().map(r => Subscribe.WireFrame(r.getLong(0),
            if (r.isNullAt(1)) null else r.getString(1), r.getString(2), r.getString(3)))
          .sortBy(_.timeUs)
      }
      if (k == 0) replayToLive()
      else {
        offered += frames.length
        sessions.foreach { case (sp, _, sess) =>
          val (wires, tail) = spans("serve.emit")(sess.liveEmitFrames(frames))
          admitted(sp.name) += wires.length
          spans("serve.write")(sink.write(wires))
          sess.delivered(tail)
        }
      }
    }
    sessions.foreach { case (sp, _, _) =>
      m(s"serve.emit.admit_ratio.${sp.name}") = admitted(sp.name).toDouble / math.max(1L, offered)
    }
    val (appendFiles, appendBytes) = dirStats(table)

    var cursor = 0L
    var more = true
    var rows, files = 0L
    while (more) {
      val (n, f, next) = spans("store.replay") {
        val chunk = Replay.replayChunk(spark, table, cursor, 50000)
        val got = chunk.select("time_us").collect().map(_.getLong(0))
        (got.length.toLong, chunk.inputFiles.length.toLong, if (got.isEmpty) cursor else got.max + 1)
      }
      rows += n; files += f; cursor = next; more = n > 0
    }
    val nextHour = maxUs / 3600000000L + 1
    spans("store.compact")(Compaction.compactClosed(spark, table, nextHour, graceMs = 0L))
    spans("store.retention")(Retention.trim(spark, table, 24L * 3600000000L))

    m("ingest.decode.rows_in") = rowsIn.toDouble
    m("ingest.decode.rows_out") = rowsOut.toDouble
    m("store.append.files") = appendFiles.toDouble
    m("store.append.bytes") = appendBytes.toDouble
    m("store.replay.rows") = rows.toDouble
    m("store.replay.files") = files.toDouble
    m("serve.replay_step.rows") = stepRows.toDouble
    m("serve.replay_step.paced_share") = if (steps == 0) 0.0 else paced.toDouble / steps
    m("serve.write.bytes") = sink.bytes.toDouble
  }
}
