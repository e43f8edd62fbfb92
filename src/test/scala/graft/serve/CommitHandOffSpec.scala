package graft.serve

import java.net.Socket

import org.apache.spark.sql.functions._

import graft.{SparkSpec, WsTestKit}
import graft.ingest.Decode
import graft.sources.WebSocketIngress
import graft.store.EventsTable
import graft.streaming.Watchdog
import graft.util.DriverBudget

/** The live hand-off from the append commit to the serving edges
  * (the reference's persist-then-emit in one process, server.go:62-116):
  * what a commit hands over is exactly what a table read yields, the
  * appender never waits on a subscriber's socket, and a commit whose
  * wiring fails still reaches every live subscriber exactly once.
  */
class CommitHandOffSpec extends SparkSpec {
  import spark.implicits._

  private val iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
  private val baseMs = java.time.Instant.parse("2024-09-05T08:00:00.000Z").toEpochMilli

  /** Upstream frame `i`, one millisecond of event time apart; `pad`
    * fattens the record text. Every seventh frame is an identity event
    * (no collection).
    */
  private def frame(i: Int, pad: String = ""): (Long, String) = {
    val t = iso.format(java.time.Instant.ofEpochMilli(baseMs + i))
    val line =
      if (i % 7 == 0)
        s"""{"t":"#identity","did":"did:plc:h$i","seq":$i,"time":"$t","handle":"h$i.example.com"}"""
      else
        s"""{"t":"#commit","did":"did:plc:h${i % 5}","rev":"r$i","seq":$i,"time":"$t","tooBig":false,""" +
          s""""ops":[{"action":"create","path":"app.bsky.feed.post/k$i","cid":"c$i","recordCid":"c$i","record":{"text":"m$i$pad"}}]}"""
    (baseMs + i) * 1000L -> line
  }

  /** Appends events `ids` to `table`, their time_us stamped at append
    * as the sequencer stamps them: a live-only subscriber's cursor (its
    * handshake time) sits between the batches appended before and after
    * it attaches. Returns the stamps.
    */
  private def appendNow(table: String, ids: Range): Seq[Long] = {
    val t0 = System.currentTimeMillis() * 1000L
    val batch = ids.map(i => (t0 + i, s"did:plc:u${i % 5}", if (i % 3 == 0) "app.graft.b" else "app.graft.a"))
    EventsTable.append(batch.toDF("time_us", "did", "collection"), table)
    batch.map(_._1)
  }

  private def rows(ids: Range) =
    ids.map(i => (i * 1000L, s"did:plc:u${i % 5}", if (i % 3 == 0) "app.graft.b" else "app.graft.a"))
      .toDF("time_us", "did", "collection")

  /** Every batch committed to `table` while `body` runs, wired the way
    * the serving edges receive it.
    */
  private def handedOff(table: String)(body: => Unit): Seq[Array[Subscribe.WireFrame]] = {
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Array[Subscribe.WireFrame]]
    val detach = EventsTable.onCommit(spark, table) { frames =>
      got.add(frames.getOrElse(fail("a commit within the driver budget handed over no frames")))
    }
    try body finally detach()
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq
  }

  /** Each handed-off batch equals `Decode.toWire` over a table read of
    * the same `time_us` range, and together they cover the table.
    */
  private def assertTableIdentity(table: String, batches: Seq[Array[Subscribe.WireFrame]]): Unit = {
    assert(batches.nonEmpty)
    batches.foreach { b =>
      assert(b.nonEmpty)
      val w = Decode.toWire(EventsTable.read(spark, table)
        .filter(col("time_us").between(b.head.timeUs, b.last.timeUs)))
      val expected = w.select(col("time_us"), Subscribe.resolvedCollection(w), col("did"), col("wire"))
        .collect()
        .map(r => Subscribe.WireFrame(r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) null else r.getString(2), r.getString(3)))
        .sortBy(_.timeUs)
      assert(b.toSeq == expected.toSeq)
    }
    assert(batches.map(_.length).sum == EventsTable.read(spark, table).count())
  }

  test("frame identity: a commit hands over what a table read of its range wires to") {
    // the flat fixture shape, one commit per append
    val flat = tmpDir("handoff-flat-table")
    val flatBatches = handedOff(flat) {
      EventsTable.append(rows(1 to 20), flat)
      EventsTable.append(rows(21 to 23), flat)
      EventsTable.appendManifested(rows(24 to 30), tmpDir("handoff-unrelated"))
      EventsTable.append(rows(31 to 40), flat)
    }
    assert(flatBatches.map(_.length) == Seq(20, 3, 10))
    assertTableIdentity(flat, flatBatches)

    // manifest commits hand over the files the manifest names
    val manifested = tmpDir("handoff-manifest-table")
    val manifestBatches = handedOff(manifested) {
      EventsTable.appendManifested(rows(1 to 12), manifested)
      EventsTable.appendManifested(rows(13 to 15), manifested)
    }
    assert(manifestBatches.map(_.length) == Seq(12, 3))
    assertTableIdentity(manifested, manifestBatches)

    // the decoded envelope shape, committed by the WebSocket ingest
    val ws = tmpDir("handoff-ws-table")
    val srv = new WsTestKit.ReplayServer
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      val wsBatches = handedOff(ws) {
        srv.log = (1 to 30).map(frame(_)).toVector
        q = WebSocketIngress.start(spark, s"ws://localhost:${srv.port}/subscribe", ws,
          tmpDir("handoff-ws-ckpt"))
        eventually(90000)(EventsTable.read(spark, ws).count() >= 30)
        srv.log = (1 to 45).map(frame(_)).toVector
        eventually(90000)(EventsTable.read(spark, ws).count() >= 45)
        q.stop(); q.awaitTermination(30000)
      }
      assert(wsBatches.map(_.length).sum == 45)
      assert(wsBatches.flatten.exists(_.collection == null), "identity events carry no collection")
      assertTableIdentity(ws, wsBatches)
    } finally {
      if (q != null) q.stop()
      srv.close()
    }
  }

  test("one pass per ingest micro-batch: frames parse once per batch, and no plan reads the table") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val table = tmpDir("handoff-onepass-table")
    val srv = new WsTestKit.ReplayServer
    // every executed plan, in completion order; a marker action fences
    // off the plans executed before it
    val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]
    val recorder = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.executedPlan)
    }
    val marker = "graft_plan_marker"
    def untilMarker(): Seq[SparkPlan] = {
      spark.range(1).toDF(marker).collect()
      val out = Seq.newBuilder[SparkPlan]
      var p = plans.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (p != null && !p.output.exists(_.name == marker)) {
        out += p
        p = plans.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(p != null, "the marker's plan was reported")
      out.result()
    }
    // a plan's operators, through adaptive stages and into the plans
    // that build the cached relations it reads
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => (p.children ++ p.subqueries).flatMap(nodes)
    })
    // a micro-batch reaches foreachBatch as a scan of the RDD that reads
    // and parses its frames: the scan operators a plan runs or reads the
    // cached output of
    def batchScans(p: SparkPlan) = nodes(p).collect { case s: RDDScanExec => s }
    def scansTable(p: SparkPlan) = nodes(p).exists {
      case s: FileSourceScanExec => s.relation.location.rootPaths.exists(_.toString.contains(table))
      case _ => false
    }
    var ingest: org.apache.spark.sql.streaming.StreamingQuery = null
    var server: SocketServe.Server = null
    // registered before the ingest starts: the stream runs in a clone of
    // the session, which copies the listeners registered by then
    spark.listenerManager.register(recorder)
    try {
      srv.log = (1 to 5).map(frame(_)).toVector
      ingest = WebSocketIngress.start(spark, s"ws://localhost:${srv.port}/subscribe", table,
        tmpDir("handoff-onepass-ckpt"))
      eventually(90000)(EventsTable.read(spark, table).count() == 5)
      server = SocketServe.start(spark, table)
      val live = new WsTestKit.Client(s"ws://localhost:${server.port}/subscribe?")
      eventually(30000)(server.subscriberCount == 1 && server.replayingCount == 0)
      eventually(30000)(!ingest.status.isTriggerActive)
      untilMarker()
      val before = ingest.lastProgress.batchId
      srv.log = (1 to 40).map(frame(_)).toVector
      eventually(90000)(live.lines.size >= 35)
      eventually(30000)(!ingest.status.isTriggerActive)
      val executed = untilMarker()
      val progress = ingest.recentProgress.filter(p => p.batchId > before && p.numInputRows > 0)
      val batches = progress.length
      assert(live.lines.size == 35, "the live subscriber got each new event once")
      assert(batches >= 1)
      assert(!executed.exists(scansTable), "a plan of the ingest micro-batch read the events table")
      // each batch's frames are parsed by one operator, however many
      // plans read its output
      val parsed = executed.flatMap(batchScans).map(System.identityHashCode).distinct.size
      assert(parsed == batches, s"frames parsed by $parsed operators over $batches batches")
      // the source's row count sums each computation of a batch
      assert(progress.map(_.numInputRows).sum == 35, "each frame was read and parsed once")
    } finally {
      spark.listenerManager.unregister(recorder)
      if (server != null) server.close()
      if (ingest != null) { ingest.stop(); ingest.awaitTermination(30000) }
      srv.close()
    }
  }

  test("hand-off failure: a commit whose wiring throws still reaches every live subscriber once") {
    val table = tmpDir("handoff-fail-table")
    def append(ids: Range) = appendNow(table, ids)
    val history = append(1 to 10)
    val key = EventsTable.tableKey(spark, table)
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = SocketServe.start(spark, table)
    try {
      val all = new WsTestKit.Client(s"ws://localhost:${server.port}/subscribe?cursor=0")
      val filtered = new WsTestKit.Client(
        s"ws://localhost:${server.port}/subscribe?cursor=0&wantedCollections=app.graft.b")
      val live = new WsTestKit.Client(s"ws://localhost:${server.port}/subscribe?")
      eventually(30000)(server.subscriberCount == 3)
      eventually(60000)(all.lines.size >= 10 && server.replayingCount == 0)

      val before = append(11 to 15)
      eventually(60000)(all.lines.size >= 15 && live.lines.size >= 5)
      // the next commit's wiring fails once: its frames never reach the edge
      SocketServe.beforeWire = k =>
        if (k == key && failed.compareAndSet(false, true))
          throw new RuntimeException("injected wiring failure")
      val lost = append(16 to 20)
      assert(failed.get)
      val after = append(21 to 25) ++ append(26 to 30)

      val every = history ++ before ++ lost ++ after
      val bOnly = every.zipWithIndex.collect { case (t, i) if (i + 1) % 3 == 0 => t }
      val liveWindow = before ++ lost ++ after
      eventually(90000)(all.timesUs.size >= every.size &&
        filtered.timesUs.size >= bOnly.size && live.timesUs.size >= liveWindow.size)
      assert(all.timesUs == every, "every event once, in order")
      assert(filtered.timesUs == bOnly, "the filtered subscriber's events once, in order")
      assert(live.timesUs == liveWindow, "the live-only subscriber's window once, in order")
      assert(server.subscriberCount == 3, "no subscriber is dropped for a wiring failure")
    } finally {
      SocketServe.beforeWire = _ => ()
      server.close()
    }
  }

  test("hand-off over the driver budget: the queued frames drop and live sessions replay them once") {
    val table = tmpDir("handoff-budget-table")
    def append(ids: Range) = appendNow(table, ids)
    val history = append(1 to 10)
    val server = SocketServe.start(spark, table)
    try {
      val all = new WsTestKit.Client(s"ws://localhost:${server.port}/subscribe?cursor=0")
      val live = new WsTestKit.Client(s"ws://localhost:${server.port}/subscribe?")
      eventually(30000)(server.subscriberCount == 2)
      eventually(60000)(all.lines.size >= 10 && server.replayingCount == 0)
      val before = append(11 to 15)
      eventually(60000)(all.lines.size >= 15 && live.lines.size >= 5)
      // a one-byte budget: no commit's frames fit the edge's feed
      val over = DriverBudget.withBytes(1L)(append(16 to 20) ++ append(21 to 25))
      val after = append(26 to 30)
      val every = history ++ before ++ over ++ after
      val liveWindow = before ++ over ++ after
      eventually(90000)(all.timesUs.size >= every.size && live.timesUs.size >= liveWindow.size)
      assert(all.timesUs == every, "every event once, in order")
      assert(live.timesUs == liveWindow, "the live-only subscriber's window once, in order")
      assert(server.subscriberCount == 2, "no subscriber is dropped for an over-budget hand-off")
    } finally server.close()
  }

  test("a stalled subscriber cannot hold up ingest: the commit only enqueues") {
    // one WebSocket subscriber reads; one completes the upgrade with a
    // 4 KiB receive window and never reads, so its writer stalls until
    // its outbox overflows and drops it. Ingest batches keep completing
    // meanwhile, and the reader stays exactly-once and in order.
    val table = tmpDir("handoff-stall-table")
    val pad = "x" * 4096
    val srv = new WsTestKit.ReplayServer
    val watchdog = new Watchdog()
    spark.streams.addListener(watchdog)
    var ingest: org.apache.spark.sql.streaming.StreamingQuery = null
    var server: SocketServe.Server = null
    val stalled = new Socket()
    @volatile var feeding = true
    try {
      srv.log = (1 to 5).map(frame(_, pad)).toVector
      ingest = WebSocketIngress.start(spark, s"ws://localhost:${srv.port}/subscribe", table,
        tmpDir("handoff-stall-ckpt"))
      eventually(90000)(EventsTable.read(spark, table).count() >= 5)
      server = SocketServe.start(spark, table)
      val reader = new WsTestKit.Client(s"ws://localhost:${server.port}/subscribe?")
      stalled.setReceiveBufferSize(4096)
      stalled.connect(new java.net.InetSocketAddress("localhost", server.port))
      stalled.getOutputStream.write(("GET /subscribe? HTTP/1.1\r\nHost: localhost\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("US-ASCII"))
      stalled.getOutputStream.flush()
      val head = new StringBuilder
      while (head.length < 4 || head.substring(head.length - 4) != "\r\n\r\n")
        head.append(stalled.getInputStream.read().toChar)
      assert(head.toString.startsWith("HTTP/1.1 101"), head.toString.take(100))
      eventually(30000)(server.subscriberCount == 2)

      // the firehose: 50 padded frames every 100 ms
      val feeder = new Thread(() => {
        var n = 5
        while (feeding && n < 20000) {
          n += 50
          srv.log = srv.log ++ (n - 49 to n).map(frame(_, pad))
          Thread.sleep(100)
        }
      })
      feeder.setDaemon(true)
      feeder.start()

      // sample the ingest's completed batches until the stalled
      // subscriber is dropped
      val samples = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var flaggedStalled = false
      val deadline = System.currentTimeMillis() + 120000L
      while (server.subscriberCount == 2 && System.currentTimeMillis() < deadline) {
        samples += System.currentTimeMillis() -> Option(ingest.lastProgress).map(_.batchId).getOrElse(-1L)
        flaggedStalled ||= watchdog.stalled(3000L).contains(ingest.id)
        Thread.sleep(100)
      }
      val droppedAt = System.currentTimeMillis()
      assert(server.subscriberCount == 1, "the stalled subscriber is dropped")
      // the last 4 s before the drop lie inside the stalled write
      val during = samples.filter(_._1 >= droppedAt - 4000L).map(_._2)
      assert(during.nonEmpty && during.max - during.min >= 2,
        s"ingest completed batches while the write stalled: $during")
      assert(!flaggedStalled, "the watchdog never saw the ingest stall")

      feeding = false
      feeder.join()
      val fed = srv.log.size
      eventually(120000)(EventsTable.read(spark, table).count() == fed)
      val all = EventsTable.read(spark, table).select("time_us").as[Long].collect().sorted.toSeq
      eventually(120000)(reader.timesUs.lastOption.contains(all.last))
      val ts = reader.timesUs
      assert(ts.nonEmpty && ts == all.filter(_ >= ts.head),
        "the reader got every event from its attach on, once, in order")
      assert(ingest.isActive)
    } finally {
      feeding = false
      stalled.close()
      if (server != null) server.close()
      if (ingest != null) { ingest.stop(); ingest.awaitTermination(30000) }
      spark.streams.removeListener(watchdog)
      srv.close()
    }
  }
}
