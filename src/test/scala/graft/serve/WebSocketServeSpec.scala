package graft.serve

import java.net.http.WebSocket

import graft.{SparkSpec, WsTestKit}
import graft.store.EventsTable

/** The reference's real subscribe surface end-to-end: a standard
  * WebSocket client (the JDK's) dials `ws://…/subscribe?…`, the
  * server upgrades per RFC 6455 and streams one TEXT frame per wire
  * JSON event — cursor replay then live, filters applied, client
  * CLOSE drops the subscriber (server.go:244-262, 144-175).
  */
class WebSocketServeSpec extends SparkSpec {
  import spark.implicits._

  test("JDK WebSocket client: cursored replay→live, filtered live tail, CLOSE drops") {
    val table = tmpDir("ws-serve-table")
    EventsTable.append((1 to 30).map(i => (i * 1000L, s"did:plc:u${i % 5}", "app.graft.doc"))
      .toDF("time_us", "did", "collection"), table)
    EventsTable.append((31 to 40).map(i => (i * 1000L, s"did:plc:u${i % 5}", "app.graft.other"))
      .toDF("time_us", "did", "collection"), table)

    val server = SocketServe.start(spark, table)
    try {
      val a = new WsTestKit.Client(s"ws://localhost:${server.port}/subscribe?cursor=0")
      val b = new WsTestKit.Client(
        s"ws://localhost:${server.port}/subscribe?wantedCollections=app.graft.doc")
      eventually(30000)(server.subscriberCount == 2)

      EventsTable.append((41 to 44).map(i => (i * 1000L, s"did:plc:u$i", "app.graft.doc"))
        .toDF("time_us", "did", "collection"), table)
      EventsTable.append((45 to 46).map(i => (i * 1000L, s"did:plc:u$i", "app.graft.other"))
        .toDF("time_us", "did", "collection"), table)
      try {
        eventually(180000)(a.lines.size >= 46)
        eventually(60000)(b.lines.size >= 4)
      } catch { case e: Throwable =>
        val m = Metrics.default.render.linesIterator
          .filter(l => l.startsWith("graft_") && !l.startsWith("# ")).mkString(" | ")
        val tableCount = EventsTable.read(spark, table).count()
        val qState = scala.util.Try(
          s"active=${server.query.isActive} exc=${server.query.exception.map(_.cause.toString.take(300))}")
        throw new AssertionError(s"a=${a.lines.size} b=${b.lines.size} " +
          s"query=$qState sessions=${server.sessionStates} tableCount=$tableCount " +
          s"traces=${server.sessionTraces} " +
          s"aMax=${scala.util.Try(a.timesUs.max).getOrElse(-1L)} " +
          s"bTimes=${b.timesUs.sorted.mkString(",")} metrics: $m", e)
      }

      val aTimes = a.timesUs
      assert(aTimes == aTimes.sorted, "in order")
      assert(aTimes.distinct.size == aTimes.size, "exactly once")
      assert(aTimes.take(40) == (1 to 40).map(_ * 1000L), "full replay before live")
      assert(b.timesUs.forall(_ >= 41000L), "live-only subscriber sees no history")
      assert(b.timesUs.toSet == Set(41, 42, 43, 44).map(_ * 1000L),
        "collection filter applied")

      // client CLOSE → the drop path: the next emit write fails and the
      // subscriber is removed (server.go:168-175 shape)
      b.ws.sendClose(WebSocket.NORMAL_CLOSURE, "done").join()
      EventsTable.append(Seq((47000L, "did:plc:u47", "app.graft.doc"))
        .toDF("time_us", "did", "collection"), table)
      eventually(90000)(server.subscriberCount == 1)
      eventually(90000)(a.timesUs.contains(47000L))
    } finally server.close()
  }

  test("frameBatch subscriber: events coalesce into multi-event frames, delivered exactly once") {
    // VERDICT r14 #8 — the opt-in wire extension: frameBatch=n
    // coalesces up to n line-delimited events per TEXT frame. A raw
    // frame reader proves coalescing really happened (frames < events);
    // the line-splitting client proves the event stream is unchanged —
    // same order, same payloads, exactly once. Default-wire subscribers
    // are untouched (the first test pins one-frame-per-event behavior
    // implicitly via per-message counts).
    val table = tmpDir("ws-batch-table")
    EventsTable.append((1 to 200).map(i => (i * 1000L, s"did:plc:u${i % 5}", "app.graft.doc"))
      .toDF("time_us", "did", "collection"), table)
    val server = SocketServe.start(spark, table)
    try {
      // raw RFC 6455 reader: handshake, then count frames AND events
      val sock = new java.net.Socket("localhost", server.port)
      val out = sock.getOutputStream
      out.write(("GET /subscribe?cursor=0&frameBatch=50 HTTP/1.1\r\nHost: localhost\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
        "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("US-ASCII"))
      out.flush()
      val in = new java.io.BufferedInputStream(sock.getInputStream, 1 << 16)
      val head = new StringBuilder
      while (head.length < 4 || head.substring(head.length - 4) != "\r\n\r\n")
        head.append(in.read().toChar)
      assert(head.toString.startsWith("HTTP/1.1 101"), head.toString.take(100))
      var frames = 0
      val events = scala.collection.mutable.ListBuffer.empty[String]
      sock.setSoTimeout(60000)
      while (events.size < 200) {
        val b0 = in.read()
        assert(b0 == 0x81, s"expected FIN|TEXT, got $b0")
        val l0 = in.read() & 0x7f
        val len =
          if (l0 < 126) l0
          else if (l0 == 126) (in.read() << 8) | in.read()
          else (0 until 8).foldLeft(0)((a, _) => (a << 8) | in.read())
        val buf = new Array[Byte](len)
        var off = 0
        while (off < len) off += in.read(buf, off, len - off)
        frames += 1
        events ++= new String(buf, "UTF-8").split("\n").filter(_.nonEmpty)
      }
      sock.close()
      assert(events.size == 200, s"expected 200 events, got ${events.size}")
      assert(frames <= 200 / 10,
        s"frameBatch=50 must coalesce (got $frames frames for 200 events)")
      val times = events.map(e => """"time_us":(\d+)""".r
        .findFirstMatchIn(e).get.group(1).toLong).toSeq
      assert(times == (1 to 200).map(_ * 1000L),
        "batched wire must carry the same events in the same order, exactly once")
    } finally server.close()
  }

  test("non-websocket request is rejected with 400") {
    val table = tmpDir("ws-serve-rej-table")
    EventsTable.append(Seq((1000L, "did:plc:u1", "app.graft.doc"))
      .toDF("time_us", "did", "collection"), table)
    val server = SocketServe.start(spark, table)
    try {
      val sock = new java.net.Socket("localhost", server.port)
      sock.getOutputStream.write(
        "GET /subscribe HTTP/1.1\r\nHost: x\r\n\r\n".getBytes("US-ASCII"))
      sock.getOutputStream.flush()
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "US-ASCII")).readLine()
      assert(line != null && line.contains("400"), s"got: $line")
      assert(server.subscriberCount == 0)
      sock.close()
    } finally server.close()
  }
}
