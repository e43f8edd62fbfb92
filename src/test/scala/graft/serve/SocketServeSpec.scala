package graft.serve

import java.net.Socket

import graft.{SparkSpec, WsTestKit}
import graft.store.EventsTable

/** The serving boundary end-to-end over real WebSocket connections:
  * subscribers connect with the reference's query-string surface
  * (filters + cursor), cursored subscribers replay the table then cut
  * over to live, cursorless subscribers live-tail from attach, every
  * delivery is wire JSON, in order, exactly once.
  */
class SocketServeSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range, collection: String = "app.graft.doc") =
    ids.map(i => (i * 1000L, s"did:plc:u${i % 5}", collection))

  /** A test subscriber: dials `request` as the upgrade's query string,
    * accumulates received frames.
    */
  private def client(port: Int, request: String,
      http: java.net.http.HttpClient = java.net.http.HttpClient.newHttpClient()) =
    new WsTestKit.Client(s"ws://localhost:$port/$request", http)

  test("parseRequest: repeated params accumulate (the reference's wire form); cursor takes the first") {
    // Go's URL.Query()["k"] hands the reference EVERY occurrence
    // (server.go:251,263) — a client sending the repeated form must get
    // the union, not the last value; the comma form stays as this
    // engine's extension and both compose
    val (spec, cursor) = SocketServe.parseRequest(
      "subscribe?wantedCollections=app.a&wantedCollections=app.b,app.c" +
        "&wantedDids=did:plc:x&wantedDids=did:plc:y&cursor=5&cursor=9", nowUs = 111L)
    assert(spec.wantedCollections == Seq("app.a", "app.b", "app.c"))
    assert(spec.wantedDids == Seq("did:plc:x", "did:plc:y"))
    assert(cursor == 5L) // Query().Get takes the first (server.go:275)
    // no cursor → future cursor → live-only (server.go:283-286)
    assert(SocketServe.parseRequest("subscribe?", 42L)._2 == 42L)
  }

  test("invalid subscribe params are rejected at the handshake (server.go:253-271)") {
    val table = tmpDir("socket-serve-reject-table")
    EventsTable.append(rows(1 to 3).toDF("time_us", "did", "collection"), table)
    val server = SocketServe.start(spark, table)
    try {
      // the upgrade completes before the params are checked, then the
      // server closes the socket; whether the client sees the 101 first
      // is immaterial here
      scala.util.Try(client(server.port, "subscribe?wantedCollections=not-an-nsid&cursor=0"))
      scala.util.Try(client(server.port, "subscribe?wantedDids=plc:no-did-prefix&cursor=0"))
      scala.util.Try(client(server.port, "subscribe?cursor=notanumber"))
      val good = client(server.port,
        "subscribe?cursor=0&wantedCollections=app.graft.doc")
      eventually(30000)(server.subscriberCount == 1)
      eventually(60000)(good.lines.size >= 3)
      assert(server.subscriberCount == 1,
        "only the valid subscription registers; malformed ones are rejected")
    } finally server.close()
  }

  test("TCP subscribers: cursored replay→live and filtered live tail, wire JSON in order") {
    val table = tmpDir("socket-serve-table")
    EventsTable.append(rows(1 to 30).toDF("time_us", "did", "collection"), table)
    EventsTable.append(rows(31 to 40, "app.graft.other").toDF("time_us", "did", "collection"), table)

    val server = SocketServe.start(spark, table)
    try {
      // A: cursor=0 → full replay of the table, then live
      val a = client(server.port, "subscribe?cursor=0")
      // B: filtered live-only (no cursor = future cursor, server.go:283-286)
      val b = client(server.port, "subscribe?wantedCollections=app.graft.doc")
      eventually(30000)(server.subscriberCount == 2)
      // the replay pump serves A's backlog immediately, before any live
      // micro-batch (server.go:305-337's independent replay goroutine);
      // live-only B has nothing to receive yet
      eventually(60000)(a.lines.size >= 40)
      assert(b.lines.isEmpty)

      // live events arrive and drive the serving loop: A replays the
      // whole table then cuts over within the same session; B receives
      // only post-attach events of its collection
      EventsTable.append(rows(41 to 44).toDF("time_us", "did", "collection"), table)
      EventsTable.append(rows(45 to 46, "app.graft.other").toDF("time_us", "did", "collection"), table)
      eventually(90000)(a.lines.size >= 46 && b.lines.size >= 4)

      val aTimes = a.timesUs
      assert(aTimes == aTimes.sorted, "in order")
      assert(aTimes.distinct.size == aTimes.size, "exactly once")
      assert(aTimes.toSet == (1 to 46).map(_ * 1000L).toSet,
        "cursored subscriber sees every event across replay→live")

      val bTimes = b.timesUs
      assert(bTimes.toSet == (41 to 44).map(_ * 1000L).toSet,
        "live-only subscriber sees only post-attach events of its collection")

      // every line is a parseable wire frame carrying the envelope fields
      val sample = a.lines.peek()
      assert(sample.contains("\"did\":") && sample.contains("\"time_us\":"))

      // disconnect drops the subscriber (slow-consumer close analog).
      // TCP buffers the first post-close write before the RST lands, so
      // keep traffic flowing until the dead pipe is detected.
      b.close()
      var next = 47
      eventually(90000) {
        if (next <= 80) {
          EventsTable.append(rows(next to next).toDF("time_us", "did", "collection"), table)
          next += 1
        }
        server.subscriberCount == 1
      }
    } finally server.close()
  }

  test("non-IO live write failure: re-armed replay redelivers the window (no loss, no drop)") {
    // a pluggable Transport that throws NON-IO after liveEmitFrames
    // computed wires: keep-attached alone would lose that window (a
    // live session never re-reads the table and the next delivered()
    // advances the hwm past the gap) — the loop must re-arm the
    // session into replay so the window is re-read, and must NOT drop
    // a healthy subscriber for what is a server-side bug
    val table = tmpDir("socket-serve-rearm-table")
    EventsTable.append(rows(1 to 10).toDF("time_us", "did", "collection"), table)
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val faulty = new SocketServe.Transport {
      def open(sock: Socket): Option[(String, SocketServe.WireWriter)] =
        WebSocketServe.WsTransport.open(sock).map { case (req, w) =>
          (req, new SocketServe.WireWriter {
            def writeFrames(frames: Array[String]): Long = {
              if (frames.exists(_.contains("\"time_us\":15000")) &&
                  failed.compareAndSet(false, true))
                throw new RuntimeException("injected non-IO emit failure")
              w.writeFrames(frames)
            }
          })
        }
    }
    val server = SocketServe.start(spark, table, transport = faulty)
    try {
      val c = client(server.port, "subscribe?cursor=0")
      eventually(60000)(c.lines.size >= 10)
      // live: the batch carrying 15000 fails non-IO exactly once
      EventsTable.append(rows(11 to 15).toDF("time_us", "did", "collection"), table)
      eventually(60000)(failed.get)
      // keep live flowing; the re-replay pulls the failed window back
      // out of the table and cuts over again
      EventsTable.append(rows(16 to 18).toDF("time_us", "did", "collection"), table)
      eventually(90000)(c.timesUs.toSet == (1 to 18).map(_ * 1000L).toSet)
      val ts = c.timesUs
      assert(ts == ts.sorted, "in order")
      assert(ts.distinct.size == ts.size, "exactly once")
      assert(server.subscriberCount == 1, "a non-IO bug must not drop the subscriber")
    } finally server.close()
  }

  test("idle stream: a cursored subscriber replays without any live traffic (server.go:305-337)") {
    // the reference's replay goroutine runs independently of Emit; a
    // subscriber attaching to a QUIET stream must still receive its
    // backlog — no micro-batch ever fires here
    val table = tmpDir("socket-serve-idle-table")
    EventsTable.append(rows(1 to 25).toDF("time_us", "did", "collection"), table)
    val server = SocketServe.start(spark, table)
    try {
      val a = client(server.port, "subscribe?cursor=0")
      val b = client(server.port, "subscribe?cursor=0&wantedCollections=app.graft.doc")
      eventually(60000)(a.lines.size >= 25 && b.lines.size >= 25)
      val ts = a.timesUs
      assert(ts == ts.sorted && ts.toSet == (1 to 25).map(_ * 1000L).toSet,
        "full in-order replay with zero live events")
    } finally server.close()
  }

  test("cursored subscribers attaching together each replay a multi-chunk backlog whole") {
    // the handshakes release together, so their sessions take their
    // first replay steps at once while the edge's live head is still
    // unread: each step must wait for the one head read, never cut over
    // at the unread head (0) after its first chunk
    val table = tmpDir("socket-serve-together-table")
    val stamps = (1 to 60).map(_ * 100000L) // 6 s of event time, 12 chunks
    EventsTable.append(stamps.map(t => (t, s"did:plc:u${t % 5}", "app.graft.doc"))
      .toDF("time_us", "did", "collection"), table)
    val n = 4
    val gate = new java.util.concurrent.CountDownLatch(n)
    val together = new SocketServe.Transport {
      def open(sock: Socket): Option[(String, SocketServe.WireWriter)] = {
        val opened = WebSocketServe.WsTransport.open(sock)
        gate.countDown()
        gate.await(30, java.util.concurrent.TimeUnit.SECONDS)
        opened
      }
    }
    val server = SocketServe.start(spark, table, transport = together, replayChunkSize = 5)
    try {
      val cs = (1 to n).map(_ => client(server.port, "subscribe?cursor=0"))
      eventually(30000)(server.subscriberCount == n)
      eventually(90000)(server.replayingCount == 0)
      eventually(60000)(cs.forall(_.timesUs.size >= stamps.size))
      cs.foreach(c => assert(c.timesUs == stamps, "the whole backlog, once, in order"))
    } finally server.close()
  }

  test("100 subscribers: the one-job-per-batch live fan-out delivers every spec shape") {
    val table = tmpDir("socket-serve-100-table")
    EventsTable.append(rows(1 to 20).toDF("time_us", "did", "collection"), table)

    val server = SocketServe.start(spark, table)
    val clients = scala.collection.mutable.ArrayBuffer.empty[WsTestKit.Client]
    val http = java.net.http.HttpClient.newHttpClient() // one for all 100
    try {
      // three spec shapes at once: collection-filtered live, did-filtered
      // live, and cursored full-replay — the mix a real serving edge holds
      val collClients = (1 to 45).map { _ =>
        val c = client(server.port, "subscribe?wantedCollections=app.graft.doc", http)
        clients += c; c
      }
      val didClients = (0 until 45).map { i =>
        val c = client(server.port, s"subscribe?wantedDids=did:plc:u${i % 5}", http)
        clients += c; c
      }
      val cursored = (1 to 10).map { _ =>
        val c = client(server.port, "subscribe?cursor=0", http)
        clients += c; c
      }
      eventually(60000)(server.subscriberCount == 100)

      EventsTable.append(rows(21 to 30).toDF("time_us", "did", "collection"), table)
      EventsTable.append(rows(31 to 35, "app.graft.other").toDF("time_us", "did", "collection"), table)

      val docSet = (21 to 30).map(_ * 1000L).toSet
      def didSet(k: Int) = (21 to 35).filter(_ % 5 == k).map(_ * 1000L).toSet
      val allSet = (1 to 35).map(_ * 1000L).toSet
      eventually(120000) {
        collClients.forall(_.lines.size >= docSet.size) &&
        didClients.zipWithIndex.forall { case (c, i) => c.lines.size >= didSet(i % 5).size } &&
        cursored.forall(_.lines.size >= allSet.size)
      }
      collClients.foreach(c => assert(c.timesUs.toSet == docSet))
      didClients.zipWithIndex.foreach { case (c, i) =>
        assert(c.timesUs.toSet == didSet(i % 5), s"did client $i")
      }
      cursored.foreach { c =>
        val ts = c.timesUs
        assert(ts.toSet == allSet, "full replay→live across 100-way fan-out")
        assert(ts == ts.sorted && ts.distinct.size == ts.size, "in order, exactly once")
      }
    } finally {
      clients.foreach(c => scala.util.Try(c.close()))
      server.close()
    }
  }

  test("slow consumer: a subscriber that stops reading is dropped; the others stay exactly-once (server.go:168-175)") {
    // S21 on the service loop: a subscriber whose pipe is alive but who
    // never reads fills its socket buffers, its writer blocks, and its
    // outbox fills until an enqueue would pass OutboxFrames — the
    // reference's slow-consumer close. Frames carry a 4 KiB payload so a
    // few batches overrun a small receive window plus the server's send
    // buffer.
    val table = tmpDir("socket-serve-slow-table")
    val pad = "x" * 4096
    def padded(ids: Range) =
      rows(ids).map { case (t, d, c) => (t, d, c, pad) }.toDF("time_us", "did", "collection", "pad")
    EventsTable.append(padded(1 to 5), table)
    val reg = new Metrics.Registry
    val server = SocketServe.start(spark, table, metrics = reg)
    def connected: Double =
      ("""(?m)^graft_subscribers_connected(\{[^}]*\})? (\S+)$""").r
        .findAllMatchIn(reg.render).map(_.group(2).toDouble).sum
    val stalled = new Socket()
    @volatile var sampling = true
    try {
      val reader = client(server.port, "subscribe?")
      // the stalled subscriber: completes the upgrade, then never reads
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
      assert(connected == 2d)

      // when each of the reader's frame counts was first seen
      val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]
      val sampler = new Thread(() => {
        var last = -1
        while (sampling) {
          val n = reader.lines.size
          if (n != last) { arrivals.add(System.nanoTime() -> n); last = n }
          Thread.sleep(5)
        }
      })
      sampler.setDaemon(true)
      sampler.start()

      // live traffic until the stalled subscriber's outbox overflows
      val commits = scala.collection.mutable.ArrayBuffer.empty[Long]
      var next = 6
      eventually(120000) {
        if (next <= 20000) {
          EventsTable.append(padded(next until next + 500), table)
          commits += System.nanoTime()
          next += 500
        }
        server.subscriberCount == 1
      }
      eventually(30000)(connected == 1d)
      assert(reg.counter("graft_subscribers_dropped_total", "", "reason" -> "overflow").value == 1d)
      assert(reg.counter("graft_subscribers_dropped_total", "", "reason" -> "write").value == 0d)

      // the reading subscriber got every live event, once, in order
      EventsTable.append(padded(next until next + 5), table)
      val live = (6 until next + 5).map(_ * 1000L)
      eventually(90000)(reader.lines.size >= live.size)
      sampling = false
      sampler.join()
      val ts = reader.timesUs
      assert(ts == ts.sorted, "in order")
      assert(ts.distinct.size == ts.size, "exactly once")
      assert(ts == live, "the stalled subscriber's drop costs the others nothing")

      // ... and kept pace while the stalled one was still attached: its
      // longest wait between frames is within 3 batch periods (the
      // longest interval between two commits), where one shared emit
      // pass used to hold it for the stalled write
      val batchPeriodNs = commits.zip(commits.tail).map { case (a, b) => b - a }.max
      val seen = arrivals.toArray(Array.empty[(Long, Int)]).toSeq
        .filter { case (t, n) => n > 0 && t <= commits.last }
      val longestGapNs = seen.zip(seen.tail).map { case ((a, _), (b, _)) => b - a }.max
      info(s"longest reader gap ${longestGapNs / 1000000} ms, batch period ${batchPeriodNs / 1000000} ms")
      assert(longestGapNs <= 3 * batchPeriodNs,
        s"the reader waited ${longestGapNs / 1000000} ms for a frame; batch period " +
          s"${batchPeriodNs / 1000000} ms")
    } finally {
      sampling = false
      stalled.close()
      server.close()
    }
  }

  /** A subscriber that completes the upgrade, then never reads. */
  private def stall(sock: Socket, port: Int, request: String): Unit = {
    sock.setReceiveBufferSize(4096)
    sock.connect(new java.net.InetSocketAddress("localhost", port))
    sock.getOutputStream.write((s"GET /$request HTTP/1.1\r\nHost: localhost\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
      "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("US-ASCII"))
    sock.getOutputStream.flush()
    val head = new StringBuilder
    while (head.length < 4 || head.substring(head.length - 4) != "\r\n\r\n")
      head.append(sock.getInputStream.read().toChar)
    assert(head.toString.startsWith("HTTP/1.1 101"), head.toString.take(100))
  }

  test("stalled writes: readers that stop reading on a quiet filter free the pool; a third reader keeps receiving") {
    // A fixed pool, unlike the reference's goroutine per subscriber: two
    // readers that stop reading block both writers of a two-wide pool.
    // Their filter then stops matching, so their outboxes never
    // overflow; the tick closes each write stalled past StallMs, and the
    // third reader's writer gets a thread again.
    val table = tmpDir("socket-serve-stall-table")
    val pad = "x" * 4096
    def padded(ids: Range, collection: String) =
      rows(ids, collection).map { case (t, d, c) => (t, d, c, pad) }
        .toDF("time_us", "did", "collection", "pad")
    EventsTable.append(padded(1 to 5, "app.graft.doc"), table)
    val reg = new Metrics.Registry
    val server = SocketServe.start(spark, table, fanOutWidth = 2, metrics = reg)
    def dropped(reason: String) =
      reg.counter("graft_subscribers_dropped_total", "", "reason" -> reason).value
    val stalled = Seq.fill(2)(new Socket())
    try {
      val reader = client(server.port, "subscribe?")
      stalled.foreach(stall(_, server.port, "subscribe?wantedCollections=app.graft.doc"))
      eventually(30000)(server.subscriberCount == 3)

      // ~10 MB of frames each stalled reader wants: more than its socket
      // buffers hold, well under OutboxFrames
      var next = 6
      (1 to 5).foreach { _ =>
        EventsTable.append(padded(next until next + 500, "app.graft.doc"), table)
        next += 500
      }
      // then a quiet stream of frames only the third reader wants
      val quietFrom = System.nanoTime()
      eventually(SocketServe.StallMs + 60000) {
        EventsTable.append(padded(next until next + 10, "app.graft.other"), table)
        next += 10
        dropped("write") == 2d
      }
      val droppedAfterMs = (System.nanoTime() - quietFrom) / 1000000
      info(s"both stalled readers dropped ${droppedAfterMs} ms into the quiet stream")
      assert(dropped("overflow") == 0d, "the quiet filter never overflows an outbox")
      assert(server.subscriberCount == 1)

      // the third reader keeps receiving: every frame, once, in order
      val more = next
      EventsTable.append(padded(more until more + 10, "app.graft.other"), table)
      val all = (6 until more + 10).map(_ * 1000L)
      eventually(90000)(reader.lines.size >= all.size)
      assert(reader.timesUs == all, "the third reader: every frame, once, in order")
    } finally {
      stalled.foreach(_.close())
      server.close()
    }
  }

  test("live cap: a subscriber above maxSubRate gets at most rate × elapsed + burst, then overflows; one under it is exactly-once") {
    // S20: the reference's per-subscriber live limiter (server.go:211,345)
    // in front of its 10k buffer (server.go:204): a subscriber whose
    // stream runs above the cap falls behind, its outbox fills and an
    // enqueue that would pass OutboxFrames drops it. A filtered
    // subscriber on the same edge, under the cap, is untouched.
    val rate = 500.0 // burst: one second of it
    def batch(ids: Range) =
      ids.map(i => (i * 1000L, s"did:plc:u${i % 5}",
        if (i % 500 == 0) "app.graft.rare" else "app.graft.doc"))
        .toDF("time_us", "did", "collection")
    val table = tmpDir("socket-serve-cap-table")
    EventsTable.append(batch(1 to 3), table)
    val reg = new Metrics.Registry
    val server = SocketServe.start(spark, table, metrics = reg, maxSubRate = Some(rate))
    try {
      val t0 = System.nanoTime()
      val fast = client(server.port, "subscribe?")
      val rare = client(server.port, "subscribe?wantedCollections=app.graft.rare")
      eventually(30000)(server.subscriberCount == 2 && server.replayingCount == 0)
      var next = 4
      eventually(180000) {
        EventsTable.append(batch(next until next + 1000), table)
        next += 1000
        server.subscriberCount == 1
      }
      val elapsedS = (System.nanoTime() - t0) / 1e9
      assert(reg.counter("graft_subscribers_dropped_total", "", "reason" -> "overflow").value == 1d)
      Thread.sleep(1000) // frames written before the drop finish arriving
      val got = fast.lines.size
      info(f"$got frames in $elapsedS%.1f s at $rate/s")
      assert(got <= rate * elapsedS + rate,
        s"$got frames in ${elapsedS}s at $rate/s with a ${rate.toLong} burst")
      assert(got > 0 && got < next - 4, s"paced: $got of ${next - 4} frames")
      assert(fast.timesUs == (4 until 4 + got).map(_ * 1000L), "a prefix, in order, once")

      EventsTable.append(batch(next until next + 1000), table)
      val rareSet = (4 until next + 1000).filter(_ % 500 == 0).map(_ * 1000L)
      eventually(60000)(rare.lines.size >= rareSet.size)
      assert(rare.timesUs == rareSet, "the subscriber under the cap: every event, once, in order")
      assert(server.subscriberCount == 1)
    } finally server.close()
  }

  test("close(): no thread of the edge outlives it") {
    val table = tmpDir("socket-serve-close-table")
    EventsTable.append(rows(1 to 10).toDF("time_us", "did", "collection"), table)
    val server = SocketServe.start(spark, table)
    val prefix = s"socket-serve-${server.port}-"
    def edgeThreads = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && t.getName.startsWith(prefix))
    }
    val idle = new Socket()
    try {
      val cursored = client(server.port, "subscribe?cursor=0")
      val live = client(server.port, "subscribe?")
      eventually(30000)(server.subscriberCount == 2)
      eventually(60000)(cursored.lines.size >= 10 && server.replayingCount == 0)
      EventsTable.append(rows(11 to 15).toDF("time_us", "did", "collection"), table)
      eventually(60000)(live.lines.size >= 5)
      // and a connection still in its handshake: it never sends a request
      idle.connect(new java.net.InetSocketAddress("localhost", server.port))
      eventually(30000)(edgeThreads.exists(_.getName == prefix + "handshake"))
      assert(edgeThreads.exists(_.getName == prefix + "writer"))
      assert(edgeThreads.exists(_.getName == prefix + "acceptor"))
    } finally {
      server.close()
      idle.close()
    }
    assert(edgeThreads.isEmpty, s"alive after close(): ${edgeThreads.map(_.getName)}")
    assert(server.subscriberCount == 0)
  }

  test("throttled warnings key on the call site, not the connection") {
    val failure = new RuntimeException("injected")
    val before = SocketServe.lastWarnMs.size
    (1 to 1000).foreach { i =>
      SocketServe.warnThrottled("live write", s" of sub-$i (re-armed replay)", failure)
      SocketServe.warnThrottled("replay step", s" of sub-$i", failure)
    }
    assert(SocketServe.lastWarnMs.size <= before + 2,
      s"${SocketServe.lastWarnMs.size - before} entries for 2 sites")
  }
}
