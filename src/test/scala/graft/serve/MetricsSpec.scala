package graft.serve

import java.net.{HttpURLConnection, URL}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{lit, struct}

import graft.SparkSpec
import graft.store.EventsTable

/** The metrics surface: Prometheus text-format exposition over HTTP
  * (the reference's /metrics listener, cmd/jetstream/main.go:217-221),
  * and the five serve-boundary series moving with real traffic through
  * [[SocketServe]] (cmd/jetstream/metrics.go:7-31, server.go:71-80,
  * 151-152, 217, 235).
  */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  private def scrape(port: Int): (Int, String, String) = {
    val conn = new URL(s"http://localhost:$port/metrics")
      .openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val body = scala.io.Source.fromInputStream(conn.getInputStream, "UTF-8").mkString
    (code, conn.getContentType, body)
  }

  test("registry renders Prometheus text format: HELP/TYPE, labels, escaping, determinism") {
    val reg = new Metrics.Registry
    reg.counter("g_events_total", "Total events").add(41)
    reg.counter("g_events_total", "Total events").inc() // same series, same adder
    reg.counter("g_delivered_total", "Per remote", "remote" -> "10.0.0.1").add(7)
    reg.counter("g_delivered_total", "Per remote", "remote" -> "10.0.0.2").add(3)
    val g = reg.gauge("g_conn", "Weird \"label\"\\chars", "who" -> "a\"b\\c\nd")
    g.inc(); g.inc(); g.dec()
    val out = reg.render
    assert(out.contains("# HELP g_events_total Total events\n"))
    assert(out.contains("# TYPE g_events_total counter\n"))
    assert(out.contains("g_events_total 42\n"), s"integer formatting, got:\n$out")
    assert(out.contains("""g_delivered_total{remote="10.0.0.1"} 7"""))
    assert(out.contains("""g_delivered_total{remote="10.0.0.2"} 3"""))
    assert(out.contains("# TYPE g_conn gauge"))
    assert(out.contains("""g_conn{who="a\"b\\c\nd"} 1"""), "label escaping")
    // families sorted by name; deterministic across renders
    val fams = out.linesIterator.filter(_.startsWith("# HELP")).toSeq
    assert(fams == fams.sorted)
    assert(out == reg.render)
  }

  test("histogram renders cumulative buckets, sum and count") {
    val reg = new Metrics.Registry
    val h = reg.histogram("g_dur_seconds", "durations",
      Array(0.1, 1.0, 10.0), "query" -> "q1")
    h.observe(0.05); h.observe(0.5); h.observe(0.5); h.observe(99.0)
    val out = reg.render
    assert(out.contains("# TYPE g_dur_seconds histogram"))
    assert(out.contains("""g_dur_seconds_bucket{query="q1",le="0.1"} 1"""))
    assert(out.contains("""g_dur_seconds_bucket{query="q1",le="1"} 3"""), out)
    assert(out.contains("""g_dur_seconds_bucket{query="q1",le="10"} 3"""))
    assert(out.contains("""g_dur_seconds_bucket{query="q1",le="+Inf"} 4"""))
    assert(out.contains("""g_dur_seconds_sum{query="q1"} 100.05"""))
    assert(out.contains("""g_dur_seconds_count{query="q1"} 4"""))
    // the reference's bucket layout: 18 exponential buckets from 1e-4
    assert(graft.streaming.IngestMetrics.DurationBuckets.length == 18)
    assert(math.abs(graft.streaming.IngestMetrics.DurationBuckets.last - 13.1072) < 1e-9)
  }

  test("ingest listener folds micro-batch progress into consumer_* series") {
    val reg = new Metrics.Registry
    val listener = graft.streaming.IngestMetrics.listener(reg)
    spark.streams.addListener(listener)
    val jobs = graft.streaming.IngestMetrics.jobsListener(reg)
    spark.sparkContext.addSparkListener(jobs)
    val table = tmpDir("ingest-metrics-table")
    try {
      // a small real ingest of decoded rows: the listener sees its
      // progress events
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[(Long, String, String)]
      in.addData((1 to 10).map(i => (i.toLong, s"did:plc:u$i", "app.graft.doc")))
      val decoded = in.toDF().toDF("arrival", "did", "collection")
        .withColumn("type", lit("com"))
        .withColumn("commit", struct(lit("c").as("type")))
      val q = graft.ingest.IngestJob.start(decoded,
        orderCols = Seq("arrival"),
        tablePath = table, checkpointDir = tmpDir("ingest-metrics-ckpt"),
        metrics = reg)
      val qid = q.id.toString
      q.awaitTermination(120000)
      // listener events are delivered async, and other suites' queries
      // may also report into the session's listener bus: wait for and
      // assert THIS query's series (labeled by its id)
      val deadline = System.nanoTime() + 30L * 1000000000L
      def processed(out: String) =
        (s"""graft_consumer_events_processed_total\\{query="$qid"\\} [1-9]""").r
          .findFirstIn(out).isDefined
      while (!processed(reg.render) && System.nanoTime() < deadline)
        Thread.sleep(200)
      val out = reg.render
      assert(processed(out), s"events_processed series missing:\n$out")
      assert(out.contains("graft_consumer_event_processing_duration_seconds_count"), out)
      assert(graft.streaming.IngestMetrics.BatchPhases.forall(phase =>
        (s"""graft_consumer_batch_phase_seconds_count\\{phase="$phase",query="$qid"\\} [1-9]""").r
          .findFirstIn(out).isDefined), s"batch phase histograms:\n$out")
      assert(("""graft_consumer_events_persisted_total\{table="[^"]*"\} 10""").r
        .findFirstIn(out).isDefined, s"persisted counter:\n$out")
      // sequenced and persisted differ only when an append throws, and
      // none does here: both count the ten rows exactly
      val sequenced = ("""graft_consumer_events_sequenced_total\{table="[^"]*"\} (\d+)""").r
        .findFirstMatchIn(out).map(_.group(1).toLong)
      assert(sequenced.contains(10L), s"sequenced counter:\n$out")
      // the one batch's commit hand-off, timed once
      assert(("""graft_commit_handoff_seconds_count\{table="[^"]*"\} 1""").r
        .findFirstIn(out).isDefined, s"hand-off histogram:\n$out")
      assert(out.contains("# TYPE graft_commit_handoff_seconds histogram"), out)
      // jobs per batch: a SparkListener, whose queue may lag the progress one
      eventually(30000)((s"""graft_consumer_batch_jobs_count\\{query="$qid"\\} [1-9]""").r
        .findFirstIn(reg.render).isDefined)
    } finally {
      spark.streams.removeListener(listener)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("the WebSocket ingest sets graft_consumer_last_seq{table} to its committed head") {
    val reg = new Metrics.Registry
    val table = tmpDir("last-seq-table")
    val srv = new graft.WsTestKit.ReplayServer
    try {
      srv.log = (1 to 8).map { i =>
        val iso = f"2024-09-05T09:$i%02d:00.000Z"
        java.time.Instant.parse(iso).toEpochMilli * 1000L ->
          (s"""{"t":"#commit","did":"did:plc:m$i","rev":"r$i","seq":$i,"time":"$iso","tooBig":false,""" +
            s""""ops":[{"action":"create","path":"app.bsky.feed.post/k$i","cid":"c$i","recordCid":"c$i","record":{"text":"m$i"}}]}""")
      }.toVector
      val q = graft.sources.WebSocketIngress.start(spark,
        s"ws://localhost:${srv.port}/subscribe", table, tmpDir("last-seq-ckpt"), metrics = reg)
      try eventually(90000)(EventsTable.read(spark, table).count() == 8)
      finally { q.stop(); q.awaitTermination(30000) }
      val head = EventsTable.read(spark, table).agg(org.apache.spark.sql.functions.max("time_us"))
        .head().getLong(0)
      val out = reg.render
      assert(out.contains("# TYPE graft_consumer_last_seq gauge"), out)
      val lastSeq = reg.gauge("graft_consumer_last_seq", "", "table" -> table).value
      assert(lastSeq == head.toDouble, out)
    } finally srv.close()
  }

  test("HTTP endpoint serves the registry at /metrics") {
    val reg = new Metrics.Registry
    reg.counter("g_http_total", "hits").add(5)
    val ep = Metrics.serve(reg)
    try {
      val (code, ctype, body) = scrape(ep.port)
      assert(code == 200)
      assert(ctype.startsWith("text/plain"))
      assert(body.contains("g_http_total 5"))
      reg.counter("g_http_total", "hits").inc()
      assert(scrape(ep.port)._3.contains("g_http_total 6"), "live on each scrape")
    } finally ep.close()
  }

  test("serve-boundary series move with real TCP traffic and settle on close") {
    val table = tmpDir("metrics-serve-table")
    EventsTable.append((1 to 20).map(i => (i * 1000L, s"did:plc:u$i", "app.graft.doc"))
      .toDF("time_us", "did", "collection"), table)

    val reg = new Metrics.Registry
    val server = SocketServe.start(spark, table, metrics = reg)
    try {
      val sub = new graft.WsTestKit.Client(
        s"ws://localhost:${server.port}/subscribe?cursor=0")

      def eventually(timeoutMs: Long)(cond: => Boolean): Unit = {
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        while (!cond && System.nanoTime() < deadline) Thread.sleep(200)
        assert(cond, s"condition not met within ${timeoutMs}ms; metrics:\n${reg.render}")
      }
      eventually(30000)(server.subscriberCount == 1)
      assert(reg.gauge("graft_subscribers_connected", "",
        "remote" -> "127.0.0.1").value == 1d)

      // drive the loop: new appends emit to the tail, the subscriber
      // replays the 20-row table then receives the live rows
      EventsTable.append(Seq((21000L, "did:plc:u21", "app.graft.doc"))
        .toDF("time_us", "did", "collection"), table)
      eventually(90000)(sub.lines.size >= 21)

      def series(out: String, name: String): Double =
        ("""(?m)^""" + name + """(\{[^}]*\})? (\S+)$""").r
          .findAllMatchIn(out).map(_.group(2).toDouble).sum
      // the replay pump can deliver the whole backlog before the live
      // micro-batch lands; the emit-loop counters move when it does —
      // wait for them rather than assuming delivery implies a batch
      eventually(90000) {
        val out = reg.render
        series(out, "graft_events_emitted_total") >= 1d &&
        series(out, "graft_bytes_emitted_total") > 0d &&
        series(out, "graft_events_delivered_total") >= 21d &&
        series(out, "graft_bytes_delivered_total") > 0d
      }

      // the drop counter, by reason: a subscriber that hangs up is
      // dropped at its next write; one that stops reading is dropped
      // when an enqueue would pass its outbox bound
      def dropped(reason: String) =
        reg.counter("graft_subscribers_dropped_total", "", "reason" -> reason).value
      val gone = new graft.WsTestKit.Client(
        s"ws://localhost:${server.port}/subscribe?wantedCollections=app.graft.gone")
      eventually(30000)(server.subscriberCount == 2 && server.replayingCount == 0)
      gone.close()
      var t = 22L
      def appendRows(n: Int, collection: String): Unit = {
        EventsTable.append((0 until n).map(i => (t * 100000L + i, s"did:plc:u$i", collection))
          .toDF("time_us", "did", "collection"), table)
        t += 1
      }
      eventually(90000) { appendRows(1, "app.graft.gone"); server.subscriberCount == 1 }
      assert(dropped("write") == 1d && dropped("overflow") == 0d)

      // a subscriber that completes the upgrade with a 4 KiB receive
      // window, then never reads
      val stalled = new java.net.Socket()
      try {
        stalled.setReceiveBufferSize(4096)
        stalled.connect(new java.net.InetSocketAddress("localhost", server.port))
        stalled.getOutputStream.write(("GET /subscribe?wantedCollections=app.graft.flood HTTP/1.1\r\n" +
          "Host: localhost\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n" +
          "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
          "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("US-ASCII"))
        stalled.getOutputStream.flush()
        eventually(30000)(server.subscriberCount == 2 && server.replayingCount == 0)
        eventually(120000) {
          appendRows(SocketServe.OutboxFrames + 1, "app.graft.flood")
          server.subscriberCount == 1
        }
      } finally stalled.close()
      assert(dropped("overflow") == 1d && dropped("write") == 1d)
      assert(reg.render.contains("graft_subscribers_dropped_total{reason=\"overflow\"} 1\n"))

      server.close()
      assert(reg.gauge("graft_subscribers_connected", "",
        "remote" -> "127.0.0.1").value == 0d, "gauge settles on close")
    } finally server.close()
  }
}
