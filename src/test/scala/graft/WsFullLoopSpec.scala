package graft

import org.apache.spark.sql.functions._

import graft.serve.SocketServe
import graft.sources.WebSocketIngress
import graft.store.EventsTable

/** The reference's full topology over its ACTUAL transport — upstream →
  * ingest → table → serve → subscriber, both halves concurrent — with
  * real WebSocket framing at BOTH edges (`WebSocketIngress` dialing
  * `ws://…/subscribe?cursor=…` like cmd/jetstream/main.go:299-317,
  * `SocketServe` upgrading and framing subscribers like
  * server.go:244-356): the mid-stream-cursor subscriber receives every
  * event ≥ its cursor exactly once, in order, across the replay→live
  * cutover while ingestion continues.
  */
class WsFullLoopSpec extends SparkSpec {
  import spark.implicits._

  /** Wire frame stamped at minute `i`, paired with its event-time
    * micros — the upstream log key the toy server replays by, and what
    * the ingest presents back as its resume cursor.
    */
  private def frame(i: Int): (Long, String) = {
    val iso = f"2024-09-05T06:$i%02d:00.000Z"
    val us = java.time.Instant.parse(iso).toEpochMilli * 1000L
    us -> (s"""{"t":"#commit","did":"did:plc:u$i","rev":"r$i","seq":$i,"time":"$iso","tooBig":false,""" +
      s""""ops":[{"action":"create","path":"app.bsky.feed.post/k$i","cid":"c$i","recordCid":"c$i","record":{"text":"m$i"}}]}""")
  }

  test("WebSocket loop: concurrent ingest+serve, mid-stream cursor exactly-once across cutover") {
    val table = tmpDir("ws-loop-table")
    val srv = new WsTestKit.ReplayServer
    var ingest: org.apache.spark.sql.streaming.StreamingQuery = null
    var server: SocketServe.Server = null
    try {
      // --- phase 1: upstream has history; the WS ingest dials with
      // cursor=0 (fresh table) and persists it
      srv.log = (1 to 6).map(frame).toVector
      ingest = WebSocketIngress.start(spark,
        s"ws://localhost:${srv.port}/subscribe",
        table, tmpDir("ws-loop-ickpt"))
      eventually(90000)(EventsTable.read(spark, table).count() >= 6)

      // --- phase 2: serving half against the SAME growing table; the
      // subscriber presents a MID-STREAM cursor on the request line
      val stamps = EventsTable.read(spark, table)
        .select("time_us").as[Long].collect().sorted
      val cursor = stamps(3)
      server = SocketServe.start(spark, table)
      val client = new WsTestKit.Client(
        s"ws://localhost:${server.port}/subscribe?cursor=$cursor")
      eventually(30000)(server.subscriberCount == 1)

      // --- phase 3: frames keep arriving WHILE the subscriber replays
      // and cuts over, then again on the pure live tail
      srv.log = (1 to 12).map(frame).toVector
      eventually(120000)(client.lines.size >= 9) // 4..12 delivered
      srv.log = (1 to 16).map(frame).toVector
      eventually(120000)(client.lines.size >= 13) // 4..16 delivered

      eventually(90000)(EventsTable.read(spark, table).count() == 16)
      val all = EventsTable.read(spark, table)
        .select("time_us").as[Long].collect().sorted.toSeq
      assert(all.distinct.size == 16, "ingest wrote each frame once")

      val got = client.timesUs
      assert(got == got.sorted, "in time_us order across the cutover")
      assert(got.distinct.size == got.size, "exactly once")
      assert(got.toSet == all.filter(_ >= cursor).toSet,
        "every event at-or-after the cursor, none before")

      assert(ingest.isActive, "ingest query still running")
      // the query whose commits the edge delivers: the ingest itself
      assert(server.query.isActive, "serve query still running")
      // the serving edge is still live: one more upstream frame reaches
      // the subscriber through the commit hand-off
      srv.log = (1 to 17).map(frame).toVector
      eventually(120000)(client.lines.size >= 14)
      val last = EventsTable.read(spark, table).select("time_us").as[Long].collect().max
      assert(client.timesUs == got :+ last, "the live frame once, after the rest")
      client.ws.abort()
    } finally {
      if (server != null) server.close()
      if (ingest != null) { ingest.stop(); ingest.awaitTermination(30000) }
      srv.close()
    }
  }
}
