package graft.serve

import graft.{SparkSpec, WsTestKit}
import graft.store.EventsTable

/** Several serving edges on one events table, EXERCISED: N
  * `SocketServe` edges in the appender's JVM (the commit hand-off
  * reaches only edges in the process that appends —
  * `SocketServe.start`'s scaladoc), each with its own commit listener,
  * writer pool and subscriber set. The reference's multi-instance
  * posture is the same shape within one process: any number of edges
  * serve disjoint client populations off one upstream.
  *
  * Asserted here, with ingest running concurrently under both edges:
  *   - every cursored subscriber on EITHER edge replays the shared
  *     table and cuts over to live exactly-once, in order;
  *   - live-only subscribers see exactly the post-attach window;
  *   - a subscriber drop on one edge is INVISIBLE to the other edge
  *     (and to the dropped subscriber's neighbors on the same edge);
  *   - per-edge session state (replaying counts, hwm) is independent.
  */
class MultiEdgeServeSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range) =
    ids.map(i => (i * 1000L, s"did:plc:u${i % 5}", "app.graft.doc"))

  private def client(port: Int, request: String) =
    new WsTestKit.Client(s"ws://localhost:$port/$request")

  test("two serving edges on one table: independent exactly-once delivery and drop isolation") {
    val table = tmpDir("multi-edge-table")
    EventsTable.append(rows(1 to 20).toDF("time_us", "did", "collection"), table)

    val edgeA = SocketServe.start(spark, table)
    val edgeB = SocketServe.start(spark, table)
    try {
      // disjoint subscriber sets: 2 cursored + 1 live-only per edge
      val a1 = client(edgeA.port, "subscribe?cursor=0")
      val a2 = client(edgeA.port, "subscribe?cursor=0")
      val aLive = client(edgeA.port, "subscribe?")
      val b1 = client(edgeB.port, "subscribe?cursor=0")
      val bLive = client(edgeB.port, "subscribe?")
      eventually(30000)(edgeA.subscriberCount == 3 && edgeB.subscriberCount == 2)

      // both edges' replay pumps serve their backlogs independently
      eventually(60000)(a1.lines.size >= 20 && a2.lines.size >= 20 && b1.lines.size >= 20)
      assert(aLive.lines.isEmpty && bLive.lines.isEmpty)

      // concurrent ingest: appends land while BOTH edges are serving;
      // each edge's own commit listener fills its subscribers' outboxes
      (21 to 26).grouped(2).foreach { g =>
        EventsTable.append(rows(g.head to g.last).toDF("time_us", "did", "collection"), table)
      }
      eventually(90000)(
        a1.lines.size >= 26 && a2.lines.size >= 26 && b1.lines.size >= 26 &&
          aLive.lines.size >= 6 && bLive.lines.size >= 6)

      val full = (1 to 26).map(_ * 1000L)
      for ((c, who) <- Seq((a1, "a1"), (a2, "a2"), (b1, "b1"))) {
        val ts = c.timesUs
        assert(ts == ts.sorted, s"$who in order")
        assert(ts.distinct.size == ts.size, s"$who exactly once")
        assert(ts.toSet == full.toSet, s"$who sees the whole table across replay→live")
      }
      for ((c, who) <- Seq((aLive, "aLive"), (bLive, "bLive"))) {
        val ts = c.timesUs
        assert(ts == ts.sorted && ts.distinct.size == ts.size, s"$who ordered, exactly once")
        assert(ts.toSet == (21 to 26).map(_ * 1000L).toSet, s"$who sees only post-attach")
      }
      // cutover isolation: every session on both edges reached live
      assert(edgeA.replayingCount == 0 && edgeB.replayingCount == 0)

      // drop isolation: killing a2 (edge A) must not disturb a1, aLive
      // or anything on edge B — keep traffic flowing until the dead
      // pipe is detected, then assert only edge A's count moved
      a2.close()
      var next = 27
      eventually(90000) {
        if (next <= 60) {
          EventsTable.append(rows(next to next).toDF("time_us", "did", "collection"), table)
          next += 1
        }
        edgeA.subscriberCount == 2
      }
      assert(edgeB.subscriberCount == 2, "a drop on edge A must be invisible to edge B")
      val last = next - 1
      eventually(90000)(
        a1.timesUs.toSet == (1 to last).map(_ * 1000L).toSet &&
          b1.timesUs.toSet == (1 to last).map(_ * 1000L).toSet)
      for ((c, who) <- Seq((a1, "a1"), (b1, "b1"), (aLive, "aLive"), (bLive, "bLive"))) {
        val ts = c.timesUs
        assert(ts == ts.sorted && ts.distinct.size == ts.size,
          s"$who still ordered, exactly once after the drop")
      }
    } finally { edgeA.close(); edgeB.close() }
  }
}
