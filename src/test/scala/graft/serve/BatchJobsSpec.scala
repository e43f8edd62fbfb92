package graft.serve

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import graft.{SparkSpec, WsTestKit}
import graft.sources.WebSocketIngress
import graft.store.EventsTable
import graft.util.DriverBudget

/** What one ingest micro-batch costs in Spark jobs, and what its commit
  * hand-off does when the batch does not fit the driver budget.
  */
class BatchJobsSpec extends SparkSpec {

  private val iso = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
  private val baseMs = java.time.Instant.parse("2024-09-05T08:00:00.000Z").toEpochMilli

  /** Upstream commit frame `i`, one millisecond of event time apart. */
  private def frame(i: Int): (Long, String) = {
    val t = iso.format(java.time.Instant.ofEpochMilli(baseMs + i))
    (baseMs + i) * 1000L ->
      (s"""{"t":"#commit","did":"did:plc:h${i % 5}","rev":"r$i","seq":$i,"time":"$t","tooBig":false,""" +
        s""""ops":[{"action":"create","path":"app.bsky.feed.post/k$i","cid":"c$i","recordCid":"c$i","record":{"text":"m$i"}}]}""")
  }

  /** The local property a commit listener sets on the appending thread
    * while the listeners registered after it run.
    */
  private val HandOff = "graft.spec.handoff"

  /** Spark jobs by (query id, batch id), all of them and those started
    * inside the commit hand-off, and the batches whose progress event
    * this listener has seen: it comes through the same queue as the
    * batch's job starts, after them.
    */
  private final class JobLog extends SparkListener {
    val jobs = new ConcurrentHashMap[(String, Long), AtomicInteger]
    val handOffJobs = new ConcurrentHashMap[(String, Long), AtomicInteger]
    val progressed = ConcurrentHashMap.newKeySet[(String, Long)]()
    private def bump(m: ConcurrentHashMap[(String, Long), AtomicInteger], k: (String, Long)): Unit =
      m.computeIfAbsent(k, _ => new AtomicInteger).incrementAndGet()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
           b <- Option(p.getProperty("streaming.sql.batchId"))) {
        bump(jobs, q -> b.toLong)
        if (p.getProperty(HandOff) != null) bump(handOffJobs, q -> b.toLong)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => progressed.add(p.progress.id.toString -> p.progress.batchId)
      case _ => ()
    }
    def count(m: ConcurrentHashMap[(String, Long), AtomicInteger], k: (String, Long)): Int =
      Option(m.get(k)).map(_.get).getOrElse(0)
  }

  private def rearmed(server: SocketServe.Server): Boolean =
    server.sessionTraces.values.exists(_.exists(_.startsWith("rearm")))

  /** A WebSocket ingest with `edges` serving edges and one live
    * subscriber on each; the commit listeners run between two markers.
    * Returns the Spark jobs of each steady-state batch that carried
    * frames, and of its hand-off.
    */
  private def steadyBatchJobs(edges: Int): Seq[(Int, Int)] = {
    val table = tmpDir(s"jobs-$edges-table")
    val srv = new WsTestKit.ReplayServer
    val log = new JobLog
    var ingest: org.apache.spark.sql.streaming.StreamingQuery = null
    var servers = Seq.empty[SocketServe.Server]
    var detach = Seq.empty[() => Unit]
    spark.sparkContext.addSparkListener(log)
    try {
      srv.log = (1 to 5).map(frame).toVector
      ingest = WebSocketIngress.start(spark, s"ws://localhost:${srv.port}/subscribe", table,
        tmpDir(s"jobs-$edges-ckpt"),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
      eventually(90000)(EventsTable.read(spark, table).count() == 5)
      detach :+= EventsTable.onCommit(spark, table) { _ =>
        spark.sparkContext.setLocalProperty(HandOff, "1")
      }
      servers = (1 to edges).map(_ => SocketServe.start(spark, table))
      detach :+= EventsTable.onCommit(spark, table) { _ =>
        spark.sparkContext.setLocalProperty(HandOff, null)
      }
      val clients = servers.map(s => new WsTestKit.Client(s"ws://localhost:${s.port}/subscribe?"))
      eventually(30000)(servers.forall(s => s.subscriberCount == 1 && s.replayingCount == 0))
      eventually(30000)(!ingest.status.isTriggerActive)
      val before = ingest.lastProgress.batchId
      // three waves, each its own batch or more
      Seq(15, 25, 35).foreach { n =>
        srv.log = (1 to n + 5).map(frame).toVector
        eventually(90000)(clients.forall(_.lines.size >= n))
      }
      eventually(30000)(!ingest.status.isTriggerActive)
      assert(clients.forall(_.lines.size == 35), "each live subscriber got each new event once")
      assert(!servers.exists(rearmed), "the hand-off delivered live, with no replay")
      val q = ingest.id.toString
      val batches = ingest.recentProgress.filter(p => p.batchId > before && p.numInputRows > 0)
        .map(_.batchId).toSeq
      assert(batches.nonEmpty)
      eventually(30000)(batches.forall(b => log.progressed.contains(q -> b)))
      batches.map(b => (log.count(log.jobs, q -> b), log.count(log.handOffJobs, q -> b)))
    } finally {
      detach.foreach(_())
      servers.foreach(_.close())
      if (ingest != null) { ingest.stop(); ingest.awaitTermination(30000) }
      spark.sparkContext.removeSparkListener(log)
      srv.close()
    }
  }

  test("an ingest micro-batch runs at most one Spark job, and its hand-off none, with one edge or two") {
    Seq(1, 2).foreach { edges =>
      val perBatch = steadyBatchJobs(edges)
      assert(perBatch.forall(_._1 <= 1), s"$edges edge(s): jobs per batch (all, hand-off): $perBatch")
      assert(perBatch.forall(_._2 == 0), s"$edges edge(s): jobs per batch (all, hand-off): $perBatch")
    }
  }

  test("ingest over the driver budget: the batch commits, the live session replays it once, the ingest runs on") {
    val table = tmpDir("jobs-budget-table")
    val srv = new WsTestKit.ReplayServer
    val reg = new Metrics.Registry
    var ingest: org.apache.spark.sql.streaming.StreamingQuery = null
    var server: SocketServe.Server = null
    try {
      srv.log = (1 to 5).map(frame).toVector
      ingest = WebSocketIngress.start(spark, s"ws://localhost:${srv.port}/subscribe", table,
        tmpDir("jobs-budget-ckpt"), metrics = reg)
      eventually(90000)(EventsTable.read(spark, table).count() == 5)
      server = SocketServe.start(spark, table)
      val live = new WsTestKit.Client(s"ws://localhost:${server.port}/subscribe?")
      eventually(30000)(server.subscriberCount == 1 && server.replayingCount == 0)
      eventually(30000)(!ingest.status.isTriggerActive)
      // a one-byte budget: no batch's frames are collected for the hand-off
      DriverBudget.withBytes(1L) {
        srv.log = (1 to 25).map(frame).toVector
        eventually(90000)(EventsTable.read(spark, table).count() == 25)
        eventually(30000)(!ingest.status.isTriggerActive)
      }
      val persisted = ("""graft_consumer_events_persisted_total\{table="[^"]*"\} (\d+)""").r
        .findFirstMatchIn(reg.render).map(_.group(1).toLong)
      assert(persisted.contains(25L), s"persisted counter: $persisted")
      val committed = EventsTable.read(spark, table).select("time_us")
        .collect().map(_.getLong(0)).sorted.toSeq
      eventually(90000)(live.timesUs.size >= 20)
      assert(live.timesUs == committed.drop(5), "the live session got the batch once, in order")
      assert(rearmed(server), "the over-budget hand-off re-armed the live session")
      assert(server.subscriberCount == 1, "no subscriber is dropped for an over-budget hand-off")
      assert(ingest.isActive)
    } finally {
      if (server != null) server.close()
      if (ingest != null) { ingest.stop(); ingest.awaitTermination(30000) }
      srv.close()
    }
  }
}
