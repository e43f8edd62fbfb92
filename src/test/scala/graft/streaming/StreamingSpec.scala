package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.ingest.IngestJob
import graft.store.EventsTable

/** Streaming end-to-end: MemoryStream-driven micro-batches through the
  * ingest job (sequencer + append + checkpoint resume) and the
  * watermarked operators.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Recover the sequencer position from the persisted log. */
  def recoverMaxTimeUs(events: DataFrame): Long = {
    val row = events.agg(max(col("time_us"))).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  final case class Raw(arrival: Long, did: String, collection: String)

  test("ingest job: sequenced append across micro-batches, resume from table (main.go:280-297)") {
    implicit val ctx = spark.sqlContext
    val table = tmpDir("ingest-table")
    val ckpt = tmpDir("ingest-ckpt")

    val in = MemoryStream[Raw]
    in.addData((1 to 50).map(i => Raw(i.toLong, s"did${i % 3}", "app.c")))
    val q1 = IngestJob.start(in.toDF(), Seq("arrival"), table, ckpt,
      prevMaxUs = 0L, nowUs = () => 1000000L)
    q1.awaitTermination()

    val t1 = EventsTable.read(spark, table).select("time_us").as[Long].collect().sorted
    assert(t1.length == 50)
    assert(t1.toSeq == (1000000L until 1000050L))

    // restart: recover hwm from the table (reference cursor-resume), new data
    val in2 = MemoryStream[Raw]
    in2.addData((51 to 80).map(i => Raw(i.toLong, s"did${i % 3}", "app.c")))
    val recovered = recoverMaxTimeUs(EventsTable.read(spark, table))
    assert(recovered == 1000049L)
    val q2 = IngestJob.start(in2.toDF(), Seq("arrival"), table, tmpDir("ingest-ckpt2"),
      prevMaxUs = recovered, nowUs = () => 500L) // stuck clock → prevMax+1 path
    q2.awaitTermination()

    val t2 = EventsTable.read(spark, table).select("time_us").as[Long].collect().sorted
    assert(t2.length == 80)
    assert(t2.toSeq == t2.distinct.sorted.toSeq) // still strictly monotonic, no overlap
    assert(t2.max == 1000079L)
  }

  /** The operators of every plan executed while `body` runs, through
    * adaptive stages.
    */
  private def executedNodes(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val recorder = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.executedPlan)
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => (p.children ++ p.subqueries).flatMap(nodes)
    })
    // registered before the stream starts: the stream runs in a clone
    // of the session, which copies the listeners registered by then
    spark.listenerManager.register(recorder)
    try body finally {
      org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark.sparkContext)
      spark.listenerManager.unregister(recorder)
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.flatMap(nodes)
  }

  test("ingest monotonicity holds through the scalable-stamp path (large-batch form)") {
    implicit val ctx = spark.sqlContext
    val table = tmpDir("ingest-scalable-table")

    // threshold 40: batch 1 (50 rows) takes stampScalable, batch 2 (20)
    // takes the window stamp — both paths in one stream, one hwm chain.
    // The ingest picks the path by the offsets a batch spans, and
    // MemoryStream numbers its offsets by addData call: one row per
    // call makes the span the row count, as the WebSocket source's span
    // is its frame count
    val in = MemoryStream[Raw]
    (1 to 50).foreach(i => in.addData(Raw(i.toLong, s"did${i % 3}", "app.c")))
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val first = executedNodes {
      q = IngestJob.start(in.toDF(), Seq("arrival"), table, tmpDir("ingest-scalable-ckpt"),
        prevMaxUs = 0L, nowUs = () => 1000000L, scalableThresholdRows = 40L)
      q.awaitTermination()
    }
    val in2 = MemoryStream[Raw]
    (51 to 70).foreach(i => in2.addData(Raw(i.toLong, s"did${i % 3}", "app.c")))
    var q2: org.apache.spark.sql.streaming.StreamingQuery = null
    val second = executedNodes {
      q2 = IngestJob.start(in2.toDF(), Seq("arrival"), table, tmpDir("ingest-scalable-ckpt2"),
        prevMaxUs = 1000049L, nowUs = () => 500L, scalableThresholdRows = 40L)
      q2.awaitTermination()
    }
    // one batch each (the scalable stamp reads its batch more than once,
    // so the source's row count sums those reads)
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    assert(q2.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq == Seq(20L))
    // the scalable stamp writes the RDD its index assigned, with no
    // window; the window stamp plans its row_number window
    assert(!first.exists(_.isInstanceOf[WindowExec]), "the 50-row batch took the window stamp")
    assert(first.exists(_.isInstanceOf[RDDScanExec]), "the 50-row batch's write read no stamped RDD")
    assert(second.exists(_.isInstanceOf[WindowExec]), "the 20-row batch did not take the window stamp")

    val rows = EventsTable.read(spark, table)
      .select("arrival", "time_us").as[(Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 70)
    // gap-free, strictly monotonic, and aligned with the arrival order
    assert(rows.map(_._2).toSeq == (1000000L until 1000070L))
  }

  test("dedupOverlap drops replay/live duplicates within watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val deduped = LiveTail.dedupOverlap(in.toDF().toDF("time_us", "did"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    // replay tail and live head overlap on 100..104
    in.addData((100L to 104L).map(t => (t * 1000000, "a")))
    q.processAllAvailable()
    in.addData((102L to 107L).map(t => (t * 1000000, "a")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").select("time_us").as[Long].collect().sorted
    assert(out.length == 8) // 100..107 exactly once
    assert(out.toSeq == (100L to 107L).map(_ * 1000000))
  }

  test("dedupContent drops repeated content within watermark, normalized") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val deduped = LiveTail.dedupContent(in.toDF().toDF("time_us", "text"), "text")
    val q = deduped.writeStream.format("memory").queryName("cdedup_out")
      .outputMode("append").start()
    // a repost storm: same content at different times, with whitespace
    // and case variation the fingerprint must normalize away
    in.addData(Seq(
      (100L * 1000000, "hello  World"),
      (101L * 1000000, "unique one"),
      (102L * 1000000, "HELLO world"), // dup of 100 after normalization
      (103L * 1000000, "hello world"))) // dup again
    q.processAllAvailable()
    in.addData(Seq(
      (104L * 1000000, "hello\tworld"), // still inside the watermark: dup
      (105L * 1000000, "unique two")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("cdedup_out").select("time_us").as[Long].collect().sorted
    assert(out.toSeq == Seq(100L, 101L, 105L).map(_ * 1000000),
      "one survivor per distinct content, earliest wins")
  }

  test("dedupContent passes null-text events through, never dedupes them") {
    // ADVICE r11 (medium): deletes/likes/identity events carry no text;
    // a null fingerprint must not group them as "equal content" and
    // collapse the lot to one survivor.
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val deduped = LiveTail.dedupContent(in.toDF().toDF("time_us", "text"), "text")
    val q = deduped.writeStream.format("memory").queryName("cdedup_null_out")
      .outputMode("append").start()
    in.addData(Seq(
      (100L * 1000000, "real content"),
      (101L * 1000000, null),
      (102L * 1000000, null), // textless: must SURVIVE, not dedupe vs 101
      (103L * 1000000, "real  CONTENT"), // dup of 100 after normalization
      (104L * 1000000, null)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("cdedup_null_out").select("time_us").as[Long].collect().sorted
    assert(out.toSeq == Seq(100L, 101L, 102L, 104L).map(_ * 1000000),
      "every null-text event passes through; only real content dedupes")
  }

  test("stream-static enrichment joins the live tail against a dim table") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val dims = Seq(("click", 1), ("view", 2)).toDF("collection", "weight")
    val joined = in.toDF().toDF("time_us", "collection")
      .join(broadcast(dims), Seq("collection"), "left_outer")
    val q = joined.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    in.addData(Seq((1L, "click"), (2L, "view"), (3L, "repost")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enrich_out")
      .select("collection", "weight").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out == Map("click" -> Some(1), "view" -> Some(2), "repost" -> None))
  }

  test("intervalJoin pairs events within the window, drops outside it") {
    implicit val ctx = spark.sqlContext
    val views = MemoryStream[(Long, String)]
    val clicks = MemoryStream[(Long, String)]
    val joined = LiveTail.intervalJoin(
      views.toDF().toDF("time_us", "v_user"),
      clicks.toDF().toDF("time_us", "c_user"),
      keyCol = "v_user", rightKeyCol = "c_user", within = "10 minutes")
      // an unqualified time_us downstream projection must resolve: only
      // the LEFT side's survives the join (the right's is r_time_us)
      .select(col("v_user"), col("event_time"), col("r_event_time"),
        col("time_us"), col("r_time_us"))
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    val base = 1700000000000000L
    val min = 60L * 1000000
    // view at t0 for users a,b; clicks: a at +5min (in window),
    // b at +20min (outside), c at +1min (no matching view key)
    views.addData(Seq((base, "a"), (base, "b")))
    clicks.addData(Seq((base + 5 * min, "a"), (base + 20 * min, "b"), (base + min, "c")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ij_out").select("v_user", "time_us", "r_time_us")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("a", base, base + 5 * min))) // only a's click is in [view, view+10min]
  }

  test("sessionCounts groups activity bursts split by the gap") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val sessions = LiveTail.sessionCounts(
      in.toDF().toDF("time_us", "did"), keyCol = "did",
      gap = "10 seconds", watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    // did a: burst at 0-4s (5 events), silence, burst at 60-61s (2 events)
    in.addData((0L to 4L).map(s => (s * 1000000, "a")) ++ Seq((60000000L, "a"), (61000000L, "a")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_out")
      .select("did", "n_events").as[(String, Long)].collect().sorted.toSeq
    assert(out == Seq(("a", 2L), ("a", 5L)))
  }

  test("windowedCounts aggregates per tumbling window and collection") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val counts = LiveTail.windowedCounts(
      in.toDF().toDF("time_us", "collection"), "1 minute", "0 seconds")
    val q = counts.writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    // 90 events in minute 0, 30 in minute 1, two collections
    in.addData((0 until 120).map(i => (i.toLong * 1000000, s"c${i % 2}")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("win_out")
      .select("window_start", "collection", "n_events")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    def ts(min: Int) = java.sql.Timestamp.valueOf(s"1970-01-01 00:0$min:00")
    assert(out == Set(
      (ts(0), "c0", 30L), (ts(0), "c1", 30L),
      (ts(1), "c0", 30L), (ts(1), "c1", 30L)))
  }
}
