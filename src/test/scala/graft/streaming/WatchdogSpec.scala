package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec

class WatchdogSpec extends SparkSpec {
  import spark.implicits._

  private def poll(timeoutMs: Long = 10000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (cond) return true
      Thread.sleep(100)
    }
    cond
  }

  /** Next cursor after a replay chunk: max(time_us)+1, or the original
    * cursor when the chunk was empty (persist.go:199-203).
    */
  def nextCursor(chunk: DataFrame, cursorUs: Long): Long = {
    val row = chunk.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col("time_us"))).head()
    if (row.isNullAt(0)) cursorUs else row.getLong(0) + 1
  }

  test("watchdog tracks progress and flags staleness (main.go:184-214)") {
    val clock = new AtomicLong(1000000L)
    val dog = new Watchdog(nowMs = () => clock.get())
    spark.streams.addListener(dog)
    try {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[Long]
      val q = in.toDS().writeStream.format("memory")
        .queryName("watchdog_out").outputMode("append").start()
      in.addData(1L, 2L, 3L)
      q.processAllAvailable()
      // listener delivery is async — wait for the progress to land
      assert(poll()(dog.progress.getOrElse(q.id, 0L) >= 3L))
      // fresh: not stalled at threshold 15s
      assert(dog.stalled(15000).isEmpty)
      // clock jumps 16s with no new input → stalled
      clock.addAndGet(16000L)
      assert(dog.stalled(15000).contains(q.id))
      // new data clears the staleness
      in.addData(4L)
      q.processAllAvailable()
      assert(poll()(dog.stalled(15000).isEmpty))
      q.stop()
      assert(poll()(dog.progress.isEmpty)) // terminated → deregistered
    } finally spark.streams.removeListener(dog)
  }

  test("armed query stalls without ever progressing (resumed-over-history restart)") {
    // The reference reads its cursor back on restart, so a hung
    // upstream trips the nonzero-seq liveness check before this
    // incarnation's first event (main.go:199-203). arm() reproduces
    // that: a query resumed over existing history must be stall-
    // eligible immediately, not only after its first row.
    val clock = new AtomicLong(1000000L)
    val dog = new Watchdog(nowMs = () => clock.get())
    spark.streams.addListener(dog)
    try {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[Long]
      val q = in.toDS().writeStream.format("memory")
        .queryName("watchdog_armed_out").outputMode("append").start()
      assert(poll()(dog.progress.contains(q.id))) // started, zero rows
      // unarmed + never progressed: NOT stalled (fresh-boot contract,
      // seq==0 in the reference check)
      clock.addAndGet(16000L)
      assert(!dog.stalled(15000).contains(q.id))
      // armed (history existed at start): stalls once the clock passes
      // the threshold with no input
      dog.arm(q.id)
      clock.addAndGet(16000L)
      assert(dog.stalled(15000).contains(q.id))
      // real progress clears it
      in.addData(1L)
      q.processAllAvailable()
      assert(poll()(dog.stalled(15000).isEmpty))
      q.stop()
    } finally spark.streams.removeListener(dog)
  }

  test("replay chunk + next cursor loop covers the log in rate-limited steps") {
    import graft.serve.Replay
    import graft.store.EventsTable
    val path = tmpDir("chunked-replay")
    val events = (1L to 100L).map(t => (t * 1000, s"did${t % 3}", "c"))
      .toDF("time_us", "did", "collection")
    EventsTable.append(events, path)

    var cursor = 0L
    var total = 0L
    var rounds = 0
    while (rounds < 20 && total < 100) {
      val chunk = Replay.replayChunk(spark, path, cursor, maxEvents = 30).cache()
      val n = chunk.count()
      if (n == 0) rounds = 20
      else {
        val next = nextCursor(chunk, cursor)
        assert(next > cursor)
        cursor = next
        total += n
      }
      rounds += 1
    }
    assert(total == 100) // every event delivered exactly once across chunks
    assert(rounds == 4)  // 30+30+30+10
  }
}
