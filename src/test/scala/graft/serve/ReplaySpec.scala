package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.EventsTable

/** Replay→live cutover semantics (server.go:100-103,283-286,305-337). */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  /** Batch twin of the full replay∪live subscription: cursor range scan
    * unioned with the live slice, deduped by event identity via the hwm
    * rule — every event delivered exactly once, in time_us order.
    */
  def replayUnionLive(
      spark: SparkSession,
      path: String,
      cursorUs: Long,
      liveFromUs: Long): DataFrame = {
    val replay = EventsTable.read(spark, path).filter(col("time_us") >= cursorUs)
    val live = EventsTable.read(spark, path).filter(col("time_us") > liveFromUs)
    replay.union(live)
      .dropDuplicates("time_us") // hwm semantics: same event seen twice → once
      .orderBy(col("time_us"))
  }

  final case class CutoverPlan(replayFromUs: Long, replayUntilUs: Long, liveFromUs: Long)

  /** Decide the backfill/live boundary given the live head position:
    * replay covers [cursor, head]; live takes over for (head, ∞); the
    * subscriber's hwm advances to the replay tail so overlap dedups
    * (server.go:131-134). Future cursor ⇒ no replay, straight to live
    * (server.go:283-286).
    */
  def plan(cursorUs: Long, liveHeadUs: Long): CutoverPlan =
    if (cursorUs > liveHeadUs) CutoverPlan(liveHeadUs + 1, liveHeadUs, liveHeadUs)
    else CutoverPlan(cursorUs, liveHeadUs, liveHeadUs)

  test("cutover threshold matches reference: within 500ms of head (server.go:322)") {
    val head = 10000000L
    assert(Replay.caughtUp(head - 400000L, head))
    assert(!Replay.caughtUp(head - 600000L, head))
  }

  test("future cursor goes straight to live (server.go:283-286)") {
    val p = plan(cursorUs = 2000, liveHeadUs = 1000)
    assert(p.replayFromUs > p.replayUntilUs) // empty replay range
    assert(p.liveFromUs == 1000)
  }

  test("replay∪live delivers each event exactly once, in order") {
    val path = tmpDir("replay-union")
    val events = (1L to 1000L).map(t => (t * 1000, s"did${t % 5}", "c"))
      .toDF("time_us", "did", "collection")
    EventsTable.append(events, path)
    val out = replayUnionLive(spark, path, cursorUs = 300000, liveFromUs = 600000)
      .select("time_us").as[Long].collect()
    // overlap region [600000+, ...] appears once; full range covered
    assert(out.toSeq == out.toSeq.sorted)
    assert(out.length == out.toSet.size)
    assert(out.length == 701) // time_us 300000..1000000 step 1000
    assert(out.head == 300000 && out.last == 1000000)
  }
}
