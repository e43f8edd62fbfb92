package perfbench

/** Every per-layer metric a traced run prints, with its unit. A layer a
  * workload leaves idle reads 0 (every service layer on query_mix, the
  * query layers on live_fanout).
  */
object Layers {
  private val families = QueryCost.Families.flatMap(f =>
    Seq(s"query.$f.wall_s" -> "s", s"query.$f.jobs" -> "count"))

  val all: Seq[(String, String)] = Seq(
    "sources.ingest.batch_ms.p50" -> "ms", "sources.ingest.batch_ms.p99" -> "ms",
    "sources.tail.batch_ms.p50" -> "ms", "sources.tail.batch_ms.p99" -> "ms",
    "sources.ingest.phase_ms.getBatch" -> "ms", "sources.ingest.phase_ms.queryPlanning" -> "ms",
    "sources.ingest.phase_ms.addBatch" -> "ms", "sources.ingest.phase_ms.walCommit" -> "ms",
    "sources.ingest.batch_rows.p50" -> "count", "sources.ingest.lag_ms.p99" -> "ms",
    "ingest.decode.ms" -> "ms", "ingest.decode.rows_in" -> "count",
    "ingest.decode.rows_out" -> "count", "ingest.sequence.ms" -> "ms",
    "store.append.ms" -> "ms", "store.append.files" -> "count", "store.append.bytes" -> "bytes",
    "store.replay.ms" -> "ms", "store.replay.rows" -> "count", "store.replay.files" -> "count",
    "store.compact.ms" -> "ms", "store.retention.ms" -> "ms",
    "serve.replay_step.ms" -> "ms", "serve.replay_step.rows" -> "count",
    "serve.replay_step.paced_share" -> "ratio", "serve.serialize.ms" -> "ms",
    "serve.emit.ms" -> "ms") ++
    Drive.SubNames.map(n => s"serve.emit.admit_ratio.$n" -> "ratio") ++ Seq(
    "serve.write.ms" -> "ms", "serve.write.bytes" -> "bytes",
    "serve.delivered" -> "count", "serve.dropped" -> "count",
    "query.construct_ms" -> "ms", "query.exec_ms" -> "ms", "query.planning_ms" -> "ms",
    "query.jobs" -> "count", "query.stages" -> "count", "query.tasks" -> "count",
    "query.executor_busy_share" -> "ratio",
    "query.shuffle_read_bytes" -> "bytes", "query.shuffle_write_bytes" -> "bytes",
    "query.spill_bytes" -> "bytes", "query.input_bytes" -> "bytes",
    "query.result_bytes" -> "bytes", "query.gc_ms" -> "ms") ++ families ++ Seq(
    "gen.late_ms.p99" -> "ms", "gen.offered_eps" -> "1/s",
    "trace.overhead_share" -> "ratio")

  /** `measured` completed with 0 for every idle layer, in list order; a
    * percentile with no sample in the measured window reads 0 as well.
    */
  def complete(measured: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = measured.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: ${unknown.mkString(",")}")
    all.map { case (n, u) => (n, measured.get(n).filterNot(_.isNaN).getOrElse(0.0), u) }
  }
}
