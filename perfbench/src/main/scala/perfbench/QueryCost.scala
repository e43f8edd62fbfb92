package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced `query_mix` run's cost vector: a `SparkListener` counts
  * jobs, stages and tasks and sums the task metrics, and a
  * `QueryExecutionListener` sums planning time and names the fixture
  * tables each query scans (its family). Events are attributed to the
  * query running when they were posted; [[end]] drains the listener bus
  * first, so nothing of one query leaks into the next.
  */
final class QueryCost private (spark: SparkSession) {
  final class Acc {
    var queries, jobs, stages, tasks = 0L
    var runMs, shuffleRead, shuffleWrite, spill, input, result, gcMs = 0L
    var planningMs, constructMs, execMs = 0.0
    val tables = mutable.Set.empty[String]
  }
  private val byQuery = mutable.LinkedHashMap.empty[String, Acc]
  @volatile private var current: Acc = new Acc

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = current.jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = current.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = current
      acc.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        acc.runMs += m.executorRunTime
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.input += m.inputMetrics.bytesRead
        acc.result += m.resultSize
        acc.gcMs += m.jvmGCTime
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val acc = current
      acc.planningMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      acc.tables ++= QueryCost.scannedTables(qe)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def begin(name: String): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    current = byQuery.getOrElseUpdate(name, new Acc)
  }

  def end(name: String, constructMs: Double, execMs: Double): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val acc = byQuery(name)
    acc.queries += 1; acc.constructMs += constructMs; acc.execMs += execMs
    current = new Acc
  }

  /** Per-pass figures (totals over `tracedPasses` passes, divided). */
  def metrics(tracedPasses: Int, overheadShare: Double): Seq[(String, Double, String)] = {
    val passes = math.max(1, tracedPasses).toDouble
    val all = byQuery.values.toSeq
    def sum(f: Acc => Double): Double = all.map(f).sum / passes
    val wallMs = sum(a => a.constructMs + a.execMs)
    val cores = spark.sparkContext.defaultParallelism
    val families = byQuery.toSeq.groupBy { case (_, a) => QueryCost.family(a.tables.toSet) }
    val familyMetrics = QueryCost.Families.flatMap { f =>
      val accs = families.getOrElse(f, Nil).map(_._2)
      Seq((s"query.$f.wall_s", accs.map(a => a.constructMs + a.execMs).sum / passes / 1000.0, "s"),
        (s"query.$f.jobs", accs.map(_.jobs.toDouble).sum / passes, "count"))
    }
    Seq(
      ("query.construct_ms", sum(_.constructMs), "ms"),
      ("query.exec_ms", sum(_.execMs), "ms"),
      ("query.planning_ms", sum(_.planningMs), "ms"),
      ("query.jobs", sum(_.jobs.toDouble), "count"),
      ("query.stages", sum(_.stages.toDouble), "count"),
      ("query.tasks", sum(_.tasks.toDouble), "count"),
      ("query.executor_busy_share", sum(_.runMs.toDouble) / math.max(1.0, wallMs * cores), "ratio"),
      ("query.shuffle_read_bytes", sum(_.shuffleRead.toDouble), "bytes"),
      ("query.shuffle_write_bytes", sum(_.shuffleWrite.toDouble), "bytes"),
      ("query.spill_bytes", sum(_.spill.toDouble), "bytes"),
      ("query.input_bytes", sum(_.input.toDouble), "bytes"),
      ("query.result_bytes", sum(_.result.toDouble), "bytes"),
      ("query.gc_ms", sum(_.gcMs.toDouble), "ms"),
      ("trace.overhead_share", overheadShare, "ratio")) ++
      familyMetrics
  }

  /** Per query: jobs, stages, tasks, input bytes (diagnostics). */
  def perQuery: Seq[(String, String)] = byQuery.toSeq.map { case (n, a) =>
    n -> s"jobs=${a.jobs} stages=${a.stages} tasks=${a.tasks} input=${a.input} family=${QueryCost.family(a.tables.toSet)}"
  }

  private def attach(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    this
  }
}

object QueryCost {
  def attach(spark: SparkSession): QueryCost = new QueryCost(spark).attach()

  /** Families by the fixture a query scans, most specific first. */
  val Families: Seq[String] = Seq("embeddings", "documents", "events", "tpch")

  def family(tables: Set[String]): String =
    Families.find(tables.contains).getOrElse("tpch")

  /** Fixture table names (`<name>.parquet`) a plan reads. */
  def scannedTables(qe: QueryExecution): Set[String] =
    qe.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location.rootPaths }
      .flatten.map(_.getName).collect {
        case n if n.endsWith(".parquet") => n.stripSuffix(".parquet")
      }.toSet
}
