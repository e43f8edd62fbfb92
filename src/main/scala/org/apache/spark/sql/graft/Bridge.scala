package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-mode Column ↔ catalyst Expression bridge. The underlying
  * converters are `private[sql]` in Spark 4, so this one-file shim lives
  * in the spark.sql package — the conventional extension-library pattern
  * for exposing native expressions through the Column API.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-tag a batch DataFrame as streaming — the contract a DSv1
    * `Source.getBatch` must meet (MicroBatchExecution asserts
    * `isStreaming` on the returned plan). Same pattern the built-in
    * file/kafka sources use via `internalCreateDataFrame`.
    */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The offsets the running micro-batch `batchId` spans, summed over
    * the sources of the streaming query whose stream thread calls this
    * (its `sql.streaming.queryId` local property). Read off the batch's
    * planned start and end offsets, so it costs no job. Defined only
    * when every source numbers its offsets with bare integers: the
    * WebSocket frame source counts frames, MemoryStream counts
    * `addData` calls. None for any other offset, or off a stream thread.
    */
  def microBatchSpan(spark: org.apache.spark.sql.SparkSession, batchId: Long): Option[Long] =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .flatMap(id => Option(spark.streams.get(id))).collect {
        case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
          w.streamingQuery.getLatestExecutionContext()
      }.filter(_.batchId == batchId).flatMap { ctx =>
        def num(o: org.apache.spark.sql.connector.read.streaming.Offset) =
          Option(o).flatMap(_.json.toLongOption)
        val spans = ctx.endOffsets.toSeq.map { case (source, end) =>
          val start = ctx.startOffsets.get(source) match {
            case Some(o) => num(o)
            // a first batch: a DSv1 source delivers everything up to
            // `end`, a DSv2 stream everything after its initial offset
            case None => source match {
              case _: org.apache.spark.sql.execution.streaming.Source => Some(0L)
              case s => num(s.initialOffset)
            }
          }
          for (s <- start; e <- num(end)) yield math.max(0L, e - s)
        }
        if (spans.nonEmpty && spans.forall(_.isDefined)) Some(spans.flatten.sum) else None
      }

  /** Drain the listener bus (private[spark]) — the hook specs need
    * before reading SparkListener-accumulated counters.
    */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Rebind a DataFrame's (already-analyzed) logical plan to another
    * session sharing the same SparkContext — how the batch ANN probes
    * scope their object-hash-aggregate conf override to a CLONED
    * session instead of mutating the caller's (a Dataset action
    * propagates ITS OWN session's conf to the execution, so the clone's
    * override applies to the probe and nothing else).
    */
  def rebind(df: DataFrame, session: org.apache.spark.sql.SparkSession): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan)

  /** [[rebind]] onto a fresh clone of the frame's own session carrying
    * one conf override — `cloneSession` is `private[sql]`, hence here.
    */
  def withConfOverride(df: DataFrame, key: String, value: String): DataFrame = {
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
    s.conf.set(key, value)
    rebind(df, s)
  }

  /** Rebuild a DataFrame with a transformed logical plan (the
    * `Dataset.ofRows` constructor is `private[sql]`) — how
    * [[graft.plans.Fence]] wraps a plan node around a frame.
    */
  def withPlan(df: DataFrame,
      f: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame = {
    val cds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(cds.sparkSession, f(cds.logicalPlan))
  }
}
