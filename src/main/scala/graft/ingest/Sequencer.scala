package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Monotonic sequencer — the reference's single hard invariant (SURVEY
  * §7.4.1): every persisted event gets a strictly-increasing `time_us`
  * that doubles as the global sort key and the subscriber cursor domain.
  *
  * Reference: pkg/monotonic/clock.go:34-56 (wall-clock µs, bumped +1 on
  * collision) funneled through ONE goroutine (consumer.go:76,304,311-342)
  * — i.e. the reference also serializes all parallelism at this stage.
  *
  * Spark translation: per micro-batch, order the batch deterministically,
  * stamp `time_us = base + row_number - 1` where
  * `base = max(prevMax + 1, wallClockUs)` — the same
  * max(last+1, now) rule as clock.go:45-53, applied batch-wise. The
  * row_number over the whole batch is a deliberate single-task stage,
  * exactly the bottleneck the reference accepted; everything before and
  * after it is fully parallel. Over a one-partition input that task
  * needs no exchange (the ingest stamps its micro-batch coalesced to
  * one partition, inside the job that writes it); a partitioned input
  * is gathered into it by a shuffle.
  * `prevMax` is carried across batches by the caller (checkpointed in
  * streaming, see IngestJob).
  */
object Sequencer {

  final case class Sequenced(df: DataFrame, maxTimeUs: Long)

  /** Stamp a batch. `orderCols` define the intra-batch order (an
    * arrival-order proxy, deterministic). They need not be unique: the
    * service orders by `(event_time_us, did, type)`, which ties across
    * the ops of one commit, and tied rows take their input order (the
    * batch's partition order, then row order). So the stamp is a
    * function of the batch as it is partitioned: stamp a batch once,
    * and read its rows from one computation (the ingest stamps inside
    * the job that writes the batch, and
    * [[graft.store.EventsTable.append]] hands the commit listeners the
    * frames that write computed). `rows`, when known, saves the count
    * that sizes the result's `maxTimeUs`. `nowUs` is injectable for
    * tests.
    */
  def stamp(
      batch: DataFrame,
      orderCols: Seq[String],
      prevMaxUs: Long,
      nowUs: () => Long = () => System.currentTimeMillis() * 1000L,
      rows: Long = -1L): Sequenced = {
    val n = if (rows >= 0) rows else batch.count()
    if (n == 0) return Sequenced(batch.sparkSession.emptyDataFrame, prevMaxUs)
    val base = baseUs(prevMaxUs, nowUs)
    Sequenced(stampFrom(batch, orderCols, base), base + n - 1)
  }

  /** A batch's first stamp after `prevMaxUs`: `max(prevMax + 1, now)`. */
  def baseUs(prevMaxUs: Long, nowUs: () => Long): Long = math.max(prevMaxUs + 1, nowUs())

  /** [[stamp]] from a known first stamp: `batch` stamped `baseUs`,
    * `baseUs + 1`, … in order, as a plan that runs no job. The caller
    * learns the last stamp from what it does with the rows (the ingest,
    * from its write's observation).
    */
  def stampFrom(batch: DataFrame, orderCols: Seq[String], baseUs: Long): DataFrame = {
    val w = Window.orderBy(inputOrder(orderCols): _*)
    // the base enters through a function, not a literal: a long literal
    // is inlined into the generated code, so a new base per batch would
    // compile the stage anew every batch
    val offset = udf((rn: Int) => baseUs + rn - 1L).asNonNullable()
    withInputPosition(batch).withColumn("time_us",
      offset(row_number().over(w))).drop(InputPosition)
  }

  /** The tie-breaker column: each row's position in its batch. */
  private val InputPosition = "_graft_input_position"

  private def withInputPosition(batch: DataFrame): DataFrame =
    batch.withColumn(InputPosition, monotonically_increasing_id())

  private def inputOrder(orderCols: Seq[String]) = (orderCols :+ InputPosition).map(col)

  /** Distributed variant for very large batches: the unpartitioned
    * window in [[stamp]] funnels the whole batch through one task
    * (acceptable at micro-batch sizes — the reference makes the same
    * trade with its single goroutine, consumer.go:304). This version
    * assigns the SAME gap-free sequence without any single-task stage:
    * range-partition by the order columns (so partition k holds a
    * contiguous, sorted slice of the total order), sort within
    * partitions, then offset each row by its partition-local index plus
    * the cumulative size of earlier partitions. Two light jobs (range
    * sampling + zipWithIndex's count) instead of one full-data
    * single-task sort.
    */
  def stampScalable(
      batch: DataFrame,
      orderCols: Seq[String],
      prevMaxUs: Long,
      nowUs: () => Long = () => System.currentTimeMillis() * 1000L,
      partitions: Int = 0,
      rows: Long = -1L): Sequenced = {
    val n = if (rows >= 0) rows else batch.count()
    if (n == 0) return Sequenced(batch.sparkSession.emptyDataFrame, prevMaxUs)
    val base = baseUs(prevMaxUs, nowUs)
    Sequenced(stampScalableFrom(batch, orderCols, base, partitions), base + n - 1)
  }

  /** [[stampScalable]] from a known first stamp, as [[stampFrom]] is
    * [[stamp]]'s. Its range sampling and index count run their jobs
    * here, when the stamped frame is built.
    */
  def stampScalableFrom(batch: DataFrame, orderCols: Seq[String], baseUs: Long,
      partitions: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    val parts = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val cols = inputOrder(orderCols)
    val ranged = withInputPosition(batch)
      .repartitionByRange(parts, cols: _*)
      .sortWithinPartitions(cols: _*)
      .drop(InputPosition)
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+
        org.apache.spark.sql.types.StructField("time_us", org.apache.spark.sql.types.LongType, nullable = false))
    val stamped = ranged.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (baseUs + i))
    }
    spark.createDataFrame(stamped, schema)
  }
}
