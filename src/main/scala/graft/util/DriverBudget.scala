package graft.util

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one byte budget every driver-side shortcut asks: a size gate that
  * collects a SMALL product (a BPE vocabulary, a percentile histogram,
  * k-means vectors, a union-find edge list, an ANN query batch or probe
  * set) and finishes the work in driver memory, or plants a broadcast
  * hint, instead of paying Spark's fixed per-job cost for every round.
  *
  * The budget is `min(spark.driver.maxResultSize, driver max heap) / 4`
  * (a `maxResultSize` of 0 sets no limit, so the heap alone counts): a
  * collect at the budget stays well inside both the result-size check
  * and the heap that holds the rows and what is built from them. At
  * Spark's default 1 GiB `maxResultSize` it is 256 MiB.
  *
  * Every caller sizes its rows in BYTES — what the driver holds per row,
  * including any structure it builds from the row — so a wide row can
  * never slip under a gate that counts rows. `graft.driver.budget.bytes`
  * overrides the budget; it is read at every gate, never memoized, so a
  * spec can scope it with [[withBytes]] (0 forces every distributed
  * branch).
  */
object DriverBudget {

  val OverrideProperty = "graft.driver.budget.bytes"

  /** The budget in bytes: the override when set, else the derived one. */
  def bytes(spark: SparkSession): Long =
    sys.props.get(OverrideProperty).map(_.toLong).getOrElse {
      val maxResult = spark.sparkContext.getConf
        .getSizeAsBytes("spark.driver.maxResultSize", "1g")
      val heap = Runtime.getRuntime.maxMemory
      (if (maxResult > 0) math.min(maxResult, heap) else heap) / 4
    }

  /** Run `body` with the budget overridden to `bytes` (0 forces every
    * distributed branch), restoring the previous override after. */
  def withBytes[T](bytes: Long)(body: => T): T = {
    val prev = sys.props.get(OverrideProperty)
    sys.props(OverrideProperty) = bytes.toString
    try body finally prev.fold[Unit](sys.props -= OverrideProperty)(sys.props(OverrideProperty) = _)
  }

  /** Rows of `rowBytes` each that fit `budget`, clamped so `cap + 1`
    * is still an Int row limit. */
  private[util] def rowCap(budget: Long, rowBytes: Long): Int =
    math.min(budget / math.max(1L, rowBytes), Int.MaxValue - 1L).toInt

  /** The one capped collect: `Some(rows)` when every row of `df` fits the
    * budget at `rowBytes` each, else None. A single `limit(cap + 1)`
    * action both sizes the relation and, under the cap, IS the relation,
    * so the driver branch pays one job and the distributed branch one
    * short-circuited probe. A zero cap runs no job at all.
    */
  def collect(df: DataFrame, rowBytes: Long): Option[Array[Row]] = {
    val cap = rowCap(bytes(df.sparkSession), rowBytes)
    if (cap == 0) None
    else {
      val rows = df.limit(cap + 1).collect()
      if (rows.length > cap) None else Some(rows)
    }
  }

  /** Driver heap of one row of `values` fixed-width values, however the
    * driver holds it: boxed in a collected Row plus what a site builds
    * from it, or a broadcast's hashed relation plus its collected and
    * serialized copies. Measured with Spark's SizeEstimator (JDK 17): a
    * query vector collected and re-entered as a literal frame holds
    * 364 B + 72 B per dimension; a collected k-means vector and its
    * double[] about 38 B per dimension; a broadcast's hashed relation
    * 13-42 B per value, counted three times (the collected rows, the
    * relation and its serialized blocks); a histogram row
    * with the per-stratum arrays built from it 318 B (3 values); a
    * union-find edge with its map entry, id and output row 369 B
    * (2 values). `400 + 72 × values` bounds every one of them.
    */
  def fixedRowBytes(values: Long): Long = 400L + 72L * values

  /** The plan-time test for a relation whose row count is already known
    * (broadcast hints): `rows × rowBytes ≤ budget`, overflow-free. */
  def fits(spark: SparkSession, rows: Long, rowBytes: Long): Boolean =
    rows <= bytes(spark) / math.max(1L, rowBytes)
}
