package graft.util

import graft.SparkSpec

/** [[DriverBudget]] is the one size gate every driver-side shortcut asks:
  * these pins hold its byte arithmetic at the edges — an exact fit, one
  * row over, a row wider than the budget, and a budget too large for an
  * Int row limit — the default derivation from the session, and the
  * per-row heap charge against what the driver really holds.
  */
class DriverBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def eightLongs = (1L to 8L).toDF("id")

  test("an exact fit (rows × rowBytes == budget) is admitted") {
    DriverBudget.withBytes(64L) {
      assert(DriverBudget.collect(eightLongs, 8L).map(_.length).contains(8))
      assert(DriverBudget.fits(spark, 8L, 8L))
    }
  }

  test("one row over the budget returns None") {
    DriverBudget.withBytes(56L) {
      assert(DriverBudget.collect(eightLongs, 8L).isEmpty)
      assert(!DriverBudget.fits(spark, 8L, 8L))
    }
  }

  test("a row wider than the budget gives cap 0 and None") {
    assert(DriverBudget.rowCap(8L, 9L) == 0)
    DriverBudget.withBytes(8L) {
      assert(DriverBudget.collect(eightLongs, 9L).isEmpty)
      assert(!DriverBudget.fits(spark, 1L, 9L))
    }
  }

  test("a Long.MaxValue budget clamps the row cap to Int without overflow") {
    assert(DriverBudget.rowCap(Long.MaxValue, 1L) == Int.MaxValue - 1)
    DriverBudget.withBytes(Long.MaxValue) {
      assert(DriverBudget.collect(eightLongs, 1L).map(_.length).contains(8))
      assert(DriverBudget.fits(spark, Long.MaxValue, 1L))
    }
  }

  test("the default budget is the session's maxResultSize / 4") {
    val maxResult = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    assume(Runtime.getRuntime.maxMemory >= maxResult, "heap smaller than maxResultSize")
    assert(sys.props.get(DriverBudget.OverrideProperty).isEmpty)
    assert(DriverBudget.bytes(spark) == maxResult / 4)
  }

  test("fixedRowBytes bounds the heap of a query frame collected and re-entered as a literal") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // the costliest fixed-width form: boxed vector elements in the
    // collected rows, their double[] copies, and the literal frame's rows
    // (300 rows keeps SizeEstimator exact: it samples arrays above 400)
    val (n, dim) = (300, 64)
    val collected = spark.range(n).select(col("id").as("__qid"),
      transform(sequence(lit(1), lit(dim)), x => x / 7.0).as("__qe")).collect()
    val arrays = collected.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val literal = spark.createDataFrame(java.util.Arrays.asList(arrays.map {
      case (q, v) => org.apache.spark.sql.Row(q, v.toSeq, 1.0) }: _*),
      StructType(Seq(StructField("__qid", LongType),
        StructField("__qe", ArrayType(DoubleType)), StructField("__qn", DoubleType))))
    val data = literal.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data
    }.head
    val held = org.apache.spark.util.SizeEstimator.estimate(
      Array[AnyRef](collected, arrays, data))
    assert(held <= n * DriverBudget.fixedRowBytes(2 + dim),
      s"$held B held for $n rows, above the ${DriverBudget.fixedRowBytes(2 + dim)} B/row charge")
  }
}
