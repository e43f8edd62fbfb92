package graft.util

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Scans.estimateScanPartitions]] replicates Spark's FilePartition
  * split/packing formula driver-side so [[Scans.spread]] (and the
  * batch probes' spreadForScore) can size their skip-the-repartition
  * check without materializing a physical plan. These pins hold the
  * replication against the real planner: if a Spark upgrade changes
  * the packing, the estimate must change with it.
  */
class ScansSpec extends SparkSpec {
  import spark.implicits._

  private def actualScanParts(path: String): Int =
    spark.read.parquet(path).rdd.getNumPartitions

  private def estimate(path: String): Int = {
    val sizes = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(p, true)
      val b = Seq.newBuilder[Long]
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")) b += st.getLen
      }
      b.result()
    }
    Scans.estimateScanPartitions(spark, sizes)
  }

  test("estimate matches the planner on the fixture tables") {
    // the events fixture may carry TIMESTAMP(NANOS) — readable only
    // under the legacy conf (same pin Tables.loadRaw applies)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (t <- Seq("documents", "lineitem", "events")) {
      val path = s"/root/testdata/sf0.001/$t.parquet"
      assert(estimate(path) == actualScanParts(path),
        s"estimate diverges from FilePartition packing on $t")
    }
  }

  test("estimate matches the planner on a many-small-files table") {
    val dir = tmpDir("scans-many")
    (0 until 7).foreach { i =>
      spark.range(i * 10 + 1).select(col("id"), lit(i).as("g"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    assert(estimate(dir) == actualScanParts(dir),
      "estimate diverges on a multi-file layout")
  }

  test("a partition-pruned scan is sized from the partitions it reads") {
    val dir = tmpDir("scans-pruned")
    spark.range(800).select(col("id"), (col("id") % 8).as("p"))
      .coalesce(1).write.mode("overwrite").partitionBy("p").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("p") === 3)
    assert(Scans.scanFileSizes(pruned).map(Scans.estimateScanPartitions(spark, _))
      .contains(pruned.rdd.getNumPartitions),
      "estimate diverges from the pruned scan's partition count")
    assert(Scans.spread(pruned, col("id")).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism,
      "a pruned single-file scan must spread to executor width")
  }

  test("spread repartitions a narrow scan and leaves a wide frame alone") {
    val dir = tmpDir("scans-spread")
    spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val narrow = spark.read.parquet(dir)
    val spreadN = Scans.spread(narrow, col("id"))
    assert(spreadN.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism,
      "single-file scan must spread to executor width")
    // already at/above width: identity (no extra exchange)
    val wide = narrow.repartition(
      spark.sparkContext.defaultParallelism * 2, col("id"))
    assert(Scans.spread(wide, col("id")).queryExecution.analyzed eq
      wide.queryExecution.analyzed,
      "an already-wide frame must pass through untouched")
  }
}
