package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `Verify.dump` is what `tools/check_oracle.py` reads: a directory per
  * query. A query that fails must leave none, or the compare reads an
  * earlier run's parquet as this run's result.
  */
class VerifySpec extends SparkSpec {

  test("a query that throws leaves no output dir, even over a stale one; a passing query is written") {
    val out = tmpDir("graft-verify")
    // an earlier run's result for `bad`, still on disk
    spark.range(3).toDF("id").coalesce(1).write.parquet(s"$out/bad")
    assert(Files.isDirectory(Paths.get(out, "bad")))

    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "bad" -> ((_: SparkSession, _: String) => sys.error("planted failure")),
      "good" -> ((s: SparkSession, _: String) => s.range(5).toDF("id")))
    Verify.dump(spark, queries, "unused-sf-dir", out)

    assert(!Files.exists(Paths.get(out, "bad")), "a failed query left a parquet behind")
    assert(spark.read.parquet(s"$out/good").count() == 5L)
  }
}
