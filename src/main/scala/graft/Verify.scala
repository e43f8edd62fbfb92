package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for `tools/check_oracle.py`'s DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir>
  */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.HourBounds
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: comma-separated query names; unset = all
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      // an empty or misspelled filter must FAIL, not run zero queries
      // and exit looking like a clean verify
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY matches nothing: " +
          (if (names.isEmpty) "empty filter" else s"unknown ${unknown.mkString(",")}"))
    }
    dump(spark, SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) },
      sfDir, outDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in the SQL would otherwise make the oracle
    // compare's json.load fail and silently zero the correctness check.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Writes each query's result to `<outDir>/<name>` as one parquet
    * file. A query's own directory is deleted before it runs, so a query
    * that throws leaves no parquet behind: an output left by an earlier
    * run would otherwise reach the oracle compare as this run's result
    * and pass a query that just failed. A failure is reported on stderr
    * as `[verify] <name> failed: <message>` and the next query runs.
    */
  def dump(spark: SparkSession, queries: Iterable[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String): Unit =
    queries.foreach { case (name, fn) =>
      val out = s"$outDir/$name"
      val path = new org.apache.hadoop.fs.Path(out)
      path.getFileSystem(spark.sessionState.newHadoopConf()).delete(path, true)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
}
