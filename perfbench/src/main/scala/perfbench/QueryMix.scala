package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The `query_mix` workload: one closed-loop client runs registered
  * queries (`SparkEntry.queries`; `--queries a,b,c` picks the mix,
  * default all of them) over a generated fixture,
  * consuming each full result — every column of every row, so no
  * projected work can be pruned away — and fingerprints it against the
  * DuckDB oracle's expected fingerprint.
  *
  * {{{
  * java -cp <classpath> perfbench.QueryMix --data <fixture dir> \
  *   --expected <fingerprints.tsv> --work <scratch dir> --seed 1 \
  *   --seconds 10 --trace 0 --out result.json [--queries a,b,c]
  * }}}
  *
  * Set-up (timed as `setup_s`): session start, function install, and a
  * warm pass over every query, which JIT-compiles the code paths and
  * builds every derived index the probe queries serve from (the index
  * census). Then round(`--seconds` / [[PassS]]) full passes (at least
  * [[MinPasses]]) run in a seed-shuffled order. With `--trace 1` a
  * [[QueryCost]] listener records the per-query cost vector instead of
  * the wall-clock summary.
  *
  * `--oracle-sql <file>` only writes `SparkEntry.oracleSql` as JSON and
  * exits (no Spark session). `--dump <dir>` runs each query once and
  * writes its result as parquet (`<dir>/<name>/`) and its fingerprint
  * (`<dir>/fingerprints.tsv`) — the self-test's input.
  */
object QueryMix {
  /** Seconds a pass over the mix takes on a 4-core box: a run makes
    * round(--seconds / PassS) passes. */
  val PassS = 10.0
  /** Passes a timed run makes at least: with the tail rule
    * ([[Stats.pct]]) one pass of the mix is too few samples to read
    * even its median. */
  val MinPasses = 2
  /** Concurrent clients of the set-up warm pass (the timed passes run
    * one client). */
  val WarmThreads = 3

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    a.get("oracle-sql").foreach { path =>
      Json.writeFile(path, Json.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }: _*))
      return
    }
    val dataDir = a("data")
    val workDir = a("work")
    val seconds = a.getOr("seconds", "10").toDouble
    val trace = a.getOr("trace", "0") == "1"
    val dump = a.get("dump")
    val expected = if (dump.isDefined) Map.empty[String, String] else Tsv.read(a("expected"))

    Mem.watch()
    val tSetup = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName("perfbench-query-mix")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.setProperty("graft.index.dir", s"$workDir/index")
    graft.Graft.install(spark)
    val sessionS = (System.nanoTime() - tSetup) / 1e9

    val names = a.get("queries").map(_.split(",").toVector.filter(_.nonEmpty))
      .getOrElse(SparkEntry.queries.keys.toVector).sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registered: ${unknown.mkString(",")}")
    dump.foreach { dir =>
      new java.io.File(dir).mkdirs()
      val fps = names.map { n =>
        val fp = scala.util.Try {
          val df = SparkEntry.queries(n)(spark, dataDir)
          val fp = Fingerprint.of(df.columns.toSeq, df.collect().iterator)
          df.write.parquet(s"$dir/$n")
          fp
        }.getOrElse("error")
        s"$n\t$fp\n"
      }
      Json.writeFile(s"$dir/fingerprints.tsv", fps.mkString)
      spark.stop()
      return
    }
    val missing = names.filterNot(expected.contains)
    require(missing.isEmpty, s"no expected fingerprint for: ${missing.mkString(",")}")

    var failed = 0L
    var attempted = 0L
    val mismatches = scala.collection.mutable.LinkedHashMap.empty[String, String]

    /** One execution: construction, then full consumption. Returns
      * (construct ms, exec ms); a failure or a fingerprint mismatch
      * counts as failed.
      */
    def runOne(name: String, check: Boolean): (Double, Double) = {
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        val t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        if (check) {
          attempted += 1
          val fp = Fingerprint.of(df.columns.toSeq, rows.iterator)
          if (fp != expected(name)) {
            failed += 1
            mismatches.getOrElseUpdate(name, s"got $fp want ${expected(name)}")
          }
        }
        ((t1 - t0) / 1e6, (t2 - t1) / 1e6)
      } catch {
        case e: Throwable =>
          if (check) {
            attempted += 1; failed += 1
            mismatches.getOrElseUpdate(name, s"error: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
          ((System.nanoTime() - t0) / 1e6, 0.0)
      }
    }

    // warm pass = JIT warmup + index census; each query timed so the
    // set-up figure is a median of per-query set-up costs too
    val tWarm = System.nanoTime()
    val warmMs = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmThreads)
      try names.map(n => n -> pool.submit(() => { val (c, e) = runOne(n, check = false); c + e }))
        .map { case (n, f) => n -> f.get() }
      finally pool.shutdown()
    }
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = (System.nanoTime() - tSetup) / 1e9

    // traced runs alternate untraced and traced passes, so the tracing
    // overhead is measured against the same session's untraced passes
    val cost = if (trace) Some(QueryCost.attach(spark)) else None
    val rng = new scala.util.Random(a("seed").toLong)
    val passSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracedSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val execs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lastMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // a fixed pass count per run, so every run measures the same number
    // of executions; traced: untraced, traced, untraced, traced at least,
    // and the overhead compares the later passes of each kind (the first
    // ones are colder)
    val passes = math.max(if (trace) 4 else MinPasses, math.round(seconds / PassS).toInt)
    while (passSecs.size + tracedSecs.size < passes) {
      val traced = cost.filter(_ => passSecs.size > tracedSecs.size)
      val tPass = System.nanoTime()
      rng.shuffle(names).foreach { n =>
        traced.foreach(_.begin(n))
        val (c, e) = runOne(n, check = true)
        traced.foreach(_.end(n, c, e))
        execs += c + e
        lastMs(n) = c + e
      }
      (if (traced.isDefined) tracedSecs else passSecs) += (System.nanoTime() - tPass) / 1e9
    }
    val metrics: Seq[(String, Double, String)] = cost match {
      case None =>
        val measured = passSecs.sum
        Seq(
          ("setup_s", setupS, "s"),
          ("mem.peak_live_mb", Mem.peakMb(), "MB"),
          ("latency.p50_ms", Stats.pct(execs.toSeq, 0.5), "ms"),
          ("latency.p90_ms", Stats.pct(execs.toSeq, 0.9), "ms"),
          ("latency.p99_ms", Stats.pct(execs.toSeq, 0.99), "ms"),
          ("throughput_ops", execs.size / measured, "1/s"),
          ("completion_s", Stats.median(passSecs.toSeq), "s"))
      case Some(c) => Layers.complete(c.metrics(tracedSecs.size,
        Stats.median(tracedSecs.drop(1).toSeq) / Stats.median(passSecs.drop(1).toSeq) - 1.0)
        .map { case (n, v, _) => n -> v }.toMap)
    }
    val info = Json.obj(
      "cost" -> Json.obj(cost.toSeq.flatMap(_.perQuery).map { case (k, v) => k -> Json.str(v) }: _*),
      "session_s" -> Json.num(sessionS), "warm_pass_s" -> Json.num(warmS),
      "passes" -> Json.num((passSecs.size + tracedSecs.size).toDouble),
      "latency_samples" -> Json.num(execs.size.toDouble), "queries" -> Json.num(names.size.toDouble),
      "warm_ms" -> Json.obj(warmMs.sortBy(-_._2).map { case (k, v) => k -> Json.num(v) }: _*),
      "query_ms" -> Json.obj(lastMs.toSeq.sortBy(-_._2).map { case (k, v) => k -> Json.num(v) }: _*),
      "mismatches" -> Json.obj(mismatches.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))
    Result.write(a("out"), correct = failed == 0, attempted, failed, metrics, info)
    spark.stop()
  }
}
