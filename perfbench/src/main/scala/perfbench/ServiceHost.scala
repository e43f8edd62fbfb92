package perfbench

import org.apache.spark.sql.SparkSession

import graft.tools.Service

/** The service process of live_fanout: the composed
  * `graft.tools.Service`, in a session configured as `Service.main`
  * configures it.
  *
  * {{{
  * java -cp <classpath> perfbench.ServiceHost --data-dir <dir> \
  *   --ws-url ws://127.0.0.1:<port>/subscribe
  * }}}
  *
  * The maintenance ticker is set past the end of any run, so retention
  * and compaction never fire inside the timed window. Prints
  * `READY <serve port> <metrics port>` when subscribers can connect, and
  * shuts down on `stop` (or end of input), printing
  * `STOPPED <peak live MB> <ok|stale>` ([[Mem]]).
  */
object ServiceHost {

  /** A session configured like `graft.tools.Service.main`'s. */
  def session(appName: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** The service configuration both the timed and the traced run use. */
  def config(wsUrl: String, dataDir: String): Service.Config =
    Service.Config(wsUrl = wsUrl, dataDir = dataDir,
      maintenanceIntervalMs = 6L * 3600 * 1000)

  def main(args: Array[String]): Unit = {
    val a = Args(args)
    Mem.watch()
    val spark = session("perfbench-service")
    spark.sparkContext.setLogLevel("ERROR")
    val stale = new java.util.concurrent.atomic.AtomicBoolean(false)
    val running = Service.start(spark, config(a("ws-url"), a("data-dir")),
      registry = new graft.serve.Metrics.Registry,
      onStale = _ => stale.set(true))
    println(s"READY ${running.servePort} ${running.metricsPort}")
    System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "stop") line = in.readLine()
    val mem = Mem.peakMb()
    running.close()
    spark.stop()
    println(s"STOPPED $mem ${if (stale.get) "stale" else "ok"}")
    System.out.flush()
    sys.exit(0)
  }
}
