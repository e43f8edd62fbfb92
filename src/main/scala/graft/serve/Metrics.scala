package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.DoubleAdder

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Operational metrics with a Prometheus text-format exposition
  * endpoint — the engine-side equivalent of the reference's
  * `/metrics` surface (cmd/jetstream/metrics.go:7-31 defines the
  * series, cmd/jetstream/main.go:217-221 serves them over HTTP).
  *
  * The registry is a plain thread-safe map of (name, labels) →
  * [[DoubleAdder]]; counters and gauges differ only in the exposition
  * `# TYPE` line and the operations offered. Exposition follows the
  * published text format version 0.0.4 (HELP/TYPE comment lines, label
  * escaping of `\`, `"` and newline) so any Prometheus-compatible
  * scraper can consume it directly.
  *
  * Series parity with the reference (jetstream_* → graft_*):
  *   - `graft_subscribers_connected{remote}`     gauge   (metrics.go:8-11)
  *   - `graft_events_emitted_total`              counter (metrics.go:13-16)
  *   - `graft_bytes_emitted_total`               counter (metrics.go:18-21)
  *   - `graft_events_delivered_total{remote}`    counter (metrics.go:23-26)
  *   - `graft_bytes_delivered_total{remote}`     counter (metrics.go:28-31)
  * [[SocketServe]] increments these at the same points the reference
  * does (emit loop, per-subscriber delivery, connect/disconnect).
  */
object Metrics {

  /** One time series: a named adder the holder mutates lock-free. */
  final class Series private[Metrics] (private[Metrics] val adder: DoubleAdder) {
    def add(v: Double): Unit = adder.add(v)
    def inc(): Unit = adder.add(1d)
    def dec(): Unit = adder.add(-1d)
    /** Gauge-style assignment (single-writer; concurrent add loses). */
    def set(v: Double): Unit = { adder.reset(); adder.add(v) }
    def value: Double = adder.sum()
  }

  private final case class Meta(typ: String, help: String)

  /** A Prometheus histogram: cumulative `_bucket{le=…}` counts plus
    * `_sum`/`_count`, all lock-free adders. Buckets are fixed at first
    * registration (the exposition contract).
    */
  final class Histogram private[Metrics] (private[Metrics] val buckets: Array[Double]) {
    private[Metrics] val counts =
      Array.fill(buckets.length + 1)(new java.util.concurrent.atomic.LongAdder)
    private[Metrics] val sum = new DoubleAdder
    def observe(v: Double): Unit = {
      var i = 0
      while (i < buckets.length && v > buckets(i)) i += 1
      counts(i).increment() // non-cumulative per-bucket; summed at render
      sum.add(v)
    }
  }

  /** The reference's default duration buckets
    * (prometheus.ExponentialBuckets(0.0001, 2, 18), consumer metrics).
    */
  def exponentialBuckets(start: Double, factor: Double, count: Int): Array[Double] =
    Array.iterate(start, count)(_ * factor)

  final class Registry {
    private val series =
      new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, String)]), Series]()
    private val metas =
      new java.util.concurrent.ConcurrentHashMap[String, Meta]()

    private def get(name: String, typ: String, help: String,
        labels: Seq[(String, String)]): Series = {
      metas.putIfAbsent(name, Meta(typ, help))
      series.computeIfAbsent((name, labels.sortBy(_._1)),
        _ => new Series(new DoubleAdder))
    }

    def counter(name: String, help: String, labels: (String, String)*): Series =
      get(name, "counter", help, labels)

    def gauge(name: String, help: String, labels: (String, String)*): Series =
      get(name, "gauge", help, labels)

    private val histograms = new java.util.concurrent.ConcurrentHashMap[
      (String, Seq[(String, String)]), Histogram]()

    def histogram(name: String, help: String, buckets: Array[Double],
        labels: (String, String)*): Histogram = {
      metas.putIfAbsent(name, Meta("histogram", help))
      histograms.computeIfAbsent((name, labels.sortBy(_._1)),
        _ => new Histogram(buckets))
    }

    /** Prometheus text format 0.0.4. Series are rendered grouped by
      * name with HELP/TYPE once per family, families and label sets in
      * sorted order — deterministic output for tests and diffing.
      */
    def render: String = {
      import scala.jdk.CollectionConverters._
      val sb = new StringBuilder
      def families[V](members: java.util.Map[(String, Seq[(String, String)]), V])(
          member: (String, Seq[(String, String)], V) => Unit): Unit =
        members.asScala.toSeq
          .groupBy { case ((name, _), _) => name }.toSeq.sortBy(_._1)
          .foreach { case (name, family) =>
            val meta = metas.get(name)
            sb.append(s"# HELP $name ${escapeHelp(meta.help)}\n")
            sb.append(s"# TYPE $name ${meta.typ}\n")
            family.sortBy { case ((_, labels), _) => labels.toString }
              .foreach { case ((_, labels), v) => member(name, labels, v) }
          }
      families(series) { (name, labels, s) =>
        sb.append(s"$name${renderLabels(labels)} ${format(s.value)}\n")
      }
      families(histograms) { (name, labels, h) =>
        def withLe(le: String) = renderLabels(labels :+ ("le" -> le))
        val base = renderLabels(labels)
        var cum = 0L
        h.buckets.indices.foreach { i =>
          cum += h.counts(i).sum()
          sb.append(s"${name}_bucket${withLe(format(h.buckets(i)))} $cum\n")
        }
        cum += h.counts(h.buckets.length).sum()
        sb.append(s"${name}_bucket${withLe("+Inf")} $cum\n")
        sb.append(s"${name}_sum$base ${format(h.sum.sum())}\n")
        sb.append(s"${name}_count$base $cum\n")
      }
      sb.toString
    }
  }

  /** The process-wide default, promauto-style: callers that don't
    * thread a registry share this one.
    */
  val default: Registry = new Registry

  /** One rendering of a label set — the single place escaping and
    * formatting of labels lives, so series and histogram families
    * cannot drift apart. */
  private def renderLabels(labels: Seq[(String, String)]): String =
    if (labels.isEmpty) ""
    else labels.map { case (k, v) => s"""$k="${escapeLabel(v)}"""" }
      .mkString("{", ",", "}")

  private def escapeHelp(s: String): String =
    s.replace("\\", "\\\\").replace("\n", "\\n")

  private def escapeLabel(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** Integers render without a trailing `.0` (the common-case output
    * of counters), doubles as-is.
    */
  private def format(v: Double): String =
    if (v == math.rint(v) && !v.isInfinite) v.toLong.toString else v.toString

  /** A running exposition endpoint; `close()` releases the port. */
  final class Endpoint private[Metrics] (server: HttpServer) {
    def port: Int = server.getAddress.getPort
    def close(): Unit = server.stop(0)
  }

  /** Serve `registry.render` at `/metrics` on `port` (0 = ephemeral) —
    * the JDK's built-in HTTP server; no framework, one dependency-free
    * endpoint like the reference's metrics listener (main.go:217-276).
    */
  def serve(registry: Registry = default, port: Int = 0): Endpoint = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/metrics", (exchange: HttpExchange) => {
      val body = registry.render.getBytes(StandardCharsets.UTF_8)
      exchange.getResponseHeaders.set(
        "Content-Type", "text/plain; version=0.0.4; charset=utf-8")
      exchange.sendResponseHeaders(200, body.length)
      val out = exchange.getResponseBody
      try out.write(body) finally out.close()
    })
    server.setExecutor(null) // serve on the dispatch thread; scrape-rate traffic
    server.start()
    new Endpoint(server)
  }
}
