package graft

import java.lang.management.ManagementFactory
import java.net.{ServerSocket, URI}
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.CompletionStage

import org.apache.spark.sql.SparkSession

import graft.ext.Ann
import graft.serve.Metrics
import graft.store.EventsTable
import graft.tools.Service

/** Operational soak of the COMPOSED service — the validation posture
  * the reference exercises in production (Prometheus + Grafana +
  * self-kill, cmd/jetstream/main.go:184-214, grafana-dashboard.json)
  * and that per-piece specs cannot: `tools.Service` runs for minutes
  * under a sustained synthetic firehose while retention and compaction
  * fire mid-run, with real WebSocket subscribers measuring end-to-end
  * ingest→delivery latency.
  *
  * Usage: `runMain graft.Soak [minutes] [eventsPerSec]
  * [ingestTriggerMs] [multi] [manifest] [batch]` — defaults 10 minutes
  * at 10k ev/s with the service's ingest trigger
  * (`Service.Config.ingestTriggerMs`); the trailing words switch on
  * two serving edges, manifest commits and 64-event frames. Fewer than
  * [[MinMinutes]] minutes (or a malformed number) prints the usage line
  * and exits 2 before any Spark session starts.
  *
  * What a PASS asserts:
  *   - sustained ingest at the target rate (≥ 95% of generated events
  *     persisted);
  *   - a from-start subscriber receives the seeded history AND every
  *     live event exactly once, in order — across a TTL retention trim
  *     and a closed-hour compaction that both fire mid-soak;
  *   - a LATE subscriber (joins after retention+compaction) replays the
  *     surviving history exactly once, in order, and tails live;
  *   - fd / thread counts stable (last-quarter max ≤ first-quarter max
  *     × 1.25 + 16) — the socket/executor leak check;
  *   - the staleness self-kill hook NEVER fires while the upstream is
  *     healthy;
  *   - p50/p99 ingest→delivery latency reported (generation wall-clock
  *     stamped inside each record, measured at the subscriber).
  */
object Soak {

  /** One raw firehose commit frame; `sw` = generation wall µs (the
    * latency epoch measured at the subscriber), `n` = global sequence
    * (loss/duplicate checks and seed/live discrimination).
    */
  private def mkFrame(n: Long, timeUs: Long, swUs: Long): String = {
    val iso = java.time.Instant
      .ofEpochSecond(timeUs / 1000000L, (timeUs % 1000000L) * 1000L).toString
    s"""{"t":"#commit","did":"did:plc:s${n % 997}","rev":"r$n","seq":$n,""" +
      s""""time":"$iso","tooBig":false,"ops":[{"action":"create",""" +
      s""""path":"app.graft.doc/k$n","cid":"c$n","recordCid":"c$n",""" +
      s""""record":{"sw":$swUs,"n":$n}}]}"""
  }

  /** Seed a historical hour DIRECTLY into the events table through the
    * SAME batch pipeline the live ingest runs (parse → decode →
    * sequencer stamp → append), with the sequencer clock injected to
    * the historical hour — the production shape of a service
    * RESTARTED over an aged table. (The live pipe cannot write old
    * hours: the sequencer stamps time_us at ingest wall time, exactly
    * like the reference's monotonic clock.)
    */
  private def seedHour(spark: SparkSession, tablePath: String,
      frames: Seq[String], stampBaseUs: Long, prevMaxUs: Long,
      manifestMode: Boolean = false): Long = {
    import spark.implicits._
    import graft.ingest.{Decode, Sequencer}
    val decoded = Decode.decodeFrames(Decode.parseMixedFrames(frames.toDF("value")))
    val seq = Sequencer.stamp(decoded, Seq("event_time_us", "did", "type"),
      prevMaxUs, nowUs = () => stampBaseUs)
    if (manifestMode) EventsTable.appendManifested(seq.df, tablePath)
    else EventsTable.append(seq.df, tablePath)
    seq.maxTimeUs
  }

  /** Ring-buffered RFC 6455 upstream that GENERATES the firehose: one
    * wire frame per event at `ratePerSec`, `time` = real wall clock
    * (strictly increasing µs), the generation timestamp embedded in
    * the record (`sw`) for the subscriber-side latency measurement.
    * Connections replay the ring from their `cursor`, then follow the
    * head — the reference relay's subscribe shape.
    */
  private final class SyntheticFirehose(ratePerSec: Int, startSeq: Long) {
    private val cap = 1 << 21 // ~2M events: minutes of slack at 10k/s
    private val buf = new Array[(Long, String)](cap)
    @volatile private var head = 0L
    @volatile private var closed = false
    @volatile var generated = 0L
    private var seq = startSeq

    private def append(timeUs: Long, frame: String): Unit = {
      buf((head % cap).toInt) = (timeUs, frame)
      head += 1 // single writer; volatile write publishes the slot
      generated += 1
    }

    /** Generate live events at `ratePerSec` until `stop` flips. */
    def generate(stop: () => Boolean): Unit = {
      val tickMs = 20L
      val perTick = math.max(1, ratePerSec / (1000 / tickMs).toInt)
      var prevT = 0L
      while (!stop() && !closed) {
        val t0 = System.currentTimeMillis()
        val nowUs = t0 * 1000L
        var i = 0
        while (i < perTick) {
          prevT = math.max(prevT + 1, nowUs) // strictly increasing µs
          append(prevT, mkFrame(seq, prevT, System.currentTimeMillis() * 1000L))
          seq += 1
          i += 1
        }
        val spent = System.currentTimeMillis() - t0
        if (spent < tickMs) Thread.sleep(tickMs - spent)
      }
    }

    private val server = new ServerSocket(0)
    def port: Int = server.getLocalPort

    private val acceptor = new Thread(() => {
      try while (!closed) {
        val sock = server.accept()
        val conn = new Thread(() => {
          try {
            val in = sock.getInputStream
            val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
            val req = new StringBuilder
            def done = req.length >= 4 && req.substring(req.length - 4) == "\r\n\r\n"
            var eof = false
            while (!eof && !done) {
              val b = in.read()
              if (b == -1) eof = true else req.append(b.toChar)
            }
            val lines = req.toString.split("\r\n")
            val cursor = """cursor=(\d+)""".r.findFirstMatchIn(lines.head)
              .map(_.group(1).toLong).getOrElse(0L)
            val key = lines.find(_.toLowerCase.startsWith("sec-websocket-key:"))
              .map(_.split(":", 2)(1).trim).getOrElse("")
            val accept = java.util.Base64.getEncoder.encodeToString(
              java.security.MessageDigest.getInstance("SHA-1").digest(
                (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes("US-ASCII")))
            out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
              "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
              s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes("US-ASCII"))
            out.flush()
            val drainer = new Thread(() =>
              try { while (in.read() != -1) () } catch { case _: Throwable => () })
            drainer.setDaemon(true); drainer.start()
            def sendText(s: String): Unit = {
              val p = s.getBytes("UTF-8")
              out.write(0x81) // FIN + TEXT
              if (p.length < 126) out.write(p.length)
              else { out.write(126); out.write(p.length >> 8); out.write(p.length & 0xff) }
              out.write(p)
            }
            // replay the ring past the cursor, then follow the head
            var idx = math.max(head - cap, 0L)
            while (!closed) {
              val h = head
              if (idx < h) {
                if (h - idx > cap)
                  throw new IllegalStateException("connection fell a full ring behind")
                val (t, f) = buf((idx % cap).toInt)
                if (t > cursor) sendText(f)
                idx += 1
                if (idx % 64 == 0 || idx == head) out.flush()
              } else { out.flush(); Thread.sleep(2) }
            }
          } catch { case _: Throwable => () }
          finally sock.close()
        })
        conn.setDaemon(true)
        conn.start()
      } catch { case _: Throwable => () }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    def close(): Unit = { closed = true; server.close() }
  }

  /** A JDK WebSocket subscriber: per frame, records (n, time_us,
    * latency, generation wall) — latency = receive wall − embedded
    * generation wall. Stores primitives only; 6M events ≈ 130 MB.
    */
  private final class Subscriber(url: String) {
    private val swRe = """sw\\?"\s*:\s*(\d+)""".r
    private val nRe = """"n\\?"\s*:\s*(\d+)""".r // inside the escaped record
    private val tRe = """"time_us":(\d+)""".r
    private val lock = new Object
    private var ns = new Array[Long](1 << 20)
    private var ts = new Array[Long](1 << 20)
    private var lats = new Array[Long](1 << 20)
    private var gens = new Array[Long](1 << 20)
    private var count = 0
    @volatile var parseFailures = 0L

    private def add(n: Long, t: Long, lat: Long, gen: Long): Unit = lock.synchronized {
      if (count == ns.length) {
        ns = java.util.Arrays.copyOf(ns, count * 2)
        ts = java.util.Arrays.copyOf(ts, count * 2)
        lats = java.util.Arrays.copyOf(lats, count * 2)
        gens = java.util.Arrays.copyOf(gens, count * 2)
      }
      ns(count) = n; ts(count) = t; lats(count) = lat; gens(count) = gen; count += 1
    }

    private val partial = new StringBuilder
    val ws: WebSocket = HttpClient.newHttpClient().newWebSocketBuilder()
      .buildAsync(URI.create(url), new WebSocket.Listener {
        override def onText(w: WebSocket, data: CharSequence, last: Boolean)
            : CompletionStage[_] = {
          partial.append(data)
          if (last) {
            val msg = partial.toString; partial.setLength(0)
            val nowUs = System.currentTimeMillis() * 1000L
            // frameBatch messages carry n line-delimited events; the
            // default wire is one per message (events have no raw
            // newlines, so the split is a no-op there)
            msg.split("\n").withFilter(_.nonEmpty).foreach { line =>
              (for {
                n <- nRe.findFirstMatchIn(line)
                t <- tRe.findFirstMatchIn(line)
                sw <- swRe.findFirstMatchIn(line)
              } yield add(n.group(1).toLong, t.group(1).toLong,
                nowUs - sw.group(1).toLong, sw.group(1).toLong)) getOrElse { parseFailures += 1 }
            }
          }
          w.request(1)
          null
        }
      }).join()

    def size: Int = lock.synchronized(count)
    /** (ns, time_us, latencies) snapshot, receive order. */
    def snapshot(): (Array[Long], Array[Long], Array[Long]) = lock.synchronized {
      (java.util.Arrays.copyOf(ns, count), java.util.Arrays.copyOf(ts, count),
        java.util.Arrays.copyOf(lats, count))
    }
    /** The generation wall µs of each event, receive order. */
    def generatedUs(): Array[Long] = lock.synchronized(java.util.Arrays.copyOf(gens, count))
    def close(): Unit = try ws.abort() catch { case _: Throwable => () }
  }

  /** Thread census: live thread names bucketed by prefix (digit runs
    * collapsed to `#`), descending — names every pool behind the
    * settled thread count (VERDICT r11 #5).
    */
  private def threadCensus(): Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .map(t => t.getName.replaceAll("[0-9]+", "#"))
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (n, c) => (-c, n) }
  }

  private def printCensus(tag: String): Unit = {
    val census = threadCensus()
    println(s"[soak] thread census ($tag): ${census.map(_._2).sum} threads " +
      s"in ${census.size} pools")
    census.take(30).foreach { case (n, c) => println(f"[soak]   $c%5d  $n") }
  }

  private def pct(sorted: Array[Long], q: Double): Long =
    if (sorted.isEmpty) 0L
    else sorted(math.min(sorted.length - 1, (q * sorted.length).toInt))

  /** The soak's schedule: maintenance (retention + compaction) first
    * fires at +MaintenanceMs, the late subscriber joins and the
    * retention check starts after +LateJoinS, and the loop looks every
    * TickMs.
    */
  private val MaintenanceMs = 120000L
  private val LateJoinS = 150L
  private val TickMs = 15000L

  /** The shortest soak whose checks all run: one tick past the late
    * join. A shorter one always ends FAIL, whatever the code does.
    */
  val MinMinutes: Int = math.ceil((LateJoinS * 1000 + TickMs) / 60000.0).toInt

  private[graft] final case class Settings(minutes: Int, ratePerSec: Int,
      ingestTriggerMs: Long, multiEdge: Boolean, manifestMode: Boolean, frameBatch: Int)

  private[graft] val Usage = s"usage: Soak [minutes >= $MinMinutes] [eventsPerSec] " +
    "[ingestTriggerMs] [multi] [manifest] [batch]"

  /** The command line, or the usage line when it cannot run a soak. */
  private[graft] def parseArgs(args: Array[String]): Either[String, Settings] =
    scala.util.Try {
      val words = args.drop(3)
      Settings(
        minutes = args.lift(0).map(_.toInt).getOrElse(10),
        ratePerSec = args.lift(1).map(_.toInt).getOrElse(10000),
        ingestTriggerMs = args.lift(2).map(_.toLong)
          .getOrElse(Service.Config(wsUrl = "").ingestTriggerMs),
        multiEdge = words.contains("multi"),
        manifestMode = words.contains("manifest"),
        frameBatch = if (words.contains("batch")) 64 else 1)
    }.toOption.filter(_.minutes >= MinMinutes).toRight(Usage)

  def main(args: Array[String]): Unit = {
    val settings = parseArgs(args).fold(
      usage => { System.err.println(usage); sys.exit(2) }, identity)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // FAIR scheduling keeps the replay scans' pool from starving
      // behind live micro-batch jobs
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.HourBounds
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, settings.minutes, settings.ratePerSec, settings.ingestTriggerMs,
      settings.multiEdge, settings.manifestMode, settings.frameBatch)
    finally spark.stop()
  }

  private def run(spark: SparkSession, minutes: Int, ratePerSec: Int,
      ingestTriggerMs: Long, multiEdge: Boolean,
      manifestMode: Boolean, frameBatch: Int): Unit = {
    val durMs = minutes * 60000L
    println(s"[soak] ${minutes}m at $ratePerSec ev/s, local[${spark.sparkContext.defaultParallelism}]" +
      s", trigger=${ingestTriggerMs}ms" + (if (multiEdge) ", MULTI-EDGE" else "") +
      (if (manifestMode) ", MANIFEST-COMMITS" else "") +
      (if (frameBatch > 1) s", frameBatch=$frameBatch" else ""))
    // subscriber URL suffix: the frameBatch wire extension (n events
    // per WS frame, line-delimited; Subscriber splits)
    val fbArg = if (frameBatch > 1) s"&frameBatch=$frameBatch" else ""
    val dataDir = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val tablePath = s"$dataDir/events"

    // seed two historical hours through the same batch pipeline the
    // live ingest runs, sequencer clock injected: H-3 (beyond the 2 h
    // TTL → retention trims it mid-soak) and H-1 (closed → compaction
    // rewrites it mid-soak). This is the shape of a service restarted
    // over an aged table — stored-cursor resume included.
    val nowUs = System.currentTimeMillis() * 1000L
    val hourUs = 3600L * 1000000L
    val seedPerHour = 50000
    val swSeed = nowUs
    val h3Base = (nowUs - 3 * hourUs) / hourUs * hourUs + hourUs / 4 // mid-hour
    val h1Base = (nowUs - 1 * hourUs) / hourUs * hourUs + hourUs / 4
    val h3Max = seedHour(spark, tablePath,
      (0 until seedPerHour).map(i => mkFrame(i, h3Base + i, swSeed)), h3Base, 0L,
      manifestMode)
    // H-1 lands as FIVE separate appends: compactHour no-ops on an
    // already-compact hour (files ≤ ceil(bytes/target)), so the
    // compaction-fired assertion below needs a genuinely fragmented
    // hour to compact
    var h1Prev = h3Max
    val h1Chunk = seedPerHour / 5
    (0 until 5).foreach { k =>
      val lo = seedPerHour + k * h1Chunk
      h1Prev = seedHour(spark, tablePath,
        (lo until lo + h1Chunk).map(i => mkFrame(i, h1Base + i, swSeed)),
        h1Base + k, h1Prev, manifestMode)
    }
    val seedCount = 2L * seedPerHour
    val h3Hour = h3Base / hourUs
    val h1Hour = h1Base / hourUs
    println(s"[soak] seeded $seedCount events into stamped hours " +
      s"$h3Hour (TTL target) and ${h1Base / hourUs} (compaction target)")

    // the firehose + generator come up BEFORE the service so the
    // ingest's very first micro-batches carry live traffic (its
    // watchdog arms at boot on a resumed table); the ring holds the
    // boot window, nothing is lost
    val fire = new SyntheticFirehose(ratePerSec, startSeq = seedCount)
    @volatile var stopGen = false
    val gen = new Thread(() => fire.generate(() => stopGen))
    gen.setDaemon(true)
    gen.start()

    // --- registered index refreshers (VERDICT r14 #7): the standing
    // service keeps a positional index and an IVF-PQ index fresh over a
    // corpus DERIVED FROM THE EVENTS TABLE, exactly as a deployment
    // would. Part 0 is derived from the seed now; part 1 is derived
    // from LIVE-ingested events mid-run, and the soak asserts a
    // post-append probe sees the new docs without any caller-side
    // ensure — the aging-index hazard the refreshers exist to close.
    val corpusDir = s"$dataDir/corpus"
    import org.apache.spark.sql.functions._
    /** events rows → (doc_id, text, vec_id, embedding): text from the
      * wire fields, a deterministic 16-dim hash embedding — the derived
      * corpus shape, no external data.
      */
    def deriveDocs(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      rows.select(
        col("time_us").as("doc_id"),
        // the persisted log holds the WIRE schema: collection/rkey are
        // nested under commit (null for non-commit events — concat_ws
        // skips nulls)
        concat_ws(" ", col("did"), col("commit.collection"), col("commit.rkey")).as("text"),
        col("time_us").as("vec_id"),
        transform(sequence(lit(0), lit(15)),
          i => pmod(xxhash64(col("did"), col("time_us"), i), lit(1000L)) / 1000.0)
          .as("embedding"))
    deriveDocs(EventsTable.read(spark, tablePath).limit(2000))
      .write.parquet(s"$corpusDir/part=0")
    // frozen ANN learners, learned once on part 0 (the standard
    // maintenance trade: appended hours are assigned, not re-learned)
    val part0 = spark.read.parquet(s"$corpusDir/part=0")
    val soakCents = graft.ext.Similarity.kmeansCentroids(part0, "vec_id", "embedding", 4, 2)
    val soakCbs = graft.ext.Similarity.pqCodebooksOf(
      graft.ext.Similarity.withCellLabels(part0, "vec_id", "embedding", soakCents),
      "vec_id", graft.ext.Similarity.toDoubleArr(col("embedding")),
      dim = 16, m = 4, ksub = 8)
    // round 15: the SQ8/BQ rungs refresh on the same ticker — every
    // persisted index family the engine ships ages with the corpus
    val soakSq8 = graft.ext.Similarity.sq8Params(part0, "vec_id", "embedding", dim = 16)
    val soakBqThr = graft.ext.Similarity.bqThresholds(part0, "vec_id", "embedding", dim = 16)
    // round 17: the OPQ rung — frozen rotation + rotated-space
    // codebooks, learned once on part 0 like every other learner
    val soakOpqRot = graft.ext.Similarity.learnOpqRotation(
      part0, "vec_id", "embedding", dim = 16, m = 4, ksub = 8, pqIters = 2, opqIters = 1)
    val soakOpqCbs = graft.ext.Similarity.pqCodebooksOf(part0, "vec_id",
      graft.ext.Similarity.rotateExpr(col("embedding"), soakOpqRot),
      dim = 16, m = 4, ksub = 8, iters = 2)
    // round 18: the composed IVF-OPQ family — rotated-space coarse
    // cells over the same frozen rotation + rotated codebooks
    val soakIvfOpqCents = graft.ext.Similarity.kmeansCentroids(
      part0.withColumn("__rv",
        graft.ext.Similarity.rotateExpr(col("embedding"), soakOpqRot)),
      "vec_id", "__rv", 4, 2)
    val lastPosPath = new java.util.concurrent.atomic.AtomicReference[String]
    val lastIvfPath = new java.util.concurrent.atomic.AtomicReference[String]
    val lastSq8Path = new java.util.concurrent.atomic.AtomicReference[String]
    val lastBqPath = new java.util.concurrent.atomic.AtomicReference[String]
    val lastIvfBqPath = new java.util.concurrent.atomic.AtomicReference[String]
    val lastOpqPath = new java.util.concurrent.atomic.AtomicReference[String]
    val lastIvfOpqPath = new java.util.concurrent.atomic.AtomicReference[String]
    val refreshTicks = new java.util.concurrent.atomic.AtomicInteger

    val staleFired = new java.util.concurrent.atomic.AtomicInteger
    val registry = new Metrics.Registry
    val running = Service.start(spark,
      Service.Config(
        wsUrl = s"ws://localhost:${fire.port}/subscribe",
        dataDir = dataDir,
        eventTtlHours = 2.0,
        maxSubRate = 1e9, // the soak measures the pipeline, not the cap
        maintenanceIntervalMs = MaintenanceMs, // retention+compaction at +2m, +4m, …
        staleAfterMs = 15000L,
        compactionGraceMs = 0L,
        ingestTriggerMs = ingestTriggerMs,
        manifestCommits = manifestMode,
        indexRefreshers = Seq(
          Service.IndexRefresh("soak-positional", { s =>
            val p = graft.ext.Retrieval.ensureIncrementalPositionalIndex(
              s, "soakpos", corpusDir, "doc_id", "text")
            lastPosPath.set(p); refreshTicks.incrementAndGet(); p
          }),
          Service.IndexRefresh("soak-ivfpq", { s =>
            val p = Ann.ensureIncremental(s, "soakivfpq", corpusDir, "vec_id",
              "embedding", Ann.PqCodec(soakCbs), Ann.Ivf(centroids = soakCents))
            lastIvfPath.set(p); p
          }),
          Service.IndexRefresh("soak-sq8", { s =>
            val p = Ann.ensureIncremental(s, "soaksq8", corpusDir, "vec_id",
              "embedding", Ann.Sq8Codec(soakSq8), Ann.Flat())
            lastSq8Path.set(p); p
          }),
          Service.IndexRefresh("soak-bq", { s =>
            val p = Ann.ensureIncremental(s, "soakbq", corpusDir, "vec_id",
              "embedding", Ann.BqCodec(soakBqThr), Ann.Flat())
            lastBqPath.set(p); p
          }),
          // round 16: the composed IVF-BQ family ages with the corpus
          // on the same ticker (frozen coarse quantizer + frozen
          // thresholds, like every other maintenance refresher)
          Service.IndexRefresh("soak-ivfbq", { s =>
            val p = Ann.ensureIncremental(s, "soakivfbq", corpusDir, "vec_id",
              "embedding", Ann.BqCodec(soakBqThr), Ann.Ivf(centroids = soakCents))
            lastIvfBqPath.set(p); p
          }),
          // round 17: the OPQ family ages with the corpus on the same
          // ticker (frozen rotation + codebooks; appended parts encode
          // against them, like every other maintenance refresher)
          Service.IndexRefresh("soak-opq", { s =>
            val p = Ann.ensureIncremental(s, "soakopq", corpusDir, "vec_id",
              "embedding", Ann.PqCodec(soakOpqCbs, Some(soakOpqRot)), Ann.Flat())
            lastOpqPath.set(p); p
          }),
          // round 18: the composed IVF-OPQ family ages on the same
          // ticker (frozen rotation + rotated-space coarse quantizer +
          // rotated codebooks)
          Service.IndexRefresh("soak-ivfopq", { s =>
            val p = Ann.ensureIncremental(s, "soakivfopq", corpusDir, "vec_id",
              "embedding", Ann.PqCodec(soakOpqCbs, Some(soakOpqRot)),
              Ann.Ivf(centroids = soakIvfOpqCents))
            lastIvfOpqPath.set(p); p
          })),
        indexJanitor = true),
      registry = registry,
      onStale = _ => staleFired.incrementAndGet())

    val subA = new Subscriber(s"ws://localhost:${running.servePort}/subscribe?cursor=0$fbArg")
    // the live-latency windows' bounds, in wall ms: subscriber A's
    // cutover (the main edge holds A alone and none replays), the late
    // subscriber's join, and its cutover (both held, none replays),
    // sampled every 50 ms
    @volatile var aCutoverMs, bJoinMs, bCutoverMs = -1L
    val cutovers = new Thread(() =>
      try while (bCutoverMs < 0) {
        val srv = running.server
        val now = System.currentTimeMillis()
        if (aCutoverMs < 0 && srv.subscriberCount >= 1 && srv.replayingCount == 0) aCutoverMs = now
        if (bJoinMs > 0 && srv.subscriberCount >= 2 && srv.replayingCount == 0) bCutoverMs = now
        Thread.sleep(50)
      } catch { case _: InterruptedException => () })
    cutovers.setDaemon(true)
    cutovers.start()

    // MULTI-EDGE posture (VERDICT r11 #6): a second independent serve
    // edge over the SAME table — own writer pool, own registry — killed
    // mid-soak and later restarted. The survivor edge's subscriber
    // (subA) must be bit-for-bit undisturbed; the restarted edge's late
    // subscriber must replay the surviving history exactly-once and
    // tail live, like any late joiner.
    def startEdge(tag: String): graft.serve.SocketServe.Server =
      graft.serve.SocketServe.start(spark, tablePath,
        metrics = new Metrics.Registry, maxSubRate = Some(1e9),
        replayChunkSize = 50000,
        replayThrottle = Some(new graft.serve.ReplayThrottle()))
    var edge2: graft.serve.SocketServe.Server = if (multiEdge) startEdge("edge2") else null
    var subC: Subscriber =
      if (multiEdge) new Subscriber(s"ws://localhost:${edge2.port}/subscribe?cursor=0$fbArg")
      else null
    var edge2Killed = false
    var subCAtKill: (Array[Long], Array[Long], Array[Long]) = null
    var edge3: graft.serve.SocketServe.Server = null
    var subD: Subscriber = null
    var subDJoinSeq = Long.MaxValue

    // health samples: (wall, fds, threads, heapUsed)
    val health = scala.collection.mutable.ListBuffer.empty[(Long, Int, Int, Long)]
    def sampleHealth(): Unit = {
      val fds = Option(new java.io.File("/proc/self/fd").list()).map(_.length).getOrElse(-1)
      val threads = ManagementFactory.getThreadMXBean.getThreadCount
      val heap = Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
      health += ((System.currentTimeMillis(), fds, threads, heap))
    }

    val t0 = System.currentTimeMillis()
    var subB: Subscriber = null
    var subBJoinedAt = -1L
    var subBCaughtAt = -1L
    var staleAtGenEnd = -1
    var maintenanceSeen = false
    // mid-run corpus growth: a live-derived part + a marker doc whose
    // post-refresh visibility is the aging-index verdict
    val MarkerId = 999999999L
    var corpusAppended = false
    var ticksAtAppend = Int.MaxValue
    var indexVerified = false
    while (System.currentTimeMillis() - t0 < durMs) {
      Thread.sleep(TickMs)
      sampleHealth()
      val elapsed = (System.currentTimeMillis() - t0) / 1000
      val h = health.last
      println(f"[soak] +${elapsed}s gen=${fire.generated} subA=${subA.size} " +
        f"subB=${if (subB == null) -1 else subB.size} " +
        f"fds=${h._2} threads=${h._3} heapMB=${h._4 / 1048576} " +
        f"ticks=${refreshTicks.get()}")
      // the late subscriber joins AFTER at least one maintenance pass
      // (retention trim + compaction behind it): never before the
      // ticker's first 120 s fire, whatever the soak duration. Capped
      // at 240 s: catch-up DURING generation needs replay ≈
      // backlog/window + live_rate, and a 60%-of-the-run join makes
      // that bar grow with soak length for no extra signal (the
      // measured fair-pool replay rate is ~28k ev/s against a 12k
      // live stream; a 240 s join at 8 min needs ~24k)
      if (subB == null && elapsed >= math.max(LateJoinS, math.min(240, durMs / 1000 * 6 / 10))) {
        bJoinMs = System.currentTimeMillis()
        subB = new Subscriber(s"ws://localhost:${running.servePort}/subscribe?cursor=0$fbArg")
        subBJoinedAt = elapsed
      }
      // contended-replay convergence (VERDICT r15 #6): the late joiner
      // must catch up WHILE generation runs, not in the post-gen drain.
      // "Caught up" = its position matches the FROM-START subscriber's
      // within ~1 s of events (subA carries both seed hours, subB only
      // the retention survivor — hence the seedPerHour offset; measuring
      // against subA nets out the shared in-flight delivery lag, which
      // at 12k ev/s is several seconds for BOTH subscribers).
      if (subB != null && subBCaughtAt < 0 &&
          subB.size + seedPerHour >= subA.size - ratePerSec) {
        subBCaughtAt = elapsed
        println(f"[soak] late subscriber CAUGHT UP at +${elapsed}s " +
          f"(joined +${subBJoinedAt}s, ${subB.size} events, replay window " +
          f"${elapsed - subBJoinedAt}s against live at $ratePerSec ev/s)")
      }
      // multi-edge lifecycle: kill edge2 at ~35%, restart at ~55% with a
      // fresh checkpoint + late subscriber
      if (multiEdge && !edge2Killed && elapsed >= durMs / 1000 * 35 / 100) {
        subCAtKill = subC.snapshot()
        edge2.close(); subC.close(); edge2Killed = true
        println(s"[soak] edge2 KILLED at +${elapsed}s " +
          s"(its subscriber had ${subCAtKill._1.length} events)")
      }
      if (multiEdge && edge2Killed && edge3 == null &&
          elapsed >= math.max(durMs / 1000 * 55 / 100, 160)) {
        edge3 = startEdge("edge3")
        subD = new Subscriber(s"ws://localhost:${edge3.port}/subscribe?cursor=0$fbArg")
        subDJoinSeq = seedCount + fire.generated // events after this are subD's live tail
        println(s"[soak] edge3 (restarted edge) up at +${elapsed}s, late subscriber attached")
      }
      if (!maintenanceSeen && elapsed > LateJoinS) {
        // retention should have dropped hour H-3 by now
        val hours = Option(new java.io.File(tablePath).list()).getOrElse(Array.empty)
          .filter(_.startsWith(s"${EventsTable.PartitionCol}=")).sorted
        maintenanceSeen = hours.length > 0 &&
          !hours.contains(s"${EventsTable.PartitionCol}=$h3Hour")
      }
      // corpus part 1 lands once maintenance has proven live (so the
      // refreshers have run at least once over part 0): live-ingested
      // events plus the marker doc
      if (!corpusAppended && maintenanceSeen && refreshTicks.get() >= 1) {
        try {
          val live = deriveDocs(EventsTable.read(spark, tablePath)
            .filter(col("time_us") > h1Prev).limit(1000))
          // marker embedding: IN the corpus value range [0,1) — PQ codes
          // cannot represent an out-of-distribution magnitude, so an
          // all-100s marker would be crushed by its own stored norm at
          // the ADC stage and never reach the rerank — but in a
          // DIRECTION no hash-uniform vector takes (alternating
          // high/low), so the exact rerank puts it at cos = 1.0 top-1
          val marker = spark.range(1).select(
            lit(MarkerId).as("doc_id"),
            lit("soakzebra soakquagga").as("text"),
            lit(MarkerId).as("vec_id"),
            array((0 until 16).map(i =>
              lit(if (i % 2 == 0) 0.95 else 0.05)): _*).as("embedding"))
          live.unionByName(marker).write.parquet(s"$corpusDir/part=1")
          corpusAppended = true
          ticksAtAppend = refreshTicks.get()
          println(s"[soak] corpus part=1 appended at +${elapsed}s " +
            s"(refresh ticks so far: $ticksAtAppend)")
        } catch { case e: Throwable =>
          println(s"[soak] corpus append failed (will retry): $e")
        }
      }
      // after a refresh tick has run OVER the appended part, the probes
      // must see the marker — retried each loop pass until they do (a
      // tick racing the part write fingerprints a partial dir and the
      // NEXT tick self-heals; see IndexStore.ensureIncremental)
      if (corpusAppended && !indexVerified && refreshTicks.get() > ticksAtAppend) {
        try {
          val posIds = graft.ext.Retrieval.phraseProbe(spark, lastPosPath.get(),
            "doc_id", Seq("soakzebra", "soakquagga"))
            .select("doc_id").collect().map(_.getLong(0)).toSet
          val q = (0 until 16).map(i => if (i % 2 == 0) 0.95 else 0.05)
          // generous rerank: this probe verifies FRESHNESS (the marker
          // entered the index), not ADC ranking resolution — at 50 the
          // marker's post-quantization edge sinks below the crowd's
          // upper tail once the probed cells hold ~1500 rows (measured:
          // repro-scale pass, soak-scale miss); the exact rerank then
          // puts it at cos = 1.0 top-1 whenever it reaches the
          // candidate set
          val ivfIds = Ann.probe(spark, lastIvfPath.get(), Ann.Ivf(nprobe = 4),
            "vec_id", "embedding", q, k = 5, rerank = 2000)
            .collect().map(_.getLong(0)).toSet
          // SQ8/BQ freshness: same marker, exact-rerank probes over the
          // refreshed code tables (the corpus read supplies the rerank
          // vectors; same generous rerank as the IVF probe)
          val corpusAll = spark.read.parquet(corpusDir)
            .select(col("vec_id"), col("embedding"))
          val sq8Ids = Ann.probe(spark, lastSq8Path.get(), Ann.Flat(corpusAll),
            "vec_id", "embedding", q, k = 5, rerank = 2000)
            .collect().map(_.getLong(0)).toSet
          val bqIds = Ann.probe(spark, lastBqPath.get(), Ann.Flat(corpusAll),
            "vec_id", "embedding", q, k = 5, rerank = 2000)
            .collect().map(_.getLong(0)).toSet
          val ivfBqIds = Ann.probe(spark, lastIvfBqPath.get(), Ann.Ivf(nprobe = 4),
            "vec_id", "embedding", q, k = 5, rerank = 2000)
            .collect().map(_.getLong(0)).toSet
          val opqIds = Ann.probe(spark, lastOpqPath.get(), Ann.Flat(corpusAll),
            "vec_id", "embedding", q, k = 5, rerank = 2000)
            .collect().map(_.getLong(0)).toSet
          val ivfOpqIds = Ann.probe(spark, lastIvfOpqPath.get(), Ann.Ivf(nprobe = 4),
            "vec_id", "embedding", q, k = 5, rerank = 2000)
            .collect().map(_.getLong(0)).toSet
          if (posIds.contains(MarkerId) && ivfIds.contains(MarkerId) &&
              sq8Ids.contains(MarkerId) && bqIds.contains(MarkerId) &&
              ivfBqIds.contains(MarkerId) && opqIds.contains(MarkerId) &&
              ivfOpqIds.contains(MarkerId)) {
            indexVerified = true
            println(s"[soak] index refresh verified at +${elapsed}s: all seven " +
              "probes (positional/IVF-PQ/SQ8/BQ/IVF-BQ/OPQ/IVF-OPQ) see the mid-run marker doc")
          } else
            println(s"[soak] index probe miss at +${elapsed}s: " +
              s"pos=${posIds.contains(MarkerId)}(${posIds.size}) " +
              s"ivf=${ivfIds.contains(MarkerId)}(${ivfIds.size}) " +
              s"sq8=${sq8Ids.contains(MarkerId)} bq=${bqIds.contains(MarkerId)} " +
              s"ivfbq=${ivfBqIds.contains(MarkerId)} opq=${opqIds.contains(MarkerId)} " +
              s"ivfopq=${ivfOpqIds.contains(MarkerId)} " +
              s"posPath=${lastPosPath.get()} ivfPath=${lastIvfPath.get()}")
        } catch { case e: Throwable =>
          println(s"[soak] index probe failed (will retry): $e")
        }
      }
    }
    // final catch-up sample at the generation boundary: convergence is
    // otherwise only observable at 15 s loop ticks, and a joiner that
    // closes the gap between the last tick and generation end would be
    // recorded as never-caught-up (a spurious verdict failure)
    if (subB != null && subBCaughtAt < 0 &&
        subB.size + seedPerHour >= subA.size - ratePerSec) {
      subBCaughtAt = durMs / 1000
      println(s"[soak] late subscriber CAUGHT UP at generation end " +
        s"(final boundary sample; joined +${subBJoinedAt}s)")
    }
    staleAtGenEnd = staleFired.get()
    stopGen = true
    // join before reading the count: the generator may be mid-burst
    // when the flag flips, and those last appends must be in
    // `generated` before the exact-count verdicts read it
    gen.join(10000)
    val generatedLive = fire.generated
    println(s"[soak] generation stopped: $generatedLive live events")

    // drain: BOTH subscribers' in-flight tails settle. The late
    // subscriber may still be mid-replay when generation stops (its
    // catch-up margin over a 10k ev/s live stream is a few kev/s, so a
    // short soak leaves it a backlog) — once live stops, replay runs
    // at full rate and finishes; wait for it. THREE consecutive quiet
    // polls, not one — a single 3 s window can alias an ingest batch
    // stalled behind a concurrent compaction or GC pause and truncate
    // the tail spuriously
    // quiet window must OUTLAST the cutover barrier-abandon budget
    // (~30 s at the replay tick's 40 Hz): a subscriber barrier-held on a
    // retention-removed head looks frozen for up to that long before it
    // delivers its surviving gap and cuts over — 3×3 s of quiet aliased
    // exactly that in a round-12 run and truncated the verdict counts
    val drainDeadline = System.currentTimeMillis() + 300000
    var lastPair = (-1, -1, -1)
    var quietPolls = 0
    while (System.currentTimeMillis() < drainDeadline && quietPolls < 13) {
      Thread.sleep(3000)
      val p = (subA.size, if (subB == null) 0 else subB.size,
        if (subD == null) 0 else subD.size)
      if (p == lastPair) quietPolls += 1 else { quietPolls = 0; lastPair = p }
    }

    // ---- verdicts ----
    var failures = List.empty[String]
    def check(ok: Boolean, msg: String): Unit = if (!ok) failures ::= msg

    /** Diagnostic: the missing sequence numbers of `got` vs [0, expect),
      * folded into ranges with each range's approximate generation
      * wall-offset — turns "lost 70,072 events" into "lost seconds
      * 211-218", which correlates against the maintenance log.
      */
    def missingRanges(tag: String, got: Array[Long], expect: Long): Unit = {
      val have = new java.util.HashSet[Long](got.length * 2)
      got.foreach(n => have.add(n))
      val ranges = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      var runStart = -1L
      var prev = -1L
      var n = 0L
      while (n < expect) {
        if (!have.contains(n)) {
          if (runStart < 0) runStart = n
          prev = n
        } else if (runStart >= 0) { ranges += ((runStart, prev)); runStart = -1 }
        n += 1
      }
      if (runStart >= 0) ranges += ((runStart, prev))
      if (ranges.nonEmpty) {
        val total = ranges.map(r => r._2 - r._1 + 1).sum
        println(s"[soak] $tag missing $total events in ${ranges.size} ranges; first 10:")
        ranges.take(10).foreach { case (a, b) =>
          val offS = if (a >= seedCount) (a - seedCount) / math.max(1, ratePerSec) else -1
          println(s"[soak]   [$a, $b] (${b - a + 1} events, ~gen +${offS}s)")
        }
      }
    }

    val persisted = EventsTable.read(spark, tablePath).count()
    val (nsA, tsA, latA) = subA.snapshot()
    // retention trimmed H-3 (seedPerHour events) out of the table
    println(s"[soak] persisted(table, post-retention)=$persisted " +
      s"generated=${seedCount + generatedLive}")
    check(maintenanceSeen, "retention never dropped hour H-3 mid-soak")
    // compaction must actually have FIRED on the fragmented closed
    // hour — a committed generation dir is its only durable evidence
    // (Service swallows maintenance exceptions into a log warning, so
    // without this check a always-throwing compactor would still PASS)
    val h1Compacted = Option(new java.io.File(tablePath).list()).getOrElse(Array.empty)
      .exists(n => n.startsWith(s"_gen_${h1Hour}_") &&
        new java.io.File(s"$tablePath/$n/_SUCCESS").exists())
    check(h1Compacted, "closed hour H-1 was never compacted mid-soak")
    check(staleAtGenEnd == 0, s"staleness hook fired $staleAtGenEnd times during healthy soak")

    // registered index refreshers kept the derived indexes fresh
    check(refreshTicks.get() >= 1, "index refreshers never ran on the maintenance ticker")
    if (durMs >= 6 * 60000L) {
      check(corpusAppended, "mid-run corpus part was never appended (maintenance never seen?)")
      check(indexVerified,
        "post-append probes never saw the marker doc: the registered " +
          "refreshers did not keep the positional/IVF-PQ/SQ8/BQ/IVF-BQ/OPQ indexes fresh")
    }

    // manifest mode: commits checkpointed and GC'd — the object count a
    // standing object-store deployment pays per read stays bounded
    if (manifestMode) {
      val mnames = Option(new java.io.File(s"$tablePath/${EventsTable.ManifestsDir}")
        .list()).getOrElse(Array.empty[String])
      check(mnames.exists(_.startsWith("c-")),
        s"manifest checkpoint never rolled over ${mnames.count(_.startsWith("m-"))} manifests")
      check(mnames.count(_.startsWith("m-")) <= 2 * EventsTable.ManifestCheckpointEvery + 8,
        s"manifest objects unbounded: ${mnames.length} in ${EventsTable.ManifestsDir}")
      println(s"[soak] manifest mode: ${mnames.count(_.startsWith("m-"))} manifests + " +
        s"${mnames.count(_.startsWith("c-"))} checkpoints on disk at end")
    }
    check(subA.parseFailures == 0, s"subscriber A failed to parse ${subA.parseFailures} frames")

    // ingest throughput: ≥95% of the live stream persisted (the table
    // also lost H-3 to retention, deliberately)
    val persistedLive = persisted - seedPerHour /* H-1 seed retained */
    check(persistedLive >= (generatedLive * 0.95).toLong,
      s"ingest fell behind: $persistedLive/$generatedLive live events persisted")

    // subscriber A: the full seed + every live event, exactly once, in order
    val expectA = seedCount + generatedLive
    check(nsA.length.toLong == expectA,
      s"subscriber A received ${nsA.length}, expected $expectA")
    if (nsA.length.toLong != expectA) missingRanges("subscriber A", nsA, expectA)
    check(nsA.toSet.size == nsA.length, "subscriber A saw duplicate events")
    val sortedN = nsA.sorted
    check(sortedN.headOption.contains(0L) && sortedN.lastOption.contains(expectA - 1),
      "subscriber A's event set is not the contiguous generated range")
    check(tsA.zip(tsA.tail).forall { case (a, b) => a < b },
      "subscriber A's delivery order was not strictly time-ascending")

    // subscriber B (post-retention+compaction): surviving seed (H-1
    // only) + its live window, exactly once, in order
    if (subB != null) {
      val (nsB, tsB, _) = subB.snapshot()
      check(nsB.nonEmpty, "late subscriber received nothing")
      check(nsB.toSet.size == nsB.length, "late subscriber saw duplicates")
      check(tsB.zip(tsB.tail).forall { case (a, b) => a < b },
        "late subscriber's delivery order was not strictly time-ascending")
      val seedB = nsB.count(_ < seedCount)
      check(seedB == seedPerHour,
        s"late subscriber replayed $seedB seed events; expected exactly the " +
          s"$seedPerHour survivors of retention (H-1)")
      // fairness verdict (VERDICT r15 #6): given a generation window of
      // >= 150 s after joining, the replay pool's fair share must have
      // converged the joiner BEFORE generation stopped — catch-up in
      // the post-gen drain is the starved-FIFO shape this checks
      // against. BINDING only when the geometry is feasible: catch-up
      // needs replay ≈ backlog/window + rate = rate·(join/window + 1),
      // and the measured single-box fair-share replay capacity is
      // ~29k ev/s (8-min 12k soak) — a 16k+ soak would demand more
      // than the box has and FAIL spuriously, so above the feasible
      // rate the verdict reverts to the drain-based exactly-once
      // checks (which always hold) and the catch-up time is reported
      // as a measurement only.
      val genWindow = durMs / 1000 - subBJoinedAt
      val requiredReplay =
        if (genWindow > 0) ratePerSec.toLong * (subBJoinedAt + genWindow) / genWindow
        else Long.MaxValue
      val fairnessBinding = genWindow >= 150 && requiredReplay <= 26000
      check(subBCaughtAt > 0 || !fairnessBinding,
        s"late subscriber never caught up during generation (joined " +
          s"+${subBJoinedAt}s, generation ran to +${durMs / 1000}s — a " +
          s"${genWindow}s window at $ratePerSec ev/s, required replay " +
          s"~$requiredReplay ev/s)")
      // its live window is contiguous to the end
      val liveB = nsB.filter(_ >= seedCount).sorted
      check(liveB.isEmpty || liveB.last == expectA - 1,
        "late subscriber's live tail is truncated")
      check(liveB.isEmpty ||
        liveB.zip(liveB.tail).forall { case (a, b) => b == a + 1 },
        "late subscriber's live window has gaps")
      println(s"[soak] late subscriber: ${nsB.length} events " +
        s"($seedB surviving seed + ${liveB.length} live)")
    } else check(false, "late subscriber never started (soak too short?)")

    // multi-edge verdicts: the killed edge's partial feed was clean, the
    // survivor was undisturbed (subA's checks above), and the restarted
    // edge serves a late joiner exactly-once
    if (multiEdge) {
      check(edge2Killed, "multi-edge soak never reached the kill point (too short?)")
      if (subCAtKill != null) {
        val (nsC, tsC, _) = subCAtKill
        check(nsC.toSet.size == nsC.length, "killed edge's subscriber saw duplicates")
        check(tsC.zip(tsC.tail).forall { case (a, b) => a < b },
          "killed edge's subscriber order was not strictly ascending")
      }
      if (subD != null) {
        val (nsD, tsD, latD) = subD.snapshot()
        check(nsD.nonEmpty, "restarted edge's late subscriber received nothing")
        check(nsD.toSet.size == nsD.length, "restarted edge's subscriber saw duplicates")
        check(tsD.zip(tsD.tail).forall { case (a, b) => a < b },
          "restarted edge's delivery order was not strictly time-ascending")
        val seedD = nsD.count(_ < seedCount)
        check(seedD == seedPerHour,
          s"restarted edge's subscriber replayed $seedD seed events; expected the " +
            s"$seedPerHour retention survivors")
        val liveD = nsD.filter(_ >= seedCount).sorted
        check(liveD.isEmpty || liveD.last == seedCount + generatedLive - 1,
          "restarted edge's live tail is truncated")
        check(liveD.isEmpty || liveD.zip(liveD.tail).forall { case (a, b) => b == a + 1 },
          "restarted edge's live window has gaps")
        // pipeline latency is measured over events GENERATED AFTER the
        // subscriber joined; the replayed backlog's "latency" measures
        // catch-up, reported separately
        val liveLatD = nsD.indices.collect {
          case i if nsD(i) >= subDJoinSeq => latD(i)
        }.toArray.sorted
        val catchupD = nsD.indices.collect {
          case i if nsD(i) >= seedCount && nsD(i) < subDJoinSeq => latD(i)
        }.toArray.sorted
        def msd(us: Long) = us / 1000.0
        println(f"[soak] restarted-edge post-join live latency over ${liveLatD.length} events: " +
          f"p50=${msd(pct(liveLatD, 0.50))}%.0fms p99=${msd(pct(liveLatD, 0.99))}%.0fms; " +
          f"backlog catch-up (${catchupD.length} events) completed in ≤ " +
          f"${msd(catchupD.lastOption.getOrElse(0L))}%.0fms")
        println(s"[soak] restarted edge: ${nsD.length} events " +
          s"($seedD surviving seed + ${liveD.length} live)")
      } else check(false, "restarted edge never came up (soak too short?)")
    }

    // live-hour fragmentation: data files written per hour of soak at
    // this ingest trigger — the serving-edge listing-cost knob
    // (VERDICT r11 #8)
    val liveFiles = Option(new java.io.File(tablePath).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && {
        val h = d.getName.stripPrefix(s"${EventsTable.PartitionCol}=")
        d.getName.startsWith(s"${EventsTable.PartitionCol}=") &&
          scala.util.Try(h.toLong).toOption.exists(_ > h1Hour)
      })
      .map(d => Option(d.list()).getOrElse(Array.empty)
        .count(f => f.endsWith(".parquet") || f.startsWith("part-"))).sum
    println(f"[soak] live-hour fragmentation: $liveFiles data files in " +
      f"${durMs / 60000L} min → ${liveFiles * 3600000.0 / durMs}%.0f files/hour " +
      f"at trigger=${ingestTriggerMs}ms")

    printCensus("end of soak")

    // fd/thread stability: last quarter vs first quarter
    // baseline = the SECOND quarter: the first quarter predates the
    // first maintenance tick (retention/compaction/index refreshers at
    // +120 s), so its fd/thread counts lack a whole steady-state
    // subsystem and a one-time activation step reads as "growth" (a
    // round-15 run failed by exactly 1 fd this way). A real leak still
    // trips: it grows monotonically, so last-quarter max exceeds ANY
    // earlier quarter's budget.
    val q = math.max(1, health.size / 4)
    val firstQ = health.toList.slice(q, 2 * q) match {
      case Nil => health.toList.take(q)
      case xs => xs
    }
    val lastQ = health.toList.takeRight(q)
    def maxOf(f: ((Long, Int, Int, Long)) => Int, xs: List[(Long, Int, Int, Long)]) =
      xs.map(f).max
    if (firstQ.nonEmpty) {
      check(maxOf(_._2, lastQ) <= maxOf(_._2, firstQ) * 5 / 4 + 16,
        s"fd growth: ${maxOf(_._2, firstQ)} → ${maxOf(_._2, lastQ)}")
      check(maxOf(_._3, lastQ) <= maxOf(_._3, firstQ) * 5 / 4 + 16,
        s"thread growth: ${maxOf(_._3, firstQ)} → ${maxOf(_._3, lastQ)}")
    }

    // latency: live window only (seed replay latency measures the
    // replay, not the pipeline; reported separately)
    val liveLats = nsA.indices.collect { case i if nsA(i) >= seedCount => latA(i) }.toArray.sorted
    val replayLats = nsA.indices.collect { case i if nsA(i) < seedCount => latA(i) }.toArray.sorted
    def ms(us: Long) = us / 1000.0
    println(f"[soak] live ingest→delivery latency over ${liveLats.length} events: " +
      f"p50=${ms(pct(liveLats, 0.50))}%.0fms p90=${ms(pct(liveLats, 0.90))}%.0fms " +
      f"p99=${ms(pct(liveLats, 0.99))}%.0fms max=${ms(liveLats.lastOption.getOrElse(0L))}%.0fms")
    println(f"[soak] seed replay completed in ≤ ${ms(replayLats.lastOption.getOrElse(0L))}%.0fms")
    // the same live events split by when they were generated: during
    // A's seed replay (they reach A only at its cutover), during the
    // late subscriber's replay (its catch-up contends with live
    // delivery), and the rest — the pipeline's steady state
    cutovers.interrupt()
    val genA = subA.generatedUs()
    val lateUntilMs = if (bCutoverMs > 0) bCutoverMs else t0 + durMs
    def window(name: String, in: Long => Boolean): Unit = {
      val lats = nsA.indices.collect { case i if nsA(i) >= seedCount && in(genA(i) / 1000L) => latA(i) }
        .toArray.sorted
      println(f"[soak] live latency, $name: ${lats.length} events, " +
        f"p50=${ms(pct(lats, 0.50))}%.0fms p90=${ms(pct(lats, 0.90))}%.0fms " +
        f"p99=${ms(pct(lats, 0.99))}%.0fms")
    }
    def late(g: Long) = bJoinMs > 0 && g >= bJoinMs && g < lateUntilMs
    if (aCutoverMs < 0) println("[soak] subscriber A's cutover was never seen")
    else {
      window(s"generated during A's seed replay (to its cutover at +${(aCutoverMs - t0) / 1000}s)",
        _ < aCutoverMs)
      window("generated after A's cutover, outside the late-join window",
        g => g >= aCutoverMs && !late(g))
    }
    if (bJoinMs > 0)
      window(s"generated in the late-join window (+${(bJoinMs - t0) / 1000}s to " +
        s"${if (bCutoverMs > 0) s"its cutover at +${(bCutoverMs - t0) / 1000}s" else "generation end"})",
        late)
    val hm = health.toList
    println(s"[soak] fds first→last: ${hm.headOption.map(_._2)}→${hm.lastOption.map(_._2)}; " +
      s"threads ${hm.headOption.map(_._3)}→${hm.lastOption.map(_._3)}; " +
      s"heapMB ${hm.map(_._4 / 1048576).min}..${hm.map(_._4 / 1048576).max}")
    println(s"[soak] achieved live rate: ${generatedLive * 1000 / durMs} ev/s generated, " +
      s"${nsA.length.toLong * 1000 / (System.currentTimeMillis() - t0)} ev/s delivered to A")

    subA.close(); if (subB != null) subB.close()
    if (subD != null) subD.close()
    if (edge3 != null) edge3.close()
    // subC is closed on the kill path (at edge2's mid-run kill); a run
    // that ends before the kill point must close it here too (ADVICE r12)
    if (subC != null && !edge2Killed) subC.close()
    if (edge2 != null && !edge2Killed) edge2.close()
    running.close(); fire.close()

    if (failures.nonEmpty) {
      failures.reverse.foreach(f => System.err.println(s"[soak] FAIL: $f"))
      sys.exit(1)
    }
    println("[soak] PASS")
  }
}
