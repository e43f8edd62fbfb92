package graft.serve

import java.net.{ServerSocket, Socket}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ingest.Decode
import graft.store.EventsTable
import graft.util.DriverBudget

/** The serving half of the standing-service posture across a REAL
  * process boundary: the reference's WebSocket subscribe endpoint
  * (cmd/jetstream/server.go:244-356), whose subscribers receive wire
  * JSON frames over [[WebSocketServe.WsTransport]].
  *
  * Request: the upgrade's query string —
  * `wantedCollections=a,b&wantedDids=…&cursor=<µs>` (the reference's
  * query-string surface, server.go:244-287) — then wire JSON frames
  * until the subscriber disconnects. No `cursor` means live-only:
  * implemented as a FUTURE cursor, which cuts over immediately — the
  * exact "future cursor → live" rule of server.go:283-286.
  *
  * Live delivery: the reference persists an event and hands it to its
  * emit loop in the same process (`Server.Emit`, server.go:62-116); here
  * every append to the events table, once its batch is visible, calls
  * the table's commit listeners ([[EventsTable.onCommit]]) in this JVM.
  * Each edge's listener wires the committed files and hands the
  * time-sorted frames to the edge's emit thread, which snapshots the
  * CURRENT subscriber registry — new
  * connections join at the next pass, the reference's dynamic attach —
  * and every subscriber runs its [[CutoverSession]] lifecycle (cursor
  * replay chunks, gap-fill, live emit with the replay-lag gate) on the
  * bounded fan-out pool. The appender only enqueues: a stalled
  * subscriber holds its edge's emit thread, never the ingest. A write
  * failure (disconnect, dead pipe, or a write stalled past
  * `writeTimeoutMs`) drops the subscriber exactly like the reference's
  * slow-consumer close (server.go:168-175). The table is read only for
  * cursor replay, as the reference reads its log (persist.go:143-204).
  *
  * Scale posture: the LIVE path costs ONE Spark job per commit and edge
  * at any subscriber count — the committed files are wire-serialized
  * distributed, collected once with their routing columns, and fanned
  * out by the in-process emit loop ([[CutoverSession.liveEmitFrames]]),
  * the same shape as the reference's single-marshal + per-subscriber-
  * predicate loop (server.go:73,87-134). REPLAY views stay distributed
  * — pruned, chunk-bounded table scans per session. The driver is the
  * egress edge, exactly as the reference's process is: its ceiling is
  * wire-bytes × subscribers through one process's sockets. Live
  * delivery reaches only edges in the appender's JVM (see [[start]]).
  */
object SocketServe extends org.apache.spark.internal.Logging {

  /** Reference fan-out concurrency (server.go:89 `sem := make(chan
    * struct{}, 100)`).
    */
  val DefaultFanOutWidth = 100

  /** Run `f` over `items` on a bounded pool, rethrowing the first
    * failure. Pool width is the reference's fan-out semaphore.
    */
  private def onPool[A](items: Seq[A], width: Int)(f: A => Unit): Unit = {
    if (items.isEmpty) return
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(width, items.size))
    try {
      val futures = items.map { i =>
        pool.submit(new Runnable { def run(): Unit = f(i) })
      }
      futures.foreach { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  /** Throttled warning: at most one log line per (context, exception
    * class) per interval. The serve loops run at 40 Hz / per-batch —
    * a persistent failure (schema drift, corrupted table) must surface
    * in the log without flooding it, and a transient one (file listing
    * racing a concurrent append/compaction) must not spam at all.
    */
  private val lastWarnMs =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private def warnThrottled(context: String, e: Throwable,
      intervalMs: Long = 5000L): Unit = {
    val key = context + ":" + e.getClass.getName
    val now = System.currentTimeMillis()
    val prev = lastWarnMs.getOrElse(key, 0L)
    if (now - prev >= intervalMs && lastWarnMs.replace(key, prev, now) ||
        lastWarnMs.putIfAbsent(key, now).isEmpty)
      // the full throwable, not just class+message: the non-IO emit path
      // classifies its catch as "a bug, not a broken pipe" — the stack
      // trace IS the diagnostic there (one per throttle window)
      logWarning(s"$context: ${e.getClass.getName}: ${e.getMessage} " +
        "(retrying; this warning is throttled)", e)
  }

  /** Per-connection wire protocol: how a subscriber's request arrives
    * and how wire JSON frames go back. [[WebSocketServe.WsTransport]] is
    * the one wire; the trait is the seam a spec wraps to inject write
    * faults.
    */
  private[serve] trait Transport {
    /** Handshake a fresh connection: the request query string
      * (`subscribe?cursor=…&wantedCollections=…`) and the frame
      * writer, or None to reject (the socket is closed by the caller).
      */
    def open(sock: Socket): Option[(String, WireWriter)]
  }

  /** Writes one batch of wire frames; returns bytes put on the wire.
    * MUST throw [[java.io.IOException]] on a dead or stalled pipe —
    * that is the drop signal (server.go:168-175).
    *
    * Failure contract: a NON-IO throw means NO frame of this batch
    * reached the wire — the serving loop then re-arms the session into
    * replay and the whole window is re-read exactly-once. An
    * implementation that may have flushed part of the batch before
    * failing must surface that as IOException (the drop signal; the
    * client's cursor-resume dedups), or the re-replay would deliver
    * the flushed prefix twice. The built-in transports satisfy this:
    * they buffer and report flush failures as IOException.
    */
  private[serve] trait WireWriter {
    def writeFrames(frames: Array[String]): Long
  }

  private final case class Conn(
      name: String,
      session: CutoverSession,
      writer: WireWriter,
      socket: Socket,
      remote: String,
      delivered: Metrics.Series,
      bytesDelivered: Metrics.Series)

  /** Parse the request's query parameters. REPEATED occurrences
    * accumulate — `wantedCollections=a&wantedCollections=b` is the
    * reference's actual wire form (Go's `URL.Query()["k"]` slice,
    * server.go:251,263); the comma-separated form inside one value is
    * kept as this engine's extension. `cursor` takes the FIRST
    * occurrence (Go's `Query().Get`, server.go:275).
    */
  private[serve] def parseRequest(request: String, nowUs: Long)
      : (Subscribe.SubscriberSpec, Long) = {
    val pairs = request.trim.stripPrefix("subscribe?").split("&").toSeq
      .map(_.split("=", 2)).collect {
        case Array(k, v) if v.nonEmpty => k -> v
      }
    def vals(k: String) = pairs.collect { case (`k`, v) => v }
    def csv(k: String) = vals(k).flatMap(_.split(",")).filter(_.nonEmpty)
    val cursor = vals("cursor").headOption.map(_.toLong)
      .getOrElse(nowUs) // no cursor = future cursor = live-only
    (Subscribe.SubscriberSpec(csv("wantedCollections"), csv("wantedDids")), cursor)
  }

  /** One edge's commit feed: the frames of the commits its emit thread
    * has not taken yet, in commit order. Their wire bytes are bounded by
    * the driver budget ([[graft.util.DriverBudget]]): a commit that
    * would cross it drops everything queued and marks the feed `lost`,
    * as does a commit whose wiring failed. A lost feed re-arms every
    * live session into replay, which re-reads the window from the
    * table, hwm-deduped — exactly-once, at table-read speed.
    */
  private final class Feed {
    private[this] val pending = scala.collection.mutable.ArrayBuffer.empty[Array[Subscribe.WireFrame]]
    private[this] var bytes = 0L
    private[this] var lost = false

    def offer(frames: Array[Subscribe.WireFrame], budget: Long): Unit = {
      // driver heap of a queued frame: its object and routing strings
      // plus the wire JSON's UTF-16 chars (at most)
      val b = frames.iterator.map(f => DriverBudget.fixedRowBytes(3) + 2L * f.wire.length).sum
      synchronized {
        if (bytes + b > budget) markLost()
        else { pending += frames; bytes += b; notifyAll() }
      }
    }

    def markLost(): Unit = synchronized {
      pending.clear(); bytes = 0L; lost = true; notifyAll()
    }

    /** Blocks for the next commit, then takes every queued one:
      * their frames concatenated in commit order, and whether a commit
      * among them (or dropped before them) never reached this feed.
      */
    def take(): (Array[Subscribe.WireFrame], Boolean) = synchronized {
      while (pending.isEmpty && !lost) wait()
      val out = (pending.flatten.toArray, lost)
      pending.clear(); bytes = 0L; lost = false
      out
    }
  }

  /** Fault-injection seam for specs: runs with the table key before a
    * committed batch is wired; a throw fails that batch's wiring.
    */
  @volatile private[serve] var beforeWire: String => Unit = _ => ()

  /** A committed batch's live frames, time-sorted: its files read back
    * by name (no listing, the bytes a table read yields), serialized
    * once and collected with their routing columns — ONE Spark job per
    * commit and edge, at any subscriber count.
    */
  private[serve] def wireCommitted(spark: SparkSession, key: String,
      files: Seq[String]): Array[Subscribe.WireFrame] = {
    beforeWire(key)
    if (files.isEmpty) Array.empty
    else {
      val wired = Decode.toWire(spark.read.option("basePath", key)
        .parquet(files.map(f => s"$key/$f"): _*))
      wired.select(col("time_us"),
          Subscribe.resolvedCollection(wired).as("collection"),
          col("did"), col("wire"))
        .collect()
        .map(r => Subscribe.WireFrame(r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) null else r.getString(2),
          r.getString(3)))
        .sortBy(_.timeUs)
    }
  }

  /** A running server: `close()` stops accepting, detaches from the
    * commit feed, stops the emit thread and disconnects subscribers.
    */
  final class Server private[SocketServe] (
      val port: Int,
      serverSocket: ServerSocket,
      appender: java.util.concurrent.atomic.AtomicReference[StreamingQuery],
      conns: scala.collection.concurrent.TrieMap[String, Conn],
      drop: Conn => Unit,
      closing: java.util.concurrent.atomic.AtomicBoolean,
      onClose: () => Unit) {
    /** The streaming query whose commits this edge delivers (the
      * ingest, in the composed service); null until its first commit.
      */
    def query: StreamingQuery = appender.get
    def subscriberCount: Int = conns.size
    /** Sessions still in replay mode — cursors not yet cut over. */
    def replayingCount: Int = conns.values.count(_.session.replaying)
    /** Per-session lifecycle view: (name, replaying, hwmUs). */
    def sessionStates: Seq[(String, Boolean, Long)] =
      conns.values.toSeq.sortBy(_.name)
        .map(c => (c.name, c.session.replaying, c.session.seqUs))
    /** Per-session transition breadcrumbs (diagnostics). */
    def sessionTraces: Map[String, Seq[String]] = {
      import scala.jdk.CollectionConverters._
      conns.values.toSeq.sortBy(_.name)
        .map(c => c.name -> c.session.trace.asScala.toSeq).toMap
    }
    def close(): Unit = {
      closing.set(true) // before the sweep: in-flight handshakes self-drop
      onClose()
      serverSocket.close()
      conns.values.foreach(drop) // closes sockets + settles the gauge
    }
  }

  /** Serve the events table at `tablePath` on an ephemeral port. Live
    * frames come from the table's append commits IN THIS JVM: the edge
    * must run in the process that appends (the composed
    * [[graft.tools.Service]] does). An edge in any other process
    * replays the table and cuts over, then receives nothing live.
    */
  def start(
      spark: SparkSession,
      tablePath: String,
      fanOutWidth: Int = DefaultFanOutWidth,
      nowUs: () => Long = () => System.currentTimeMillis() * 1000L,
      writeTimeoutMs: Long = 30000L,
      metrics: Metrics.Registry = Metrics.default,
      transport: Transport = WebSocketServe.WsTransport,
      maxSubRate: Option[Double] = None,
      port: Int = 0,
      replayChunkSize: Int = 10000,
      replayThrottle: Option[ReplayThrottle] = None): Server = {
    val serverSocket = new ServerSocket(port)
    val conns = scala.collection.concurrent.TrieMap.empty[String, Conn]
    val counter = new java.util.concurrent.atomic.AtomicInteger
    // set before close() sweeps conns: a handshake completing AFTER the
    // sweep would otherwise register a conn nobody ever drops (open
    // socket + connected gauge stuck at 1)
    val closing = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the reference's serve-side series (metrics.go:7-31), incremented
    // at the same boundaries: emit loop, delivery, connect/disconnect
    val eventsEmitted = metrics.counter("graft_events_emitted_total",
      "Total events emitted by the serving loop")
    val bytesEmitted = metrics.counter("graft_bytes_emitted_total",
      "Total wire bytes serialized by the serving loop")
    def connectedGauge(remote: String) = metrics.gauge(
      "graft_subscribers_connected",
      "Subscribers currently connected", "remote" -> remote)
    def dropConn(conn: Conn): Unit =
      if (conns.remove(conn.name).isDefined) {
        conn.socket.close()
        connectedGauge(conn.remote).dec()
      }
    // slow-consumer watchdog: a subscriber that stops READING (pipe
    // alive, kernel send buffer full) blocks the write forever —
    // checkError only sees closed pipes. The watchdog closes the socket
    // if a view's write exceeds the budget, which surfaces as the same
    // dead-pipe IOException and drops the subscriber (the reference's
    // slow-consumer close, server.go:168-175).
    val watchdog = new java.util.concurrent.ScheduledThreadPoolExecutor(1,
      (r: Runnable) => { val t = new Thread(r, "socket-serve-watchdog"); t.setDaemon(true); t })
    // cancelled kill tasks leave the queue immediately — one is
    // scheduled per view write, and at ProcessingTime(0) batch rates
    // they would otherwise pile up for their full timeout
    watchdog.setRemoveOnCancelPolicy(true)

    // acceptor: one transport handshake → a registered CutoverSession;
    // the subscriber starts receiving at the next pump tick or emit pass
    val acceptor = new Thread(() => {
      try while (true) {
        val sock = serverSocket.accept()
        new Thread(() => {
          try {
            transport.open(sock) match {
              case Some((request, writer)) =>
                val (spec, cursor) = parseRequest(request, nowUs())
                // invalid filter params REJECT the subscription — the
                // reference's ParseNSID/ParseDID error returns
                // (server.go:253-271); a malformed cursor already
                // rejects via the toLong throw → outer close
                Subscribe.validate(spec).left.foreach(msg =>
                  throw new IllegalArgumentException(msg))
                val name = s"sub-${counter.incrementAndGet()}"
                val remote = sock.getInetAddress.getHostAddress
                // per-subscriber replay pacing at 10× maxSubRate
                // (main.go:79-84 default, server.go:307)
                val pacer = maxSubRate.map(r => TokenBucket.playback(liveRate = r))
                val conn = Conn(name,
                  new CutoverSession(spec, cursor, chunkSize = replayChunkSize,
                    playback = pacer),
                  writer, sock, remote,
                  metrics.counter("graft_events_delivered_total",
                    "Total events delivered to subscribers", "remote" -> remote),
                  metrics.counter("graft_bytes_delivered_total",
                    "Total wire bytes delivered to subscribers", "remote" -> remote))
                conns.put(name, conn)
                connectedGauge(remote).inc()
                if (closing.get()) dropConn(conn) // lost the race with close()
              case None => sock.close()
            }
          } catch { case _: Throwable => sock.close() }
        }).start()
      } catch { case _: Throwable => () } // server closed
    })
    acceptor.setDaemon(true)
    acceptor.start()

    def writeWire(conn: Conn, wires: Array[String]): Unit = {
      // a terminated watchdog pool means close() already ran: this conn
      // can never emit again — surface the drop signal (IOException),
      // not a retryable bug, so shutdown races drop the conn cleanly
      // instead of leaving it attached with its frames unwritten
      val kill =
        try watchdog.schedule(
          new Runnable { def run(): Unit = conn.socket.close() },
          writeTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch {
          case e: java.util.concurrent.RejectedExecutionException =>
            throw new java.io.IOException("server closing", e)
        }
      val bytes =
        try conn.writer.writeFrames(wires)
        finally kill.cancel(false)
      // past writeFrames: count only deliveries that reached the pipe
      // (server.go:151-152 counts after a successful write). This
      // bookkeeping must be exception-free by construction: the frames
      // are already flushed, so a throwable escaping here would reach
      // the live-emit rearm handler and re-deliver the window just
      // written (ADVICE r11). Metrics failures log; they never propagate.
      if (wires.nonEmpty) {
        try {
          conn.delivered.add(wires.length.toDouble)
          conn.bytesDelivered.add(bytes.toDouble)
        } catch {
          // NonFatal only: an OOM/StackOverflow here must still crash
          // the session, not vanish into a throttled warn (ADVICE r12)
          case scala.util.control.NonFatal(e) => warnThrottled("delivery metrics", e)
        }
      }
    }
    // replay views come off per-subscriber PRUNED table scans (the
    // distributed half of the session) and serialize + collect here —
    // chunk-bounded and playback-paced, so each collect is ≤ chunkSize
    // admitted rows. Flush per view so replay chunks stream promptly.
    def writeView(conn: Conn, view: DataFrame): Unit = {
      val wired =
        if (view.columns.contains("wire")) view else Decode.toWire(view)
      writeWire(conn, wired.select("wire").collect().map(_.getString(0)))
    }

    // AQE-off session clone for the session replay scans and head
    // reads: the pump and the emit pass run these small scans
    // concurrently with the engine's own queries, and AQE's final-plan
    // wait has a lost-wakeup race under exactly that concurrency (see
    // ReplayTailSource's probeSession note); adaptive planning buys
    // nothing on a pruned ≤chunkSize scan.
    val replaySession = {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
      s
    }

    // the live head: the newest committed time_us this edge knows of.
    // It starts stale, so the first replay step reads the table's
    // current tail — never 0, which would declare any cursor caught-up
    // and silently truncate a multi-chunk replay backlog — and goes
    // stale again whenever a commit's frames do not reach this edge.
    // The refresh is exclusive: the pump and the emit pass step
    // different sessions at once, and a session that read the head
    // while another was still refreshing it would cut over at the old
    // one and lose the commits in between.
    val lastHeadUs = new java.util.concurrent.atomic.AtomicLong(0L)
    val headStale = new java.util.concurrent.atomic.AtomicBoolean(true)
    // The flag clears BEFORE the read, so a commit that marks the head
    // stale while a read is in flight forces the next refresh.
    def liveHead(): Long = headStale.synchronized {
      if (headStale.getAndSet(false))
        try lastHeadUs.accumulateAndGet(
          EventsTable.headUs(replaySession, tablePath, lastHeadUs.get()), math.max)
        catch { case e: Throwable => headStale.set(true); throw e }
      lastHeadUs.get()
    }

    // replay pump: the reference serves a cursored subscriber's replay
    // from its own goroutine, INDEPENDENT of live traffic
    // (server.go:305-337). Emit passes only run when commits arrive,
    // so without this thread a subscriber attaching to an idle
    // stream would wait for the next live event before its replay even
    // starts — and starve forever on a quiet one. Per-conn work is
    // `conn.synchronized` here and in the emit pass, so a session's
    // replay chunks and its live emission never interleave; delivery
    // order and exactly-once still come from the session's gate + hwm.
    val pump = new Thread(() => {
      try while (!closing.get()) {
        try {
          val replaying =
            conns.readOnlySnapshot().values.filter(_.session.replaying).toSeq.sortBy(_.name)
          // adaptive share (VERDICT r16 #2): when live delivery lag is
          // over target, the throttle admits only a fraction of pump
          // ticks — replay degrades to slow catch-up instead of
          // saturating the box until S21 drops a compliant client
          if (replaying.nonEmpty && replayThrottle.forall(_.stepAllowed())) {
            onPool(replaying, fanOutWidth) { conn =>
              try conn.synchronized {
                // the head is read INSIDE the lock, right before the
                // step: a pre-read value can go stale while this worker
                // waits behind an emit pass that suppressed newer live
                // frames for this session — a stale head then lets the
                // cutover barrier pass and the suppressed window is lost
                if (conn.session.replaying)
                  conn.session.replayStep(replaySession, tablePath, liveHead())(
                    view => writeView(conn, view))
              } catch { case _: java.io.IOException => dropConn(conn) }
            }
          }
        } catch {
          case e: InterruptedException => throw e
          // a transient table-read race (file listing during a
          // concurrent append/compaction) must not kill the pump —
          // the streaming side gets the same retry from Spark itself.
          // But a PERSISTENT failure (schema drift, corrupted table)
          // would otherwise spin at 40 Hz with cursored subscribers
          // starved and zero diagnostics — surface it, throttled.
          case e: Throwable => warnThrottled("replay pump", e)
        }
        Thread.sleep(25) // also bounds the paced-out (budget 0) spin
      } catch { case _: InterruptedException => () }
    }, "socket-serve-replay-pump")
    pump.setDaemon(true)
    pump.start()
    // one emit pass over the frames of one or more commits, in commit
    // order; `rearm` = a commit reached the table but not this pass (its
    // wiring failed, or the feed dropped it over the driver budget)
    def emitPass(frames: Array[Subscribe.WireFrame], rearm: Boolean): Unit = {
      if (rearm) headStale.set(true)
      if (frames.nonEmpty) lastHeadUs.getAndAccumulate(frames.last.timeUs, math.max)
      val active = conns.readOnlySnapshot().values.toSeq.sortBy(_.name)
      // the commit's frames never reached this edge: every live
      // session replays the window from the table, hwm-deduped
      if (rearm) active.foreach(c => c.synchronized(c.session.rearmReplay()))
      if (active.nonEmpty) {
        // everything below is the in-process emit loop
        // (server.go:87-134) over the commit's once-wired frames —
        // per-subscriber predicate + hwm over the shared frame array,
        // zero Spark jobs
        if (frames.nonEmpty) {
          // live delivery lag at the serving edge: emit wall-clock −
          // the newest event time (its time_us is the ingest
          // sequencer's wall-clock stamp) — the signal the adaptive
          // replay share governs on
          replayThrottle.foreach(_.observeLive(nowUs() - frames.last.timeUs))
          // the emit-loop counters (server.go:71,80 counts each
          // serialized event and its bytes once, before fan-out)
          eventsEmitted.add(frames.length.toDouble)
          bytesEmitted.add(frames.iterator.map(f =>
            f.wire.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
            .sum.toDouble)
        }
        // one throttle decision per emit pass covers every
        // replaying conn this batch would step (same admission
        // granularity as the pump's per-tick decision). The credit
        // draw is LAZY — a batch with no replaying conn must not
        // consume an admission the pump was owed (ADVICE r17 #4: the
        // unconditional draw drifted the effective replay rate below
        // the intended share under throttling). The pump and emit
        // pass deliberately share ONE accumulator: both step the same
        // sessions, and the share governs the TOTAL replay tick rate,
        // whichever site fires it.
        val batchStepAllowed = active.exists(_.session.replaying) &&
          replayThrottle.forall(_.stepAllowed())
        onPool(active, fanOutWidth) { conn =>
          try conn.synchronized { // excludes the replay pump per conn
            // head read inside the lock — see the pump's note
            if (conn.session.replaying && batchStepAllowed)
              try conn.session.replayStep(replaySession, tablePath, liveHead())(
                view => writeView(conn, view))
              catch {
                // write-path failure: the drop signal — rethrow to the
                // outer handler
                case e: java.io.IOException => throw e
                // the same transient table-read race the pump tolerates
                // (file listing during a concurrent append/compaction)
                // can land here instead; a healthy subscriber must not
                // be dropped for it. Leave the conn attached — the next
                // tick (pump or emit pass) retries; the session stays in
                // replay so the live gate below keeps suppressing.
                case e: Throwable => warnThrottled("emit-pass replay", e)
              }
            val (wires, tailUs) = conn.session.liveEmitFrames(frames)
            // The rearm try covers ONLY the wire write: writeWire's
            // post-flush bookkeeping is exception-free by construction,
            // so a non-IO escaping it means frames did NOT all reach
            // the pipe — the one case where a rearm is lossless. The
            // hwm advance runs OUTSIDE the try: after a successful
            // flush a failure there must surface, never re-arm (a
            // rearm would re-read and re-deliver the window just
            // written — duplicates, ADVICE r11).
            val flushed =
              try { writeWire(conn, wires); true }
              catch {
                case e: java.io.IOException => throw e // → outer drop
                case e: Throwable if wires.nonEmpty =>
                  // non-IO with frames IN FLIGHT: keep-attached would
                  // LOSE this window for the subscriber — a live
                  // session never re-reads the table, the next commit
                  // carries only newer events, and its delivered() would
                  // advance the hwm past the gap. Re-arm the session into
                  // replay at the current hwm instead: the skipped window
                  // is re-read from the table, the hwm dedup skips
                  // anything already written, and the normal gap-fill
                  // cutover returns it to live exactly-once.
                  conn.session.rearmReplay()
                  warnThrottled(s"live emit for ${conn.name} (re-armed replay)", e)
                  false
              }
            if (flushed)
              conn.session.delivered(tailUs) // hwm past the SUCCESSFUL write
          } catch {
            case _: java.io.IOException => // slow consumer / disconnect:
              dropConn(conn) // server.go:168-175
            case e: Throwable =>
              // non-IO BEFORE anything was emitted (the in-memory emit
              // half failed) — a bug, not a broken pipe. Dropping would
              // hide it behind a clean disconnect; keep the conn
              // attached (its gate/hwm are untouched, so nothing is
              // lost) and surface the error, throttled, while the next
              // pass retries.
              warnThrottled(s"live emit for ${conn.name}", e)
          }
        }
      }
    }

    // the emit thread: takes whatever commits arrived while it was
    // busy as one pass (commit order is time order), so a stalled write
    // delays this edge, never the appender
    val feed = new Feed
    val emitter = new Thread(() => {
      try while (true) {
        val (frames, lost) = feed.take()
        try emitPass(frames, rearm = lost)
        catch {
          case e: InterruptedException => throw e
          case e: Throwable => warnThrottled("emit pass", e)
        }
      } catch { case _: InterruptedException => () }
    }, "socket-serve-emit")
    emitter.setDaemon(true)
    emitter.start()

    // the commit listener: runs on the appending thread (the ingest
    // micro-batch), wires the batch when this edge has a subscriber,
    // hands the frames to the emit thread and returns — it never waits
    // on a socket
    val appender = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]
    val key = EventsTable.tableKey(spark, tablePath)
    val detach = EventsTable.onCommit(spark, tablePath) { (s, files) =>
      Option(s.sparkContext.getLocalProperty("sql.streaming.queryId"))
        .map(java.util.UUID.fromString)
        .filterNot(id => Option(appender.get).exists(_.id == id))
        .flatMap(id => Option(spark.streams.get(id)))
        .foreach(appender.set)
      if (conns.isEmpty) headStale.set(true)
      else
        try feed.offer(wireCommitted(s, key, files), DriverBudget.bytes(s))
        catch { case scala.util.control.NonFatal(e) =>
          // the batch is in the table but its frames never reach this
          // edge: its live sessions re-arm into replay at their hwm
          warnThrottled(s"wiring a committed batch of $key (live sessions re-armed)", e)
          feed.markLost()
        }
    }

    new Server(serverSocket.getLocalPort, serverSocket, appender, conns,
      dropConn, closing, () => {
        detach()
        emitter.interrupt()
        pump.interrupt()
        watchdog.shutdownNow()
      })
  }
}
