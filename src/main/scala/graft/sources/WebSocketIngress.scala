package graft.sources

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.CompletionStage

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ingest.{Decode, IngestJob}

/** S1 — the reference's ACTUAL transport: a WebSocket dial
  * (`wss://…/subscribe?cursor=…`, cmd/jetstream/main.go:299-317)
  * as a first-class Structured Streaming source,
  * `spark.readStream.format("graft-websocket")`. One WebSocket text
  * message = one wire frame JSON = one `value` row — everything after
  * `load()` (single-pass mixed decode, sequencing, hour-partitioned
  * persist) is the same plumbing every other ingress feeds.
  *
  * Design follows Spark's own socket source (TextSocketMicroBatchStream,
  * public Spark source): the driver holds the connection, messages
  * buffer on the driver, offsets are message counts, and committed
  * prefixes are trimmed. Like that source, the transport itself is
  * non-replayable — durability comes from the UPSTREAM cursor contract
  * (the reference's own model, server.go:274-287): on (re)start the
  * caller dials with `?cursor=<last persisted µs>` ([[WebSocketIngress
  * .start]] does this), and the upstream replays strictly after it, so
  * a crash costs re-delivery, never loss (at-least-once; S16 dedup
  * covers the overlap).
  *
  * Options: `url` (required, `ws://` or `wss://`); `format` — `text`
  * (default; one TEXT message = one JSON wire frame) or `cbor` (one
  * BINARY message = one DAG-CBOR encoding of the same wire event; the
  * `value` column is then `binary` and [[WebSocketIngress.events]]
  * decodes it IN THE PLAN with the native `cbor_to_json` expression,
  * not on the driver), or `firehose` (one BINARY message = one RAW
  * XRPC relay frame: TWO concatenated CBOR items per message (header +
  * body, the framing indigo's `events.HandleRepoStream` decodes,
  * main.go:317) with CAR blocks in a `#commit` body — the S5 boundary,
  * decoded in-plan by the native `xrpc_frame_to_json` expression:
  * CARv1 sections, commit object, MST walk per op, hash-verified
  * blocks, canonical record CBOR → wire JSON; see
  * [[graft.functions.Car]]). `format=cbor` remains the compact binary
  * twin of the decoded-event JSON wire: one self-contained DAG-CBOR
  * item per message, same schema as the text frames.
  * `maxBufferedFrames` (default 262144) bounds the driver-side buffer;
  * past it the listener stops requesting and TCP backpressure holds
  * the upstream.
  * The client is JDK `java.net.http.WebSocket` — RFC 6455
  * handshake, masking, and fragmentation handled by the platform;
  * partial messages (`last = false`) are reassembled before buffering,
  * text and binary alike.
  */
class WebSocketFrameProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-websocket"

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(WebSocketFrameSource.schemaFor(parameters)))

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new WebSocketFrameSource(sqlContext, parameters, metadataPath)
}

object WebSocketFrameSource {
  val FrameSchema: StructType = StructType(Seq(StructField("value", StringType)))
  val BinaryFrameSchema: StructType =
    StructType(Seq(StructField("value", org.apache.spark.sql.types.BinaryType)))

  private[sources] def isBinary(params: Map[String, String]): Boolean =
    params.getOrElse("format", "text") match {
      case "text" => false
      case "cbor" | "firehose" => true
      case other => throw new IllegalArgumentException(
        s"graft-websocket: unknown format '$other' (text|cbor|firehose)")
    }

  def schemaFor(params: Map[String, String]): StructType =
    if (isBinary(params)) BinaryFrameSchema else FrameSchema

  /** Engine offsets arrive live (LongOffset) or checkpoint-recovered
    * (SerializedOffset). */
  private[sources] def offsetToLong(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.toLong
  }
}

class WebSocketFrameSource(sqlContext: SQLContext, params: Map[String, String],
    metadataPath: String = "") extends Source with Logging {

  private val binaryFrames = WebSocketFrameSource.isBinary(params)

  override val schema: StructType = WebSocketFrameSource.schemaFor(params)

  private val url = params.getOrElse("url", throw new IllegalArgumentException(
    "graft-websocket source requires a 'url' option (ws://host:port/path)"))

  // Offset continuity across incarnations (the FileStreamSource
  // metadata-dir pattern): every ANNOUNCED head is persisted under the
  // engine-provided metadataPath, and a restarted source seeds `base`
  // from it — so fresh post-reconnect messages always number AFTER any
  // offset a previous incarnation put in the checkpoint. Without this,
  // a restart renumbers from 0: the engine sees "no new data" while
  // recovered offsets exceed the head, and commit(<recovered>) trims
  // messages no batch ever delivered — silently losing exactly the
  // events the upstream re-sent after the persisted cursor.
  private val hwmFiles: Option[(org.apache.hadoop.fs.FileSystem, Path, Path)] =
    if (metadataPath.isEmpty) None
    else {
      val dir = new Path(metadataPath)
      val fs = dir.getFileSystem(sqlContext.sparkSession.sessionState.newHadoopConf())
      fs.mkdirs(dir)
      Some((fs, new Path(dir, "head-offset"), new Path(dir, "head-offset.tmp")))
    }

  /** Read one head copy. ONLY an absent file means 0 (fresh source) —
    * a transient IO failure must PROPAGATE and fail the start, because
    * silently mapping it to 0 renumbers the source below the engine's
    * committed offset and the first batch after the head re-crosses it
    * skips every re-sent message beneath — silent data loss, not a
    * recoverable hiccup. A torn copy (unparseable content) counts as 0
    * with a warning: the sibling copy of the two-file protocol still
    * carries a previously-announced head, and max() keeps it.
    */
  private def readLong(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long =
    try {
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim.toLong
      finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => 0L
      case e: NumberFormatException =>
        logWarning(s"graft-websocket: torn head copy at $p: ${e.getMessage}"); 0L
    }

  /** Newest head any incarnation announced (max of main + tmp copies —
    * the two-file write below can crash between steps, the max is
    * always safe because heads only grow).
    */
  private def recoverHead(): Long =
    hwmFiles.map { case (fs, main, tmp) =>
      math.max(readLong(fs, main), readLong(fs, tmp))
    }.getOrElse(0L)

  /** Persist an announced head: tmp (overwrite) → delete main →
    * rename. A crash at any step leaves at least one parseable copy
    * whose value is a previously-announced head.
    */
  private def persistHead(head: Long): Unit =
    hwmFiles.foreach { case (fs, main, tmp) =>
      try {
        val out = fs.create(tmp, true)
        try out.write(head.toString.getBytes("UTF-8")) finally out.close()
        fs.delete(main, false)
        fs.rename(tmp, main)
      } catch { case e: Throwable =>
        logWarning(s"graft-websocket: head persist failed: ${e.getMessage}")
      }
    }

  // Driver-side message buffer: `base` counts messages already trimmed
  // by commit(), so offset N is always message N since connect — offsets
  // stay stable across trims. Elements are String (text mode) or
  // Array[Byte] (cbor mode), never mixed. All access under `this` lock.
  //
  // The buffer is BOUNDED (`maxBufferedFrames`, default 262144 ≈ 64 MB
  // of 250 B frames): past the high-water mark of UNDELIVERED messages
  // the listener stops issuing `request(1)`, so the JDK client stops
  // reading and TCP backpressure reaches the upstream — a stalled
  // micro-batch loop (GC pause, slow append, compaction contention)
  // holds the line instead of growing driver heap to OOM.
  //
  // Resume is keyed to DELIVERY (getBatch), not commit: MicroBatch-
  // Execution only calls `commit()` when the NEXT batch runs, and a
  // paused source announces no new offsets — resuming on commit would
  // deadlock (pause → no offsets → no next batch → no commit → paused
  // forever; this bit the first implementation). Delivered-not-yet-
  // committed messages stay buffered until commit trims them, so peak
  // memory is bounded by maxBuffered undelivered + one in-flight
  // batch ≤ 2× the mark. Fragments of an incomplete message are
  // always requested, so a fragmented frame cannot wedge the pause.
  private val maxBuffered = params.getOrElse("maxBufferedFrames", "262144").toInt
  require(maxBuffered > 0, "maxBufferedFrames must be positive")
  private val buffer = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
  private var base = recoverHead()
  private var persistedHead = base
  private var deliveredHi = base // highest offset handed to a batch
  private var paused = false
  private val partial = new StringBuilder
  private val binPartial = new java.io.ByteArrayOutputStream()

  /** Undelivered backlog; callers hold the lock. */
  private def undelivered: Long = base + buffer.size - deliveredHi

  /** Append a completed message; returns whether to keep requesting. */
  private def push(msg: AnyRef): Boolean = synchronized {
    buffer += msg
    paused = undelivered >= maxBuffered
    !paused
  }

  private val ws: WebSocket = HttpClient.newHttpClient().newWebSocketBuilder()
    .buildAsync(URI.create(url), new WebSocket.Listener {
      override def onText(w: WebSocket, data: CharSequence, last: Boolean)
          : CompletionStage[_] = {
        val keepGoing = if (!binaryFrames) {
          WebSocketFrameSource.this.synchronized(partial.append(data))
          if (last) {
            val msg = WebSocketFrameSource.this.synchronized {
              val s = partial.toString; partial.clear(); s
            }
            push(msg)
          } else true
        } else true
        if (keepGoing) w.request(1)
        null
      }
      override def onBinary(w: WebSocket, data: java.nio.ByteBuffer, last: Boolean)
          : CompletionStage[_] = {
        val keepGoing = if (binaryFrames) {
          val arr = new Array[Byte](data.remaining())
          data.get(arr)
          WebSocketFrameSource.this.synchronized(binPartial.write(arr, 0, arr.length))
          if (last) {
            val msg = WebSocketFrameSource.this.synchronized {
              val b = binPartial.toByteArray; binPartial.reset(); b
            }
            push(msg)
          } else true
        } else true
        if (keepGoing) w.request(1)
        null
      }
      override def onError(w: WebSocket, error: Throwable): Unit =
        logWarning(s"graft-websocket $url: ${error.getMessage}")
    }).join()

  /** Checkpoint-recovery rebase: an offset beyond this incarnation's
    * head can only come from a PREVIOUS incarnation's numbering (this
    * source counts messages since ITS connect). Without rebasing,
    * `commit(<recovered large offset>)` would trim the fresh
    * post-reconnect buffer — messages never delivered by any batch,
    * i.e. exactly the events the upstream re-sent strictly after the
    * persisted cursor — silently breaking the at-least-once contract.
    * Rebasing moves `base` up so buffered messages number AFTER the
    * recovered offset: nothing is trimmed, and the next getOffset
    * announces them as new data. Must be called with the lock held.
    */
  private def rebase(recovered: Long): Unit =
    if (recovered > base + buffer.size) {
      base = recovered
      deliveredHi = math.max(deliveredHi, base) // keep the backlog gauge sane
    }

  override def getOffset: Option[Offset] = synchronized {
    val head = base + buffer.size
    if (head > persistedHead) { persistHead(head); persistedHead = head }
    if (head == 0) None else Some(LongOffset(head))
  }

  /** Deliver messages `(start, end]`. A range at or below the trimmed
    * base (a checkpoint recovery against this non-replayable transport)
    * yields empty — the cursor re-dial, not the buffer, is the recovery
    * path.
    */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val (rows, resume) = synchronized {
      rebase(WebSocketFrameSource.offsetToLong(end)) // a recovered range re-runs as an empty batch
      val lo = math.max(start.map(WebSocketFrameSource.offsetToLong).getOrElse(0L), base)
      val hi = math.max(math.min(WebSocketFrameSource.offsetToLong(end), base + buffer.size), lo)
      deliveredHi = math.max(deliveredHi, hi)
      val out = buffer.slice((lo - base).toInt, (hi - base).toInt).toSeq
      val r = paused && undelivered <= maxBuffered / 2
      if (r) paused = false
      (out, r)
    }
    if (resume) ws.request(1) // outside the lock: request() may call back
    val spark = sqlContext.sparkSession
    import spark.implicits._
    val df =
      if (binaryFrames) rows.map(_.asInstanceOf[Array[Byte]]).toDF("value")
      else rows.map(_.asInstanceOf[String]).toDF("value")
    org.apache.spark.sql.graft.Bridge.asStreaming(df)
  }

  /** Trim the committed prefix (the socket-source memory contract). */
  override def commit(end: Offset): Unit = synchronized {
    rebase(WebSocketFrameSource.offsetToLong(end))
    val n = math.min(math.max(WebSocketFrameSource.offsetToLong(end) - base, 0L), buffer.size.toLong).toInt
    if (n > 0) { buffer.remove(0, n); base += n }
    deliveredHi = math.max(deliveredHi, base)
  }

  override def stop(): Unit =
    try {
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "stop")
      ws.abort()
    } catch { case _: Throwable => () }
}

/** S1 — the network ingress for the live tail: dial → decode →
  * sequence → events table, presenting the table-recovered cursor on
  * the dial URL exactly like the reference's connect loop
  * (main.go:299-317 dials `…/subscribe?cursor=N` and the server
  * replays strictly after N).
  */
object WebSocketIngress {

  /** Decoded envelope events streaming off the WebSocket. With
    * `format = "cbor"` the wire frames are binary DAG-CBOR (the
    * reference's upstream encoding) and the JSON materializes inside
    * the plan via the native `cbor_to_json` expression — the decode is
    * part of the same WholeStageCodegen span as the rest of the frame
    * parse, not a driver-side loop.
    */
  def events(spark: SparkSession, url: String, format: String = "text"): DataFrame = {
    val raw = spark.readStream.format("graft-websocket")
      .option("url", url).option("format", format).load()
    val json = format match {
      case "cbor" =>
        raw.select(graft.functions.GraftFunctions.cbor_to_json(
          org.apache.spark.sql.functions.col("value")).as("value"))
      case "firehose" =>
        // the REAL relay wire (S5): header+body CBOR items with CAR
        // blocks — the full CAR/MST/CID decode runs in-plan via the
        // native xrpc_frame_to_json expression (graft.functions.Car)
        raw.select(graft.functions.GraftFunctions.xrpc_frame_to_json(
          org.apache.spark.sql.functions.col("value")).as("value"))
      case _ => raw
    }
    Decode.decodeFrames(Decode.parseMixedFrames(json))
  }

  /** Start the standing ingest: `baseUrl` is dialed with the resume
    * cursor appended (`?cursor=<newest persisted event µs>`, 0 on a
    * fresh table), so restarts re-deliver instead of losing.
    * `cursorOverrideUs ≥ 0` takes precedence over the stored cursor —
    * S29's resolution order (cmd/jetstream/main.go:280-297).
    */
  def start(spark: SparkSession, baseUrl: String,
      tablePath: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      cursorOverrideUs: Long = -1L,
      format: String = "text",
      metrics: graft.serve.Metrics.Registry = graft.serve.Metrics.default,
      manifestCommits: Boolean = false): StreamingQuery = {
    // one table pass recovers BOTH marks (resume cursor + sequencer
    // high-water); a broken table fails here instead of resuming at 0
    val (storedCursor, prevMax) = graft.store.EventsTable.resumeState(spark, tablePath)
    val cursor = IngestJob.resolveStartCursor(
      Some(cursorOverrideUs).filter(_ >= 0), Some(storedCursor))
      .getOrElse(0L)
    val sep = if (baseUrl.contains("?")) "&" else "?"
    IngestJob.start(events(spark, s"$baseUrl${sep}cursor=$cursor", format),
      orderCols = Seq("event_time_us", "did", "type"),
      tablePath = tablePath, checkpointDir = checkpointDir,
      prevMaxUs = prevMax, trigger = trigger, metrics = metrics,
      manifestCommits = manifestCommits)
  }
}
