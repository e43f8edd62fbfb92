package graft

import java.io.OutputStream
import java.net.{ServerSocket, URI}
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.CompletionStage

/** Shared WebSocket test plumbing — ONE copy of the minimal RFC 6455
  * server and client the transport specs exercise (handshake, unmasked
  * server TEXT frames with 7/16/64-bit lengths, client reassembly).
  * Nothing here is product code; the kit exists so a framing fix in
  * one spec's fixture can't silently miss the others'.
  */
object WsTestKit {

  /** Write one unmasked server frame (TEXT or BINARY opcode). */
  private def sendFrame(out: OutputStream, opcode: Int, p: Array[Byte]): Unit = {
    out.write(0x80 | opcode) // FIN + opcode
    if (p.length < 126) out.write(p.length)
    else if (p.length < 65536) {
      out.write(126); out.write(p.length >> 8); out.write(p.length & 0xff)
    } else {
      out.write(127)
      (7 to 0 by -1).foreach(i => out.write(((p.length.toLong >> (8 * i)) & 0xff).toInt))
    }
    out.write(p); out.flush()
  }

  /** Write one unmasked server TEXT frame. */
  def sendText(out: OutputStream, s: String): Unit =
    sendFrame(out, 0x1, s.getBytes("UTF-8"))

  /** Write one unmasked server BINARY frame. */
  def sendBinary(out: OutputStream, p: Array[Byte]): Unit =
    sendFrame(out, 0x2, p)

  /** A minimal RFC 6455 upstream: performs the Upgrade handshake,
    * parses the request path's `cursor` parameter, then streams one
    * frame per `(timeUs, payload)` log entry with `timeUs > cursor` —
    * continuing as the log grows (the live firehose shape of the
    * reference's subscribe endpoint). Client (masked) frames are
    * drained and ignored. When `frameEncoder` is set, each log line is
    * encoded and sent as a BINARY frame (the CBOR-wire shape);
    * otherwise lines go as TEXT.
    */
  final class ReplayServer(frameEncoder: Option[String => Array[Byte]] = None) {
    val server = new ServerSocket(0)
    def port: Int = server.getLocalPort
    @volatile var log: Vector[(Long, String)] = Vector.empty
    @volatile private var closed = false

    private val acceptor = new Thread(() => {
      try while (!closed) {
        val sock = server.accept()
        new Thread(() => {
          try {
            val in = sock.getInputStream
            val out = sock.getOutputStream
            // --- HTTP Upgrade handshake (append BEFORE re-checking:
            // the request's final byte IS the terminator)
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
              .map(_.split(":", 2)(1).trim)
              .getOrElse(throw new IllegalStateException("no Sec-WebSocket-Key"))
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
            // --- stream the log: replay after cursor, then live tail
            var sent = 0
            while (!closed) {
              val snapshot = log
              while (sent < snapshot.size) {
                val (t, line) = snapshot(sent)
                if (t > cursor) frameEncoder match {
                  case Some(enc) => sendBinary(out, enc(line))
                  case None => sendText(out, line)
                }
                sent += 1
              }
              Thread.sleep(20)
            }
          } catch { case _: Throwable => () }
          finally sock.close()
        }).start()
      } catch { case _: Throwable => () }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    def close(): Unit = { closed = true; server.close() }
  }

  /** A JDK WebSocket subscriber accumulating complete text messages.
    * Many subscribers can share one `http` client (one selector thread
    * for all of them).
    */
  final class Client(url: String, http: HttpClient = HttpClient.newHttpClient()) {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val partial = new StringBuilder
    val ws: WebSocket = http.newWebSocketBuilder()
      .buildAsync(URI.create(url), new WebSocket.Listener {
        override def onText(w: WebSocket, data: CharSequence, last: Boolean)
            : CompletionStage[_] = {
          partial.append(data)
          if (last) {
            // a frameBatch subscriber receives n line-delimited events
            // per message; the default wire is one line per message and
            // events never contain raw newlines, so splitting is safe
            // for both
            partial.toString.split("\n").filter(_.nonEmpty).foreach(lines.add)
            partial.setLength(0)
          }
          w.request(1)
          null
        }
      }).join()
    def timesUs: Seq[Long] = {
      import scala.jdk.CollectionConverters._
      val re = """"time_us":(\d+)""".r
      lines.asScala.toSeq.map(l => re.findFirstMatchIn(l).get.group(1).toLong)
    }
    /** Drop the connection without a CLOSE handshake (a vanished peer). */
    def close(): Unit = ws.abort()
  }
}
