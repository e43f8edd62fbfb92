package graft.serve

import java.io.{BufferedOutputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** The reference's subscribe wire: WebSocket
  * (`GET /subscribe?wantedCollections=…&cursor=…` upgraded per
  * RFC 6455, cmd/jetstream/server.go:244-262 via the echo/websocket
  * stack), as the [[SocketServe.Transport]] that [[SocketServe.start]]
  * serves over — the serving loop (sessions, cutover chunks,
  * serialize-once fan-out, slow-consumer drops, metrics) is
  * [[SocketServe]]'s; this object is the handshake and the frame
  * encoding. A standard WebSocket client (e.g. the JDK's
  * `java.net.http.WebSocket`) can subscribe directly.
  *
  * Protocol implemented from the PUBLIC RFC 6455 surface only:
  * HTTP/1.1 Upgrade handshake (Sec-WebSocket-Accept = base64(SHA-1(
  * key + fixed GUID))), server frames unmasked, one TEXT frame per
  * wire JSON event (the reference emits one websocket message per
  * event, server.go:144-167), 7/16/64-bit payload lengths. Client
  * frames (masked) are drained on a daemon reader: CLOSE closes the
  * socket (which the serving loop surfaces as the standard drop),
  * PING is answered with PONG, everything else is ignored.
  */
object WebSocketServe {

  private[serve] object WsTransport extends SocketServe.Transport {

    def open(sock: Socket): Option[(String, SocketServe.WireWriter)] = {
      val in = sock.getInputStream
      // --- read the HTTP request head (terminated by CRLFCRLF; the
      // final byte IS the terminator — append before re-checking)
      val req = new StringBuilder
      def done = req.length >= 4 && req.substring(req.length - 4) == "\r\n\r\n"
      var eof = false
      while (!eof && !done && req.length < 64 * 1024) {
        val b = in.read()
        if (b == -1) eof = true else req.append(b.toChar)
      }
      if (!done) { return None }
      val lines = req.toString.split("\r\n")
      // request line: GET /subscribe?cursor=0 HTTP/1.1
      val target = lines.head.split(" ").lift(1).getOrElse("")
      val query = target.indexOf('?') match {
        case -1 => ""
        case i  => target.substring(i + 1)
      }
      val key = lines.find(_.toLowerCase.startsWith("sec-websocket-key:"))
        .map(_.split(":", 2)(1).trim)
      key match {
        case None =>
          sock.getOutputStream.write(
            "HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n".getBytes(UTF_8))
          None
        case Some(k) =>
          val accept = java.util.Base64.getEncoder.encodeToString(
            java.security.MessageDigest.getInstance("SHA-1").digest(
              (k + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes("US-ASCII")))
          val out = new BufferedOutputStream(sock.getOutputStream)
          out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
            "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
            s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes("US-ASCII"))
          out.flush()
          // frameBatch=<n> (this engine's OPT-IN extension, VERDICT r14
          // #8): coalesce up to n events per TEXT frame as line-delimited
          // JSON — the per-message client machinery (the measured
          // single-pipe ceiling) amortizes across n events. Default 1 =
          // the reference's one-message-per-event wire, so standard
          // jetstream clients are untouched; a transport-level knob,
          // invisible to the subscriber predicates.
          val frameBatch = """(?:^|&)frameBatch=(\d+)""".r
            .findFirstMatchIn(query).map(_.group(1).toInt)
            .filter(_ >= 1).getOrElse(1)
          val writer = new FrameWriter(out, frameBatch)
          startClientFrameReader(sock, in, writer)
          Some((s"subscribe?$query", writer))
      }
    }

    /** Drain masked client frames: CLOSE → close the socket (the
      * serving loop's next write throws and drops the subscriber),
      * PING → PONG, anything else skipped. Runs as a daemon so a
      * silent client costs one parked thread.
      */
    private def startClientFrameReader(sock: Socket, in: InputStream,
        writer: FrameWriter): Unit = {
      val t = new Thread(() => {
        try {
          var open = true
          while (open) {
            val b0 = in.read()
            if (b0 == -1) open = false
            else {
              val opcode = b0 & 0x0f
              val b1 = in.read()
              if (b1 == -1) open = false
              else {
                val masked = (b1 & 0x80) != 0
                var len: Long = b1 & 0x7f
                if (len == 126) len = (in.read() << 8) | in.read()
                else if (len == 127) {
                  len = 0L
                  (0 until 8).foreach(_ => len = (len << 8) | in.read())
                }
                // client payloads are drained and (except PING) ignored,
                // so a forged 64-bit length must not drive an allocation:
                // cap well above any legitimate control/close frame and
                // drop the connection past it (RFC 6455 only bounds
                // control frames; data frames need this explicit cap)
                if (len < 0 || len > 64 * 1024)
                  throw new java.io.IOException(s"client frame too large ($len)")
                val mask = if (masked) Array.fill(4)(in.read()) else Array.empty[Int]
                val payload = new Array[Byte](len.toInt)
                var off = 0
                while (off < len) {
                  val n = in.read(payload, off, (len - off).toInt)
                  if (n == -1) { open = false; off = len.toInt }
                  else off += n
                }
                if (masked) payload.indices.foreach(i =>
                  payload(i) = (payload(i) ^ mask(i % 4)).toByte)
                opcode match {
                  case 0x8 => open = false // CLOSE
                  case 0x9 => writer.control(0x8a, payload) // PING → PONG
                  case _   => () // data/PONG from client: ignored
                }
              }
            }
          }
        } catch { case _: Throwable => () }
        finally { try sock.close() catch { case _: Throwable => () } }
      }, "ws-serve-client-reader")
      t.setDaemon(true)
      t.start()
    }
  }

  /** Unmasked server frames; writes synchronized because PONGs from
    * the client reader interleave with the serving loop's emits.
    * `batch > 1` coalesces that many events per TEXT frame,
    * newline-delimited (events are single-line JSON by construction —
    * the wire serializer never emits raw newlines).
    */
  private final class FrameWriter(out: BufferedOutputStream, batch: Int = 1)
      extends SocketServe.WireWriter {

    def writeFrames(frames: Array[String]): Long = synchronized {
      var bytes = 0L
      def frame(p: Array[Byte]): Unit = {
        out.write(0x81) // FIN | TEXT
        bytes += 1 + writeLen(p.length) + p.length
        out.write(p)
      }
      if (batch <= 1) frames.foreach(f => frame(f.getBytes(UTF_8)))
      else frames.grouped(batch).foreach(g => frame(g.mkString("\n").getBytes(UTF_8)))
      out.flush()
      bytes
    }

    private[WebSocketServe] def control(head: Int, payload: Array[Byte]): Unit =
      synchronized {
        out.write(head)
        writeLen(payload.length)
        out.write(payload)
        out.flush()
      }

    /** Writes the 7/16/64-bit length; returns header bytes written. */
    private def writeLen(n: Int): Int =
      if (n < 126) { out.write(n); 1 }
      else if (n < 65536) { out.write(126); out.write(n >> 8); out.write(n & 0xff); 3 }
      else {
        out.write(127)
        (7 to 0 by -1).foreach(i => out.write(((n.toLong >> (8 * i)) & 0xff).toInt))
        9
      }
  }
}
