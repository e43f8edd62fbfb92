package perfbench

import java.io.{InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, SocketChannel}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.locks.LockSupport

/** One clock for the load process: wall-clock µs at start, advanced by
  * the monotonic timer, so schedules and receipts share a time base.
  */
object Clock {
  private val wall0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = wall0 + (System.nanoTime() - nano0) / 1000L
  def sleepUntilUs(us: Long): Unit = {
    var d = us - nowUs
    while (d > 0) { LockSupport.parkNanos(d * 1000L); d = us - nowUs }
  }
}

/** The RFC 6455 pieces both ends of the load process need. */
object Ws {
  def acceptKey(key: String): String =
    java.util.Base64.getEncoder.encodeToString(
      java.security.MessageDigest.getInstance("SHA-1").digest(
        (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(US_ASCII)))

  /** Reads an HTTP head up to the blank line. */
  def readHead(in: InputStream): String = {
    val sb = new StringBuilder
    while (!sb.endsWith("\r\n\r\n")) {
      val b = in.read()
      if (b == -1) throw new java.io.EOFException("connection closed in handshake")
      sb.append(b.toChar)
    }
    sb.toString
  }

  /** An unmasked (server → client) text frame. */
  def writeText(out: OutputStream, payload: Array[Byte]): Unit = {
    out.write(0x81)
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n < 65536) { out.write(126); out.write(n >> 8); out.write(n & 0xff) }
    else { out.write(127); (7 to 0 by -1).foreach(k => out.write(((n.toLong >> (8 * k)) & 0xff).toInt)) }
    out.write(payload)
  }
}

/** The upstream firehose the service dials: one WebSocket server that
  * sends the planned frames open-loop on their schedule, each stamped
  * with its scheduled time, so a stalled write is charged to later
  * events' latency rather than lowering the offered rate. Lateness
  * (send − schedule) is kept for every frame.
  */
final class Upstream(plan: Plan) {
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", 0))
  def port: Int = server.getLocalPort

  @volatile private var t0Us = Long.MaxValue
  @volatile private var fullUs = Long.MaxValue
  @volatile private var closed = false
  @volatile var connectedAtUs = 0L
  /** Scheduled time of the newest frame sent, µs. */
  @volatile var headSchedUs = 0L
  @volatile var lastSendUs = 0L
  val lateUs = new LongBuf
  /** Scheduled time of every frame sent, in send order. */
  val sentSchedUs = new LongBuf

  /** Starts the warm-up: warm-up frame `i` is due at t0 + its offset. */
  def start(atUs: Long): Unit = t0Us = atUs
  def t0: Long = t0Us
  /** Starts the full rate: full-rate frame `i` is due at `atUs` + its
    * offset. Until then the sender holds after the warm-up.
    */
  def startFull(atUs: Long): Unit = fullUs = atUs
  def fullStart: Long = fullUs

  private val thread = new Thread(() => {
    try while (!closed) serve(server.accept()) catch { case _: Throwable => () }
  }, "bench-upstream")
  thread.setDaemon(true)
  thread.start()

  private def serve(sock: Socket): Unit = try {
    sock.setTcpNoDelay(true)
    val in = sock.getInputStream
    val head = Ws.readHead(in)
    val key = head.split("\r\n").find(_.toLowerCase.startsWith("sec-websocket-key:"))
      .map(_.split(":", 2)(1).trim).getOrElse("")
    val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
    out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
      s"Connection: Upgrade\r\nSec-WebSocket-Accept: ${Ws.acceptKey(key)}\r\n\r\n")
      .getBytes(US_ASCII))
    out.flush()
    connectedAtUs = Clock.nowUs
    // client frames (pings, close) are read and ignored
    val drain = new Thread(() => try { while (in.read() != -1) () } catch { case _: Throwable => () },
      "bench-upstream-drain")
    drain.setDaemon(true)
    drain.start()
    while (t0Us == Long.MaxValue && !closed) Thread.sleep(1)
    var i = 0
    while (i < plan.frames.length && !closed) {
      if (!plan.isWarm(i)) while (fullUs == Long.MaxValue && !closed) { out.flush(); Thread.sleep(1) }
      val due = (if (plan.isWarm(i)) t0Us else fullUs) + plan.offsetUs(i)
      var now = Clock.nowUs
      if (now < due) { out.flush(); Clock.sleepUntilUs(due); now = Clock.nowUs }
      Ws.writeText(out, plan.frames(i).render(due).getBytes(UTF_8))
      lateUs.add(now - due)
      headSchedUs = due
      sentSchedUs.add(due)
      lastSendUs = now
      i += 1
    }
    out.flush()
    while (!closed) Thread.sleep(5)
  } catch {
    case e: Throwable if !closed => System.err.println(s"[perfbench] upstream connection failed: $e")
    case _: Throwable => ()
  } finally sock.close()

  def close(): Unit = { closed = true; server.close() }
}

/** A growable primitive long buffer. */
final class LongBuf {
  private var a = new Array[Long](1024)
  private var n = 0
  def add(v: Long): Unit = synchronized {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def size: Int = synchronized(n)
  def apply(i: Int): Long = synchronized(a(i))
  def last: Option[Long] = synchronized(if (n == 0) None else Some(a(n - 1)))
  def toArray: Array[Long] = synchronized(java.util.Arrays.copyOf(a, n))
}

/** What a live subscriber asks for. */
final case class SubSpec(name: String, collections: Seq[String] = Nil,
    dids: Seq[String] = Nil) {
  def query: String = (collections.map("wantedCollections=" + _) ++
    dids.map("wantedDids=" + _)).mkString("&")
  def admits(ev: FrameGen.Ev): Boolean =
    ev.kept && (collections.isEmpty || ev.collection == null || collections.contains(ev.collection)) &&
      (dids.isEmpty || dids.contains(ev.did))
}

/** Subscribers: raw WebSocket clients read by ONE selector thread. Per
  * received event they keep the event id, `time_us`, `event_time_us`
  * and the receipt time.
  */
final class Subscribers(port: Int, specs: Seq[SubSpec]) {
  final class Sub(val spec: SubSpec, val ch: SocketChannel, var buf: ByteBuffer) {
    val ids, timeUs, schedUs, recvUs = new LongBuf
    @volatile var connectedAtUs = 0L
    @volatile var closedByServer = false
    @volatile var unparsed = 0L
    def count: Int = ids.size
  }

  private val selector = Selector.open()
  val subs: Seq[Sub] = specs.map(connect)
  @volatile private var closed = false

  private def connect(spec: SubSpec): Sub = {
    val ch = SocketChannel.open(new InetSocketAddress("127.0.0.1", port))
    ch.socket().setTcpNoDelay(true)
    val key = java.util.Base64.getEncoder.encodeToString(spec.name.padTo(16, '_').take(16).getBytes(US_ASCII))
    val req = s"GET /subscribe?${spec.query} HTTP/1.1\r\nHost: localhost\r\n" +
      s"Upgrade: websocket\r\nConnection: Upgrade\r\nSec-WebSocket-Key: $key\r\n" +
      "Sec-WebSocket-Version: 13\r\n\r\n"
    ch.write(ByteBuffer.wrap(req.getBytes(US_ASCII)))
    // read the response head byte by byte so no frame byte is consumed
    val one = ByteBuffer.allocate(1)
    val head = new StringBuilder
    while (!head.endsWith("\r\n\r\n")) {
      one.clear()
      if (ch.read(one) < 0) throw new java.io.EOFException("subscribe handshake")
      head.append(one.get(0).toChar)
    }
    require(head.startsWith("HTTP/1.1 101"), s"subscribe rejected: ${head.takeWhile(_ != '\r')}")
    val s = new Sub(spec, ch, ByteBuffer.allocate(1 << 20))
    s.connectedAtUs = Clock.nowUs
    s
  }

  private val thread = new Thread(() => {
    try {
      subs.foreach { s => s.ch.configureBlocking(false); s.ch.register(selector, SelectionKey.OP_READ, s) }
      while (!closed) {
        selector.select(50)
        val it = selector.selectedKeys().iterator()
        while (it.hasNext) {
          val k = it.next(); it.remove()
          val s = k.attachment().asInstanceOf[Sub]
          if (s.ch.read(s.buf) < 0) { s.closedByServer = !closed; k.cancel() }
          else drainFrames(s)
        }
      }
    } catch { case _: java.nio.channels.ClosedSelectorException => () }
  }, "bench-subscribers")
  thread.setDaemon(true)
  thread.start()

  private def drainFrames(s: Sub): Unit = {
    val b = s.buf
    b.flip()
    var more = true
    while (more && b.remaining() >= 2) {
      b.mark()
      val b0 = b.get() & 0xff
      var len = (b.get() & 0x7f).toLong
      val hdrOk =
        if (len == 126) { if (b.remaining() >= 2) { len = b.getShort() & 0xffff; true } else false }
        else if (len == 127) { if (b.remaining() >= 8) { len = b.getLong(); true } else false }
        else true
      if (!hdrOk || b.remaining() < len) { b.reset(); more = false }
      else {
        val payload = new Array[Byte](len.toInt)
        b.get(payload)
        (b0 & 0x0f) match {
          case 0x1 | 0x0 => onText(s, new String(payload, UTF_8))
          case 0x8 => s.closedByServer = !closed
          case _ => ()
        }
      }
    }
    b.compact()
    if (!b.hasRemaining) { // a frame larger than the buffer: grow it
      val nb = ByteBuffer.allocate(b.capacity() * 2); b.flip(); nb.put(b); s.buf = nb
    }
  }

  private def onText(s: Sub, msg: String): Unit = {
    val now = Clock.nowUs
    msg.split('\n').foreach { ev =>
      val t = Subscribers.longAfter(ev, "\"time_us\":")
      val st = Subscribers.longAfter(ev, "\"event_time_us\":")
      val id = {
        val r = Subscribers.longAfter(ev, "\"rkey\":\"r")
        if (r >= 0) r else Subscribers.longAfter(ev, "\"seq\":")
      }
      if (t < 0 || id < 0) s.unparsed += 1
      else { s.ids.add(id); s.timeUs.add(t); s.schedUs.add(st); s.recvUs.add(now) }
    }
  }

  def close(): Unit = {
    closed = true
    thread.join(2000)
    subs.foreach(s => try s.ch.close() catch { case _: Throwable => () })
    selector.close()
  }
}

object Subscribers {
  /** The non-negative integer right after `key` in `s`, or -1. */
  def longAfter(s: String, key: String): Long = {
    val i = s.indexOf(key)
    if (i < 0) -1L
    else {
      var j = i + key.length
      var v = 0L
      val start = j
      while (j < s.length && Character.isDigit(s.charAt(j))) { v = v * 10 + (s.charAt(j) - '0'); j += 1 }
      if (j == start) -1L else v
    }
  }
}
