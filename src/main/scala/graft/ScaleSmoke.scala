package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.Ann
import graft.ingest.{Decode, Sequencer}
import graft.serve.Subscribe
import graft.store.EventsTable

/** Scale smoke: generates a multi-hour synthetic event log (default 20M
  * rows — ~200× the sf0.1 fixture) in the EventsTable layout and
  * measures the hot paths against the reference's engineered capacity
  * numbers (BASELINE.md): replay throughput vs the 50k events/s playback
  * cap, live filter throughput vs the 5k events/s sub cap, sequencer
  * stamp rate vs the single-goroutine fan-in, and partition pruning
  * effectiveness of the cursor range scan.
  *
  * Usage: runMain graft.ScaleSmoke [nEvents]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    // `runMain graft.ScaleSmoke soak [minutes] [eventsPerSec]` — the
    // operational soak of the composed service (graft.Soak); a
    // 10-minute wall-clock section, so not part of the default pass
    val soakMode = args.headOption.contains("soak")
    val namedMode = args.headOption.exists(a => !a.forall(_.isDigit))
    val n = if (namedMode) 0L else args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      // explicit (they default on in Spark 4): runtime re-plan + skew-join
      // splitting are part of the engine's scale posture
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the soak runs the composed service: FAIR scheduling keeps the
      // replay pump's pool from starving behind live micro-batch jobs
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.HourBounds
    spark.sparkContext.setLogLevel("WARN")

    if (soakMode) {
      // soak [minutes] [eventsPerSec] [ingestTriggerMs] [multi] [manifest] [batch]
      Soak.run(spark,
        minutes = args.lift(1).map(_.toInt).getOrElse(10),
        ratePerSec = args.lift(2).map(_.toInt).getOrElse(10000),
        ingestTriggerMs = args.lift(3).map(_.toLong).getOrElse(1000L),
        multiEdge = args.drop(4).contains("multi"),
        manifestMode = args.drop(4).contains("manifest"),
        frameBatch = if (args.drop(4).contains("batch")) 64 else 1)
      spark.stop()
      return
    }

    if (args.headOption.contains("append")) {
      // `runMain graft.ScaleSmoke append [nEvents]` — the live-hour
      // write ceiling before/after the sharded prefix-closed append
      // (VERDICT r12 #3): one batch, ONE hour (the worst case for the
      // one-file-per-hour form: the entire batch funnels through a
      // single task), appended with shards=1 vs auto.
      val rows = args.lift(1).map(_.toLong).getOrElse(5000000L)
      import spark.implicits._
      val batch = spark.range(0L, rows, 1L, 32).select(
        (col("id") + 1000L).as("time_us"), // all inside hour 0
        concat(lit("did"), col("id") % 100000).as("did"),
        lit("app.bsky.feed.post").as("collection"),
        lit("{\"k\":\"v\"}").as("record")).cache()
      val n = batch.count() // materialize outside the timed window
      Seq(1, EventsTable.autoShards(n)).foreach { shards =>
        val dir = java.nio.file.Files.createTempDirectory("graft-appendbench").toString
        val t0 = System.nanoTime()
        EventsTable.append(batch, dir, shards)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[append] $n rows, one hour, shards=$shards: $sec%.1fs = ${n / sec / 1000}%.0fk ev/s")
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("wsegress")) {
      // `runMain graft.ScaleSmoke wsegress [nFrames]` — decompose the
      // per-subscriber WebSocket delivery ceiling the 25k soak hit:
      // a minimal RFC 6455 server blasts soak-shaped ~250 B frames at
      // full speed to three readers in turn — (a) the JDK WebSocket
      // client with the soak subscriber's 3-regex parse, (b) the JDK
      // client counting only, (c) a raw-socket reader parsing frames
      // off the InputStream directly. (a)-(b) = parse cost; (b)-(c) =
      // the JDK client machinery itself; (c) = server framing + TCP.
      val nFrames = args.lift(1).map(_.toInt).getOrElse(1000000)
      val frame = """{"did":"did:plc:abcdefghijklmnop","time_us":1755237000000000,"type":"com","commit":{"rev":"3kz","type":"c","collection":"app.bsky.feed.post","rkey":"3kabc","record":"{\"sw\":1755237000000000,\"n\":123456,\"text\":\"hello world\"}","cid":"bafyrei"}}"""
      val payload = frame.getBytes("UTF-8")
      val server = new java.net.ServerSocket(0)
      val t = new Thread(() => {
        while (true) {
          val s = server.accept()
          val in = s.getInputStream
          val req = new StringBuilder
          while (req.length < 4 || req.substring(req.length - 4) != "\r\n\r\n") {
            val b = in.read(); if (b == -1) throw new java.io.EOFException
            req.append(b.toChar); ()
          }
          val key = req.toString.split("\r\n")
            .find(_.toLowerCase.startsWith("sec-websocket-key:")).get.split(":", 2)(1).trim
          // batch=<n> in the request line → n events per frame,
          // line-delimited (the frameBatch wire the serve edge emits)
          val batch = """batch=(\d+)""".r.findFirstMatchIn(req.toString.split("\r\n").head)
            .map(_.group(1).toInt).getOrElse(1)
          val accept = java.util.Base64.getEncoder.encodeToString(
            java.security.MessageDigest.getInstance("SHA-1").digest(
              (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes("US-ASCII")))
          val out = new java.io.BufferedOutputStream(s.getOutputStream, 1 << 16)
          out.write(("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
            s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n").getBytes("US-ASCII"))
          out.flush()
          def writeFrame(p: Array[Byte]): Unit = {
            out.write(0x81)
            if (p.length < 126) out.write(p.length)
            else if (p.length < 65536) {
              out.write(126); out.write(p.length >> 8); out.write(p.length & 0xff)
            } else {
              out.write(127)
              (7 to 0 by -1).foreach(i => out.write(((p.length.toLong >> (8 * i)) & 0xff).toInt))
            }
            out.write(p)
          }
          if (batch <= 1) {
            var i = 0
            while (i < nFrames) { writeFrame(payload); i += 1 }
          } else {
            val group = Array.fill(batch)(frame).mkString("\n").getBytes("UTF-8")
            var sent = 0
            while (sent + batch <= nFrames) { writeFrame(group); sent += batch }
            while (sent < nFrames) { writeFrame(payload); sent += 1 }
          }
          val end = "END".getBytes("UTF-8")
          out.write(0x81); out.write(end.length); out.write(end); out.flush()
        }
      }, "wsegress-server")
      t.setDaemon(true); t.start()
      val uri = java.net.URI.create(s"ws://localhost:${server.getLocalPort}/subscribe")

      def jdkClient(parse: Boolean, batch: Int = 1): Double = {
        val done = new java.util.concurrent.CountDownLatch(1)
        val n = new java.util.concurrent.atomic.AtomicLong
        val swRe = """sw\\?"\s*:\s*(\d+)""".r
        val nRe = """"n\\?"\s*:\s*(\d+)""".r
        val tRe = """"time_us":(\d+)""".r
        val partial = new StringBuilder
        val t0 = System.nanoTime()
        val u = if (batch <= 1) uri
          else java.net.URI.create(s"$uri?batch=$batch")
        val ws = java.net.http.HttpClient.newHttpClient().newWebSocketBuilder()
          .buildAsync(u, new java.net.http.WebSocket.Listener {
            override def onText(w: java.net.http.WebSocket, data: CharSequence,
                last: Boolean): java.util.concurrent.CompletionStage[_] = {
              partial.append(data)
              if (last) {
                val msg = partial.toString; partial.setLength(0)
                if (msg == "END") done.countDown()
                else msg.split("\n").foreach { line =>
                  if (parse) {
                    nRe.findFirstMatchIn(line)
                    tRe.findFirstMatchIn(line)
                    swRe.findFirstMatchIn(line)
                    ()
                  }
                  n.incrementAndGet(); ()
                }
              }
              w.request(1)
              null
            }
          }).join()
        done.await()
        val sec = (System.nanoTime() - t0) / 1e9
        ws.abort()
        n.get() / sec
      }

      def rawClient(): Double = {
        val s = new java.net.Socket("localhost", server.getLocalPort)
        val out = s.getOutputStream
        out.write(("GET /subscribe HTTP/1.1\r\nHost: localhost\r\nUpgrade: websocket\r\n" +
          "Connection: Upgrade\r\nSec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n" +
          "Sec-WebSocket-Version: 13\r\n\r\n").getBytes("US-ASCII"))
        out.flush()
        val in = new java.io.BufferedInputStream(s.getInputStream, 1 << 16)
        val head = new StringBuilder
        while (head.length < 4 || head.substring(head.length - 4) != "\r\n\r\n") {
          head.append(in.read().toChar); ()
        }
        val t0 = System.nanoTime()
        var count = 0L
        var endSeen = false
        while (!endSeen) {
          in.read() // FIN|TEXT
          val l0 = in.read() & 0x7f
          val len =
            if (l0 < 126) l0
            else if (l0 == 126) (in.read() << 8) | in.read()
            else (0 until 8).foldLeft(0)((a, _) => (a << 8) | in.read())
          val buf = new Array[Byte](len)
          var off = 0
          while (off < len) off += in.read(buf, off, len - off)
          if (len == 3 && new String(buf, "UTF-8") == "END") endSeen = true
          else count += 1
        }
        val sec = (System.nanoTime() - t0) / 1e9
        s.close()
        count / sec
      }

      println(f"[wsegress] raw-socket reader:        ${rawClient() / 1000}%.0fk frames/s")
      println(f"[wsegress] JDK WS client, count only: ${jdkClient(parse = false) / 1000}%.0fk frames/s")
      val single = jdkClient(parse = true)
      println(f"[wsegress] JDK WS client, soak parse: ${single / 1000}%.0fk ev/s")
      // frameBatch (VERDICT r14 #8) measured at the micro level: on an
      // OTHERWISE-IDLE loopback the per-event regex parse dominates and
      // batching is ~parity (measured 0.8-1.0×) — the micro bench
      // CANNOT see what batching buys on the composed box, where the
      // per-message listener wakeups, request(1) round-trips, and
      // serve-side write/flush syscalls compete with 32 Spark threads.
      // The composed verdict is the soak's (`soak … batch` mode); this
      // section reports the isolated ratios honestly.
      Seq(16, 64, 256).foreach { b =>
        val r = jdkClient(parse = true, batch = b)
        println(f"[wsegress] JDK WS client, parse, frameBatch=$b%-3d: ${r / 1000}%.0fk ev/s " +
          f"(${r / single}%.1fx single-frame)")
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("spans")) {
      // `runMain graft.ScaleSmoke spans` — substring_spans growth at a
      // BIGGER small end (VERDICT r12 #6): the sf0.01→sf0.1 gate spans
      // 500→5000 docs, where constants (JVM, planning, shuffle setup)
      // dominate the small side and the TIME ratio wobbles round-over-
      // round (3.97→5.13× on identical code). This family holds the
      // corpus SHAPE fixed — 60-word docs from a 40-word vocab, 20% of
      // docs carrying one of 25 fixed 16-word template sentences (the
      // duplication source, linear in docs by construction) — and
      // scales 5k→40k docs, where constants amortize.
      import spark.implicits._
      def corpus(nDocs: Long) =
        spark.range(0L, nDocs, 1L, 32).selectExpr(
          "id AS doc_id",
          """CASE WHEN id % 5 = 0 THEN
            |  concat_ws(' ',
            |    array_join(transform(sequence(1, 22), i ->
            |      element_at(split('key agg row scan slow fast table value part hash merge batch the a line sort window group big small query order data column join stream customer filter vector spark', ' '),
            |        cast(1 + pmod(xxhash64(id * 131 + i), 30) AS int))), ' '),
            |    array_join(transform(sequence(1, 16), i ->
            |      element_at(split('key agg row scan slow fast table value part hash merge batch the a line sort', ' '),
            |        cast(1 + pmod(xxhash64((id % 25) * 7 + i * 17), 16) AS int))), ' '),
            |    array_join(transform(sequence(1, 22), i ->
            |      element_at(split('key agg row scan slow fast table value part hash merge batch the a line sort window group big small query order data column join stream customer filter vector spark', ' '),
            |        cast(1 + pmod(xxhash64(id * 977 + i), 30) AS int))), ' '))
            |ELSE
            |  array_join(transform(sequence(1, 60), i ->
            |    element_at(split('key agg row scan slow fast table value part hash merge batch the a line sort window group big small query order data column join stream customer filter vector spark', ' '),
            |      cast(1 + pmod(xxhash64(id * 31 + i), 30) AS int))), ' ')
            |END AS text""".stripMargin)
      Seq(5000L, 10000L, 20000L, 40000L).foreach { nDocs =>
        val df = corpus(nDocs).cache()
        df.count()
        val wr = graft.ext.Dedup.substringSpanWindowRows(df, "doc_id", "text")
        val secs = (1 to 2).map { _ =>
          spark.catalog.clearCache(); df.cache(); df.count(); System.gc()
          val t0 = System.nanoTime()
          graft.ext.Dedup.substringSpans(df, "doc_id", "text").count()
          (System.nanoTime() - t0) / 1e9
        }
        val spansN = graft.ext.Dedup.substringSpans(df, "doc_id", "text").count()
        println(f"[spans] docs=$nDocs windowRows=$wr spans=$spansN sec=${secs.min}%.2f")
        df.unpersist()
        ()
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("batchprobe")) {
      // `runMain graft.ScaleSmoke batchprobe [nQueries]` — VERDICT r14
      // #2 at retrieval-pipeline volume: >= 100k queries against an
      // IVF-PQ index. The batch is planned with the driver budget at 0,
      // so every data join takes the SHUFFLE path (structurally checked:
      // the only broadcast hint is the K-row centroids'); a 2k-query
      // sample re-probes through the forced-broadcast path and the
      // per-query results must be identical (the same pin IndexSpec
      // holds at fixture scale).
      import org.apache.spark.sql.functions._
      val nQ = args.lift(1).map(_.toLong).getOrElse(100000L)
      val dim = 32
      val nVecs = 100000L
      val cells = 64 // ADC work = N_q × nprobe × (nVecs/cells) scored rows
      def vecsOf(n: Long, seed: Long) = spark.range(0L, n, 1L, 32).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id") * lit(seed + 131L) + i.cast("long")), lit(1000L)) / 1000.0)
          .as("embedding"))
      val idx = java.nio.file.Files.createTempDirectory("batchprobe-idx").toString
      var t0 = System.nanoTime()
      Ann.build(vecsOf(nVecs, 0L), "vec_id", "embedding", idx,
        Ann.PQ(dim = dim, m = 8, ksub = 16), Ann.Ivf(k = cells))
      println(f"[batchprobe] index built over $nVecs vectors in ${(System.nanoTime() - t0) / 1e9}%.1fs")

      val queries = vecsOf(nQ, 7L)
      val big = graft.util.DriverBudget.withBytes(0L)(Ann.probeBatch(spark, idx,
        Ann.Ivf(nprobe = 4), "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 10, rerank = 50))
      val hints = big.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
      require(hints == 1, s"expected only the centroid broadcast hint at nQ=$nQ, got $hints")
      t0 = System.nanoTime()
      val n = big.count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[batchprobe] SHUFFLE path: $nQ queries -> $n results in $secs%.1fs " +
        f"(${nQ / secs}%.0f q/s)")

      // path equality on a 2k-query sample
      val step = math.max(1L, nQ / 2000L)
      val sample = queries.filter(col("vec_id") % step === 0)
      def probe(budget: Long) = graft.util.DriverBudget.withBytes(budget)(
        Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 4), "vec_id", "embedding",
          sample, "vec_id", "embedding", k = 10, rerank = 50))
      val bc = probe(Long.MaxValue)
      val sh = probe(0L)
      val onlyBc = bc.exceptAll(sh).count()
      val onlySh = sh.exceptAll(bc).count()
      require(onlyBc == 0 && onlySh == 0,
        s"paths diverge: $onlyBc rows only-broadcast, $onlySh only-shuffle")
      println(s"[batchprobe] PASS: broadcast and shuffle paths identical over " +
        s"${sample.count()} sampled queries")
      spark.stop()
      return
    }

    if (args.headOption.contains("assignbench")) {
      // `runMain graft.ScaleSmoke assignbench [nVecs] [k]` — A/B the two
      // k-means assignment forms at production K×dim (the ladder's
      // IVF-SQ8 build measured 23 min at 1M×64/K=64 — learner-bound):
      // the literal argmax embeds K×dim constants in one codegen'd
      // projection; the broadcast-join form pays a groupBy instead.
      import org.apache.spark.sql.functions._
      val nVecs = args.lift(1).map(_.toLong).getOrElse(1000000L)
      val k = args.lift(2).map(_.toInt).getOrElse(64)
      val dim = 64
      val vecs = spark.range(0L, nVecs, 1L, 32).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id") * lit(131L) + i.cast("long")), lit(1000L)) / 1000.0)
          .as("embedding")).cache()
      vecs.count()
      val cents = (0 until k).map(j =>
        (0 until dim).map(d => ((j * dim + d) % 997) / 997.0: Double).toSeq)
      def timed(tag: String)(body: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = body
        println(f"[assign] $tag: ${(System.nanoTime() - t0) / 1e9}%.1fs ($n rows)")
      }
      timed(s"literal argmax K=$k") {
        vecs.withColumn("label",
          graft.ext.Similarity.assignCell("embedding", cents))
          .groupBy("label").count().count()
      }
      timed(s"broadcast-join K=$k") {
        graft.ext.Similarity.assignCellsJoin(vecs, "vec_id", "embedding", cents)
          .groupBy("label").count().count()
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("mixture")) {
      // `runMain graft.ScaleSmoke mixture [nDocs]` — VERDICT r15 #1 at
      // the adversarial geometry: ALL docs in ONE source (the dominant-
      // crawl case where the old per-stratum running-sum window became
      // a single-task sort of the corpus). The two-phase prefix sum
      // must spread the running total across (stratum, chunk) groups:
      // chunks=1 reproduces the old single-task shape, chunks=1024 is
      // the shipped default — same rows, same budget cut, and the
      // wall-clock gap IS the parallelism reclaimed.
      import org.apache.spark.sql.functions._
      val nDocs = args.lift(1).map(_.toLong).getOrElse(10000000L)
      val docs = spark.range(0L, nDocs, 1L, 32).select(
        col("id").as("doc_id"), lit("crawl").as("source"),
        (pmod(xxhash64(col("id") * 31L), lit(200L)) + 20L).as("toks")).cache()
      docs.count()
      // budget = half the corpus token mass — the filter keeps ~half,
      // so the running sum is computed for every row either way
      val budget = docs.agg(sum(col("toks"))).head().getLong(0) / 2
      Seq(1, 32, 1024).foreach { c =>
        val secs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val kept = graft.ext.Sampling.mixtureByBudget(
            docs, "source", "doc_id", col("toks"), lit(budget), chunks = c).count()
          ((System.nanoTime() - t0) / 1e9, kept)
        }
        println(f"[mixture] docs=$nDocs chunks=$c kept=${secs.head._2} sec=${secs.map(_._1).min}%.2f")
      }
      docs.unpersist()
      spark.stop()
      return
    }

    if (args.headOption.contains("gate")) {
      // `runMain graft.ScaleSmoke gate [nDocs]` — VERDICT r16 #1 at the
      // adversarial geometry: percentileGate with ONE constant stratum
      // ([[graft.ext.Dsir.sampleByShare]]'s "__all" group) over a
      // ≥10M-doc corpus whose values are 1e-6-quantized — maximal
      // distinct-value histogram, the case where the old
      // partitionBy(stratum) cumulative window ran ONE task. chunks=1
      // reproduces that shape; chunks=256 is the shipped default. Same
      // kept count either way (long addition is associative) — the
      // wall-clock gap IS the parallelism reclaimed.
      import org.apache.spark.sql.functions._
      val nDocs = args.lift(1).map(_.toLong).getOrElse(10000000L)
      val docs = spark.range(0L, nDocs, 1L, 32).select(
        col("id").as("doc_id"), lit("__all").as("s"),
        // ~uniform on [0, 10) at 1e-7 quantization — the Gumbel-key
        // shape where nearly every doc's value is distinct → the
        // histogram is ~nDocs rows, every one through the cum window
        (pmod(xxhash64(col("id") * 131L), lit(100000000L)).cast("double") / 1e7)
          .as("v")).cache()
      docs.count()
      Seq(1, 32, 256).foreach { c =>
        val secs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          val kept = graft.ext.TextStats.percentileGate(
            docs, "s", "v", q = 0.7, chunks = c).count()
          ((System.nanoTime() - t0) / 1e9, kept)
        }
        println(f"[gate] docs=$nDocs chunks=$c kept=${secs.head._2} sec=${secs.map(_._1).min}%.2f")
      }
      docs.unpersist()
      spark.stop()
      return
    }

    if (args.headOption.contains("corpus")) {
      // `runMain graft.ScaleSmoke corpus [nDocs]` — the full corpus
      // pipeline alone, in a clean JVM: the 10M-doc geometry measured
      // without the event sections' leftover cache/broadcast footprint
      corpusPipelineSection(spark, args.lift(1).map(_.toLong).getOrElse(2000000L))
      spark.stop()
      return
    }

    if (args.headOption.contains("rehearsal")) {
      // `runMain graft.ScaleSmoke rehearsal pipeline [nDocs]` /
      // `runMain graft.ScaleSmoke rehearsal ann [nVecs]` — VERDICT r16
      // #5, the 100×-shape rehearsal: the growth gates are per-query at
      // sf0.01→sf0.1; this composes the SAME code paths two decades
      // above them, once, and publishes per-stage wall-times so PERF.md
      // can compare each stage's measured growth exponent at scale
      // against the sf-gate's ^1.3 budget.
      import org.apache.spark.sql.functions._
      val mode = args.lift(1).getOrElse("pipeline")

      if (mode == "pipeline") {
        // the full 10-stage corpus pipeline in DURABLE-checkpoint mode
        // (the 100 TB posture) at nDocs/10 and nDocs: two points AT
        // scale → per-stage growth exponent log10(t_big/t_small); the
        // sf gates predict ≤ 1.3 everywhere
        val nDocs = args.lift(2).map(_.toLong).getOrElse(30000000L)
        def runAt(n: Long): Seq[(String, Long, Long, Double)] = {
          // SCALE-ADAPTIVE reduce width (guide §2), derived from the
          // leg's input size: at the fixed local shuffle.partitions the
          // 30M leg's boilerplate reassembly (collect_list of ~20 GB of
          // chunk text by doc id) spilled through 32 reduce tasks and
          // went superlinear (measured exponent 1.42 vs the ^1.3 gate),
          // while a blanket high constant (1024) taxed the SMALL leg
          // 2.6× in map-side buckets and checkpoint files. ~100k docs
          // (≈45 MB of chunk text) per reduce task bounds per-task
          // state at any n; AQE coalescing still shrinks every stage
          // that turns out small. This is the production posture: the
          // width follows the data, not the core count.
          spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            math.max(spark.sparkContext.defaultParallelism,
              (n / 100000L).toInt).toString)
          val seed = pmod(col("id"), lit((n * 9) / 10 + 1))
          def word(k: Int) = concat(lit("w"), pmod(hash(seed * 60 + k), lit(100000)))
          val tokens = (0 until 10).map(word) ++ Seq(lit("the")) ++
            (10 until 40).map(word) ++ Seq(lit("and")) ++ (40 until 60).map(word)
          val corpus = spark.range(n).select(
            col("id").as("doc_id"),
            concat_ws(" ", tokens: _*).as("text"),
            element_at(array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("pt")),
              (pmod(hash(col("id") + 3), lit(5)) + 1).cast("int")).as("lang"),
            concat(lit("src"), pmod(col("id"), lit(8))).as("source"))
            .withColumn("n_chars", length(col("text")))
          val srcDir = java.nio.file.Files.createTempDirectory("graft-rehearsal-src").toString
          corpus.write.mode("overwrite").parquet(s"$srcDir/docs")
          val outDir = java.nio.file.Files.createTempDirectory("graft-rehearsal-out").toString
          val ckptDir = java.nio.file.Files.createTempDirectory("graft-rehearsal-ckpt").toString
          val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
          val t0 = System.nanoTime()
          val stages = graft.ext.CorpusPipeline.runOn(spark,
            spark.read.parquet(s"$srcDir/docs"), outDir,
            checkpointDir = Some(ckptDir),
            onStage = (name, sec) => times(name) = sec)
          val total = (System.nanoTime() - t0) / 1e9
          println(f"[rehearsal] pipeline @ $n%d docs: $total%.1fs end-to-end " +
            f"(${n / total / 1000}%.1fk docs/s, durable checkpoints)")
          def rm(d: String): Unit = {
            val p = new org.apache.hadoop.fs.Path(d)
            p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true): Unit
          }
          Seq(srcDir, outDir, ckptDir).foreach(rm)
          stages.map(st => (st.stage, st.docsIn, st.docsOut,
            times.getOrElse(st.stage, -1.0)))
        }
        val small = runAt(nDocs / 10)
        val big = runAt(nDocs)
        println(f"[rehearsal] per-stage growth at ${nDocs / 10}%d → $nDocs%d docs " +
          "(gate budget: exponent ≤ 1.3 per 10× rows):")
        small.zip(big).foreach { case ((name, _, _, t1), (_, in2, out2, t2)) =>
          val g = if (t1 > 0 && t2 > 0) math.log(t2 / t1) / math.log(10.0) else -1.0
          println(f"[rehearsal]   $name%-16s in=$in2%11d out=$out2%11d " +
            f"t_small=$t1%8.1fs t_big=$t2%8.1fs exponent=$g%5.2f" +
            (if (g > 1.3) "  <-- OVER BUDGET" else ""))
        }
        spark.stop()
        return
      }

      if (mode == "opq") {
        // `runMain graft.ScaleSmoke rehearsal opq [nVecs]` — VERDICT
        // r17 #5's measurement: the OPQ rotation learn at the
        // production geometry (d=768, the 64k sample cap) after the M
        // accumulation reshape from n·d² exploded rows to n·d rows of
        // element-wise decimal sums. The arithmetic floor is unchanged
        // (n·d² decimal products per iteration — that IS the statistic);
        // what the reshape removes is the d²-keyed row traffic and
        // group lookups around it.
        val nVecs = args.lift(2).map(_.toLong).getOrElse(65536L)
        val dim = 768
        val grid = 4503599627370496L
        val corpus = spark.range(0L, nVecs, 1L, 64).select(
          col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            i => pmod(xxhash64(col("id") * lit(1000003L) + i.cast("long")), lit(grid)) / grid.toDouble)
            .as("embedding"))
          .cache()
        corpus.count() // generation off the clock
        val t0 = System.nanoTime()
        val r = graft.ext.Similarity.learnOpqRotation(corpus, "vec_id",
          "embedding", dim, m = 8, ksub = 16, pqIters = 1, opqIters = 1)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[rehearsal] opq rotation learn @ $nVecs%d x $dim (m=8, ksub=16, " +
          f"1 pq iter, 1 opq iter): $sec%.1fs (R ${r.size}x${r.head.size})")
        spark.stop()
        return
      }

      if (mode == "ann") {
        // the batch ANN serving shape at ≥10M × 768 dense vectors: ONE
        // shared IVF base (sampled coarse learn — quantizer statistics
        // from a hash sample, the full corpus only pays the assignment
        // pass once, inside the cell-partitioned vectors write), SQ8
        // codes + BQ words over the same cells, single + 10k-query
        // batch probes on each rung
        val nVecs = args.lift(2).map(_.toLong).getOrElse(10000000L)
        val dim = 768
        val grid = 4503599627370496L
        spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", 512)
        // the corpus is generated ON THE FLY (deterministic hash of the
        // id — each pass recomputes it): full-mantissa dim-768 doubles
        // weigh 6.2 KB/vector, and materializing BOTH the raw table and
        // the index's cell-partitioned copy would double the disk bill
        // for no engine signal (the rehearsal measures the index + probe
        // shapes, not parquet ingest IO — the ladder section covers scan
        // economics)
        var t0 = System.nanoTime()
        val corpus = spark.range(0L, nVecs, 1L, 64).select(
          col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            i => pmod(xxhash64(col("id") * lit(1000003L) + i.cast("long")), lit(grid)) / grid.toDouble)
            .as("embedding"))
        def sec(since: Long): Double = (System.nanoTime() - since) / 1e9
        def dirBytes(p: String): Long = {
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(spark.sessionState.newHadoopConf())
            .getContentSummary(path).getLength
        }
        val k = 256
        val idx = java.nio.file.Files.createTempDirectory("graft-rehearsal-ivf").toString
        t0 = System.nanoTime()
        val sample = corpus.filter(pmod(xxhash64(col("vec_id") * 31L), lit(50L)) === 0L)
        val cents = graft.ext.Similarity.kmeansCentroids(sample, "vec_id", "embedding", k, 2)
        println(f"[rehearsal] coarse k-means (K=$k, 2 iters, 1/50 sample): ${sec(t0)}%.1fs")
        val bqIdx = java.nio.file.Files.createTempDirectory("graft-rehearsal-bq").toString
        t0 = System.nanoTime()
        // CELL-RANGE-CHUNKED shared build: a one-shot
        // shared-base write sorts the WHOLE corpus by cell inside
        // the partitionBy writer — a transient spill copy that doubled
        // the 24.6 GB vectors table and filled the disk at 8M. Here the
        // dim-wide data never reorganizes: the assignment runs ONCE into
        // a narrow (vec_id, label) table (~16 B/row), and the vectors
        // write proceeds in CHUNKS of the cell range — each chunk
        // regenerates the corpus on the fly (hash transforms, cheap),
        // broadcast-joins its chunk's labels, and partitionBy-sorts only
        // chunk-sized data (~1/8 of the corpus spill at a time). Peak
        // disk = final artifacts + one chunk's spill.
        Ann.buildBaseChunked(corpus, "vec_id", "embedding", idx, cents, ranges = 8)
        Ann.build(corpus, "vec_id", "embedding", idx, Ann.SQ8(dim),
          Ann.Ivf(vectorsDir = Some(idx)))
        Ann.build(corpus, "vec_id", "embedding", bqIdx, Ann.BQ(dim),
          Ann.Ivf(vectorsDir = Some(idx)))
        println(f"[rehearsal] shared IVF base (chunked) + SQ8 codes + BQ words: " +
          f"${sec(t0)}%.1fs | " +
          f"vectors ${dirBytes(s"$idx/vectors") / 1e9}%.1f GB, " +
          f"codes ${dirBytes(s"$idx/codes") / 1e9}%.2f GB, " +
          f"words ${dirBytes(s"$bqIdx/words") / 1e9}%.2f GB")
        // probes: single-query latency, then the 10k-query batch
        val q = corpus.filter(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Double](0).toSeq
        def timed(body: => Long): (Double, Long) = {
          val runs = (1 to 2).map { _ =>
            val t = System.nanoTime(); val n = body; ((System.nanoTime() - t) / 1e9, n)
          }
          runs.minBy(_._1)
        }
        val (sq8One, _) = timed(Ann.probe(spark, idx, Ann.Ivf(nprobe = 8),
          "vec_id", "embedding", q, k = 10, rerank = 100).count())
        val (bqOne, _) = timed(Ann.probe(spark, bqIdx,
          Ann.Ivf(nprobe = 8, vectorsDir = Some(idx)),
          "vec_id", "embedding", q, k = 10, rerank = 100).count())
        println(f"[rehearsal] single probe (nprobe=8, rerank=100, ~${nVecs / k * 8}%d " +
          f"candidate rows): ivf-sq8 $sq8One%.2fs, ivf-bq $bqOne%.2fs")
        val nq = args.lift(3).map(_.toLong).getOrElse(10000L)
        val queries = corpus.filter(col("vec_id") < nq)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val (sq8Batch, sq8Rows) = timed(Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 8),
          "vec_id", "embedding", queries, "qid", "qvec", k = 10, rerank = 100).count())
        println(f"[rehearsal] ivf-sq8 batch $nq queries: $sq8Batch%.1fs = " +
          f"${nq / sq8Batch}%.0f q/s ($sq8Rows rows)")
        val (bqBatch, bqRows) = timed(Ann.probeBatch(spark, bqIdx,
          Ann.Ivf(nprobe = 8, vectorsDir = Some(idx)),
          "vec_id", "embedding", queries, "qid", "qvec", k = 10, rerank = 100).count())
        println(f"[rehearsal] ivf-bq batch $nq queries: $bqBatch%.1fs = " +
          f"${nq / bqBatch}%.0f q/s ($bqRows rows)")
        def rm(d: String): Unit = {
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true): Unit
        }
        Seq(idx, bqIdx).foreach(rm)
        spark.stop()
        return
      }
    }

    if (args.headOption.contains("ladder")) {
      // `runMain graft.ScaleSmoke ladder [nVecs] [dim] [dense]` — the
      // compression ladder at memory-bandwidth scale: measure the
      // FIRST-PASS cost of each rung (exact brute / SQ8 8-bit ADC /
      // BQ 1-bit Hamming) plus the exact-rerank finish, the on-disk
      // bytes each first pass scans, and recall@10 vs the brute answer.
      // The point of the ladder: the first pass is bandwidth-bound, so
      // scan time should track bytes/vector — BQ (1 bit/dim) is the
      // shape billion-vector stores run as their candidate pass.
      //
      // `dense` (VERDICT r15 #8) switches to REAL-embedding geometry:
      // full-mantissa random values (parquet dictionary encoding
      // collapses the default 1000-point grid to ~1.3 B/dim and snappy
      // still shaved 4.6x off a 2^24 grid's trailing-zero mantissa
      // bytes; at 2^52 the raw table actually weighs its 8 B/dim).
      // Run `ladder 1000000 768 dense` for the PERF table where scan
      // bytes track wall-clock.
      import org.apache.spark.sql.functions._
      val nVecs = args.lift(1).map(_.toLong).getOrElse(1000000L)
      // `ladder <n> dense` (dim omitted) must not NumberFormatException
      val dim = args.lift(2).filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(64)
      val dense = args.contains("dense")
      val grid = if (dense) 4503599627370496L else 1000L
      // wide incompressible array columns overflow the vectorized
      // reader's per-batch reservation at the default 4096 rows
      // (dim 768 × 8 B × batch hits WritableColumnVector's contiguous
      // cap on the PLAIN-encoded path; the dictionary path the 1000-
      // point grid takes never sees it) — the documented workaround is
      // a smaller columnar batch
      if (dense) spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", 512)
      // hash stride MUST exceed dim: at stride 131 and dim 768, vector
      // id's dims 131.. are vector id+1's dims 0.. SHIFTED — consecutive
      // rows then share 83% of their bytes and snappy "compresses" the
      // incompressible geometry 4x (observed: 200 B/vec SQ8 codes where
      // random bytes weigh 789)
      val vecs = spark.range(0L, nVecs, 1L, 32).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => pmod(xxhash64(col("id") * lit(1000003L) + i.cast("long")), lit(grid)) / grid.toDouble)
          .as("embedding"))
      val raw = java.nio.file.Files.createTempDirectory("ladder-raw").toString
      vecs.write.mode("overwrite").parquet(s"$raw/vectors")
      val corpus = spark.read.parquet(s"$raw/vectors")
      val q = corpus.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Double](0).toSeq

      def dirBytes(p: String): Long = {
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        fs.getContentSummary(path).getLength
      }
      def timed(body: => Unit): Double = {
        val runs = (1 to 2).map { _ =>
          val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
        }
        runs.min
      }

      // rung 0: exact brute over the raw doubles (the correctness anchor)
      var truth: Seq[Long] = Seq.empty
      val bruteSec = timed {
        truth = corpus
          .select(col("vec_id"), graft.ext.Similarity.cosineTo(q, "embedding").as("cos"))
          .orderBy(col("cos").desc, col("vec_id"))
          .limit(10).select("vec_id").as[Long](spark.implicits.newLongEncoder)
          .collect().toSeq
      }
      val rawB = dirBytes(s"$raw/vectors")
      println(f"[ladder] n=$nVecs dim=$dim grid=$grid | brute: ${bruteSec}%.2fs, " +
        f"scans ${rawB / 1e6}%.0f MB (${rawB.toDouble / nVecs}%.0f B/vec), recall 1.000")

      def recall(ids: Seq[Long]): Double =
        ids.toSet.intersect(truth.toSet).size / 10.0

      // rung 1: SQ8 — 8-bit/dim affine codes + stored norm
      val sq8 = java.nio.file.Files.createTempDirectory("ladder-sq8").toString
      var t0 = System.nanoTime()
      Ann.build(corpus, "vec_id", "embedding", sq8, Ann.SQ8(dim), Ann.Flat())
      println(f"[ladder] sq8 build ${(System.nanoTime() - t0) / 1e9}%.1fs")
      var sq8Ids: Seq[Long] = Seq.empty
      val sq8Sec = timed {
        sq8Ids = Ann.probe(spark, sq8, Ann.Flat(corpus), "vec_id",
          "embedding", q, k = 10, rerank = 100)
          .select("vec_id").as[Long](spark.implicits.newLongEncoder).collect().toSeq
      }
      val sq8B = dirBytes(s"$sq8/codes")
      // first pass alone: the bandwidth-bound half (the full probe's
      // exact rerank broadcast-joins the RAW vectors table — an
      // unpruned corpus-width scan that dominates at large N; the
      // composed IVF rungs prune that read to <= nprobe cells)
      val sq8FirstSec = timed {
        Ann.candidates(spark.read.parquet(s"$sq8/codes"), Ann.read(spark, sq8),
          "vec_id", q, 100).collect()
      }
      println(f"[ladder] sq8: ${sq8Sec}%.2fs (first pass ${sq8FirstSec}%.2fs), " +
        f"scans ${sq8B / 1e6}%.0f MB " +
        f"(${sq8B.toDouble / nVecs}%.0f B/vec), recall ${recall(sq8Ids)}%.3f")

      // rung 2: BQ — 1-bit/dim sign words, integer Hamming first pass
      val bq = java.nio.file.Files.createTempDirectory("ladder-bq").toString
      t0 = System.nanoTime()
      Ann.build(corpus, "vec_id", "embedding", bq, Ann.BQ(dim), Ann.Flat())
      println(f"[ladder] bq build ${(System.nanoTime() - t0) / 1e9}%.1fs")
      var bqIds: Seq[Long] = Seq.empty
      val bqSec = timed {
        bqIds = Ann.probe(spark, bq, Ann.Flat(corpus), "vec_id",
          "embedding", q, k = 10, rerank = 100)
          .select("vec_id").as[Long](spark.implicits.newLongEncoder).collect().toSeq
      }
      val bqB = dirBytes(s"$bq/words")
      val bqFirstSec = timed {
        Ann.candidates(spark.read.parquet(s"$bq/words"), Ann.read(spark, bq),
          "vec_id", q, 100).collect()
      }
      println(f"[ladder] bq: ${bqSec}%.2fs (first pass ${bqFirstSec}%.2fs), " +
        f"scans ${bqB / 1e6}%.0f MB " +
        f"(${bqB.toDouble / nVecs}%.0f B/vec), recall ${recall(bqIds)}%.3f")
      // uniform-random vectors are the adversarial case for 1-bit codes
      // (no cluster structure — the true top-10's cosine gap vs rank
      // 1000 is tiny, below 64 sign bits' resolution); the rerank knob
      // is the recovery lever, at first-pass cost unchanged
      Seq(1000, 10000).foreach { r =>
        val ids = Ann.probe(spark, bq, Ann.Flat(corpus),
          "vec_id", "embedding", q, k = 10, rerank = r)
          .select("vec_id").as[Long](spark.implicits.newLongEncoder).collect().toSeq
        println(f"[ladder] bq rerank=$r: recall ${recall(ids)}%.3f")
      }

      // the composed rung: IVF-SQ8 — cell pruning turns the full-corpus
      // scan into nprobe/K of it; at 64 cells / nprobe 4 the first pass
      // touches ~6% of the code bytes every flat rung above must read.
      // Skipped in dense mode: this section measures the FLAT rungs'
      // bandwidth shape; the pruning factor is geometry-independent and
      // pinned structurally by IndexSpec, and a dim-768 k-means build
      // would dominate the section's wall clock for no new signal.
      if (dense) {
        Seq(raw, sq8, bq).foreach { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        }
        spark.stop()
        return
      }
      val ivf = java.nio.file.Files.createTempDirectory("ladder-ivfsq8").toString
      t0 = System.nanoTime()
      Ann.build(corpus, "vec_id", "embedding", ivf, Ann.SQ8(dim), Ann.Ivf(k = 64))
      println(f"[ladder] ivf-sq8 build ${(System.nanoTime() - t0) / 1e9}%.1fs (64 cells)")
      var ivfIds: Seq[Long] = Seq.empty
      val ivfSec = timed {
        ivfIds = Ann.probe(spark, ivf, Ann.Ivf(nprobe = 4), "vec_id",
          "embedding", q, k = 10, rerank = 100)
          .select("vec_id").as[Long](spark.implicits.newLongEncoder).collect().toSeq
      }
      println(f"[ladder] ivf-sq8 nprobe=4/64: ${ivfSec}%.2fs " +
        f"(scans ~${sq8B * 4 / 64 / 1e6}%.0f MB of the ${sq8B / 1e6}%.0f MB codes), " +
        f"recall ${recall(ivfIds)}%.3f")
      Seq(raw, sq8, bq, ivf).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("bpe")) {
      // `runMain graft.ScaleSmoke bpe [k] [sfDir]` — production-k BPE
      // learning (VERDICT r12 #2): k rounds with the checkpoint cadence,
      // per-round time must stay FLAT (the unbounded fold's re-apply
      // cost grows linearly per round → quadratic total), then the
      // corpus encodes through the iterative path with all k merges.
      val k = args.lift(1).map(_.toInt).getOrElse(500)
      // the sf0.1 fixture's vocabulary EXHAUSTS at ~89 merges (every
      // word fuses to one symbol) — production-k needs a production-
      // sized vocabulary, so the default corpus is synthetic: 50k docs
      // × 20 words drawn from ~200k distinct 8-letter words (md5-
      // derived, digits translated to letters so the pre-tokenizer
      // keeps each word whole)
      val corpus = args.lift(2).getOrElse("synthetic")
      val docs =
        if (corpus == "synthetic")
          spark.range(0L, 50000L, 1L, 32).selectExpr(
            """array_join(transform(sequence(0, 19), i ->
              |  translate(substring(md5(cast((id * 97 + i * 131) % 200000 AS string)), 1, 8),
              |            '0123456789', 'qrstuvwxyz')), ' ') AS text""".stripMargin)
        else spark.read.parquet(s"$corpus/documents.parquet")
      val roundSec = new Array[Double](k)
      val t0 = System.nanoTime()
      val merges = graft.ext.Bpe.learnMerges(docs, "text", k,
        onRound = (r, s) => {
          roundSec(r - 1) = s
          if (r % 100 == 0) println(f"[bpe] round $r: last-100 mean ${roundSec.slice(r - 100, r).sum / 100}%.3fs")
        })
      val learnSec = (System.nanoTime() - t0) / 1e9
      def blockMean(lo: Int, hi: Int) = {
        val xs = roundSec.slice(lo, math.min(hi, merges.length))
        if (xs.isEmpty) 0.0 else xs.sum / xs.length
      }
      val early = blockMean(50, 150) // skip the first 50: JIT + cold caches
      val late = blockMean(merges.length - 100, merges.length)
      println(f"[bpe] learned ${merges.length} merges in $learnSec%.1fs; " +
        f"per-round mean rounds 51-150: $early%.3fs, last 100: $late%.3fs, " +
        f"late/early ${late / math.max(early, 1e-9)}%.2f (flat ≈ 1)")
      val tEnc = System.nanoTime()
      val enc = graft.ext.Bpe.withEncoded(docs, "text", merges)
      val toks = enc.agg(sum("n_tokens")).head().getLong(0)
      println(f"[bpe] iterative encode of ${docs.count()} docs with ${merges.length} merges: " +
        f"${(System.nanoTime() - tEnc) / 1e9}%.1fs, $toks tokens")
      spark.stop()
      if (late > early * 3) {
        System.err.println(f"[bpe] FAIL: per-round time not flat (${late / early}%.2f×)")
        sys.exit(1)
      }
      println("[bpe] PASS")
      return
    }

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    val table = java.nio.file.Files.createTempDirectory("graft-scale").toString
    val spanUs = 48L * 3600 * 1000000 // 48 hours of log
    val stepUs = spanUs / n

    timed(s"write $n events across 48 hourly partitions") {
      val events = spark.range(n).select(
        (col("id") * stepUs).as("time_us"),
        concat(lit("did:plc:u"), pmod(hash(col("id")), lit(100000))).as("did"),
        element_at(
          array(lit("app.bsky.feed.post"), lit("app.bsky.feed.like"),
            lit("app.bsky.graph.follow"), lit("app.bsky.feed.repost"),
            lit("app.bsky.actor.profile")),
          (pmod(hash(col("id") + 7), lit(5)) + 1).cast("int")).as("collection"),
        (col("id") % 1000).cast("double").as("value"))
      EventsTable.append(events, table)
    }

    val full = timed("full scan count") {
      EventsTable.read(spark, table).count()
    }

    // cursor at 95% of the span → pruning should skip ~95% of partitions
    val cursor = (spanUs * 95) / 100
    val t0 = System.nanoTime()
    val replayed = EventsTable.replay(spark, table, cursor).count()
    val replaySec = (System.nanoTime() - t0) / 1e9
    println(f"[scale] replay from 95%% cursor: $replayed rows in $replaySec%.2fs = " +
      f"${replayed / replaySec / 1000}%.0fk events/s (reference playback cap: 50k/s)")

    // chunked SESSION replay over a FRAGMENTED table — the serving
    // edge's per-subscriber catch-up ceiling the 10k ev/s soak exposed:
    // every replayStep pays a listing + pruned scan, so file count and
    // chunk size set the rate (a session catches up to a live stream
    // only while this number exceeds the live event rate). 100 small
    // appends ≈ a fast-trigger ingest's fragmentation before
    // compaction; measured at the library-default and the composed
    // service's chunk sizes.
    timed("chunked session replay over 100-file hour (chunk 10k vs 50k)") {
      val fragTable = java.nio.file.Files.createTempDirectory("graft-scale-frag").toString
      val fragRows = 200000
      (0 until 100).foreach { k =>
        EventsTable.append(spark.range(k * 2000L, (k + 1) * 2000L).select(
          (col("id") * 1000L).as("time_us"),
          concat(lit("did:plc:u"), pmod(hash(col("id")), lit(1000))).as("did"),
          lit("app.graft.doc").as("collection")), fragTable)
      }
      val headUs = (fragRows - 1) * 1000L
      Seq(10000, 50000).foreach { chunk =>
        val sess = new graft.serve.CutoverSession(Subscribe.SubscriberSpec(),
          startCursorUs = 0L, chunkSize = chunk)
        var delivered = 0L
        var ticks = 0
        val r0 = System.nanoTime()
        while (sess.replaying && ticks < 1000) {
          ticks += 1
          sess.replayStep(spark, fragTable, headUs)(v => delivered += v.count())
        }
        val sec = (System.nanoTime() - r0) / 1e9
        println(f"[scale] session replay chunk=$chunk: $delivered rows, " +
          f"$ticks chunks in $sec%.1fs = ${delivered / sec / 1000}%.1fk ev/s")
      }
    }

    val t1 = System.nanoTime()
    val filtered = EventsTable.read(spark, table)
      .filter(Subscribe.filterFor(
        Subscribe.SubscriberSpec(
          wantedCollections = Seq("app.bsky.feed.post", "app.bsky.feed.like"),
          wantedDids = (0 until 1000).map(i => s"did:plc:u$i"),
          hwmUs = spanUs / 2)))
      .count()
    val filterSec = (System.nanoTime() - t1) / 1e9
    println(f"[scale] subscriber filter over $full rows: $filtered match in $filterSec%.2fs = " +
      f"${full / filterSec / 1000}%.0fk events/s scanned (reference live cap: 5k/s/sub)")

    // --- compaction: collapse one closed hour's micro-batch files
    {
      val hour = 10L
      val before = graft.store.Compaction.partitionFiles(spark, table, hour).size
      val t = System.nanoTime()
      val (_, after) = graft.store.Compaction.compactHour(spark, table, hour)
      val sec = (System.nanoTime() - t) / 1e9
      val rows = EventsTable.read(spark, table)
        .filter(col(EventsTable.PartitionCol) === hour).count()
      println(f"[scale] compaction hour=$hour: $before files → $after in $sec%.2fs " +
        f"($rows rows intact)")
    }

    // --- generation resolution overhead: with a dozen compacted hours
    // (superseded live copies still on disk pre-vacuum) the resolved
    // read must cost the same class as the plain one — resolution is a
    // single root listing + a per-hour max, never a data pass.
    {
      val rewritten = 1 + (11L to 22L).count { h =>
        val (b, a) = graft.store.Compaction.compactHour(spark, table, h, force = true)
        b != a || b > 0
      }
      val t = System.nanoTime()
      val both = EventsTable.read(spark, table).count()
      val dualSec = (System.nanoTime() - t) / 1e9
      val swept = graft.store.Compaction.vacuum(spark, table, graceMs = -1).size
      val t2 = System.nanoTime()
      val afterVac = EventsTable.read(spark, table).count()
      val vacSec = (System.nanoTime() - t2) / 1e9
      require(both == full && afterVac == full,
        s"generation resolution changed row count: $full → $both/$afterVac")
      println(f"[scale] resolved read, $rewritten compacted hours: pre-vacuum $dualSec%.2fs, " +
        f"post-vacuum ($swept dirs swept) $vacSec%.2fs — rows intact at $full")
    }

    val batch = spark.range(1000000).select(
      col("id").as("arrival"), concat(lit("d"), col("id") % 97).as("did"))
    batch.cache().count()
    val t2 = System.nanoTime()
    val seq = Sequencer.stamp(batch, Seq("arrival"), prevMaxUs = 0L)
    // aggregate actual time_us VALUES (max-min) so the window cannot be
    // pruned — count()-style aggregates let Catalyst drop the window
    val stamped = seq.df.agg(max(col("time_us")) - min(col("time_us")) + 1).head().getLong(0)
    val seqSec = (System.nanoTime() - t2) / 1e9
    println(f"[scale] sequencer stamp (single-task stage): $stamped rows in $seqSec%.2fs = " +
      f"${stamped / seqSec / 1000}%.0fk events/s (reference: one goroutine fan-in)")

    // --- skewed-key posture: one hot did takes 60% of ALL events.
    // The agg form (max_by, partial-aggregated map-side) must stay flat
    // under skew; the window form (row_number per key) funnels the hot
    // key through one task — the shape AQE skew handling cannot split.
    {
      import org.apache.spark.sql.expressions.Window
      val nSkew = math.min(n, 20000000L)
      val skewed = spark.range(nSkew).select(
        when(pmod(col("id"), lit(10)) < 6, lit("did:plc:hot"))
          .otherwise(concat(lit("did:plc:u"), pmod(hash(col("id")), lit(100000)))).as("did"),
        col("id").as("time_us"))
      skewed.cache().count()
      // min of 3: the VM's wall-clock noise exceeds the effect otherwise
      def best(f: => Long): (Double, Long) = (1 to 3).map { _ =>
        val t = System.nanoTime(); val r = f; ((System.nanoTime() - t) / 1e9, r)
      }.minBy(_._1)
      val (aggSec, aggRows) = best {
        skewed.groupBy(col("did"))
          .agg(max_by(col("time_us"), col("time_us")).as("latest_us")).count()
      }
      val w = Window.partitionBy(col("did")).orderBy(col("time_us").desc)
      val (winSec, winRows) = best {
        skewed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).count()
      }
      println(f"[scale] skewed latest-per-key ($nSkew rows, 60%% on one did): " +
        f"agg(max_by) $aggSec%.2fs (${nSkew / aggSec / 1e6}%.1fM ev/s, $aggRows keys) vs " +
        f"window(rn=1) $winSec%.2fs (${nSkew / winSec / 1e6}%.1fM ev/s, $winRows keys)")
      skewed.unpersist()
    }

    // --- distributed connected components at edge volumes the driver
    // union-find refuses (a zero driver budget forces star contraction):
    // 10M edges in 2M chains of 5 nodes. This is the 100 TB code path
    // the driver union-find hands off to above the budget.
    {
      val nEdges = 10000000L
      // node ids: chain c holds nodes c*6 .. c*6+5; edges (v, v+1) ×2 dirs
      val pairs = spark.range(nEdges)
        .select((col("id") / lit(5)).cast("long").as("c"), pmod(col("id"), lit(5)).as("i"))
        .select((col("c") * 6 + col("i")).as("src"), (col("c") * 6 + col("i") + 1).as("dst"))
      val t = System.nanoTime()
      val comps = graft.util.DriverBudget.withBytes(0L)(
        graft.ext.Dedup.connectedComponents(pairs, "src", "dst"))
      val (nNodes, nComps) = {
        val r = comps.agg(count(lit(1)), countDistinct(col("comp"))).head()
        (r.getLong(0), r.getLong(1))
      }
      val sec = (System.nanoTime() - t) / 1e9
      println(f"[scale] distributed connected components: $nEdges edges → " +
        f"$nNodes nodes, $nComps components in $sec%.2fs " +
        f"(${nEdges / sec / 1e6}%.1fM edges/s, star contraction)")
      require(nComps == nEdges / 5, s"expected ${nEdges / 5} chains, got $nComps")
    }

    // --- chain-shaped component: the adversarial shape for label
    // propagation, whose round count is the component DIAMETER — a
    // 100k-long chain of near-dups (template drift over time, real in
    // web corpora) would need ~100k Spark jobs. Star contraction must
    // close it in ≤ log₂(n)+2 rounds.
    {
      val n = 100000L
      val oriented = spark.range(1L, n)
        .select((col("id") + 1).as("src"), col("id").as("dst"))
      val t = System.nanoTime()
      val (labels, rounds) = graft.ext.Dedup.starContraction(oriented)
      val r = labels.agg(count(lit(1)), countDistinct(col("comp"))).head()
      val sec = (System.nanoTime() - t) / 1e9
      val bound = (math.log(n.toDouble) / math.log(2)).ceil.toInt + 2
      println(f"[scale] star contraction, one $n-node chain: $rounds rounds " +
        f"(bound log2(n)+2 = $bound), ${r.getLong(0)} nodes → " +
        f"${r.getLong(1)} component in $sec%.2fs")
      require(r.getLong(1) == 1L && rounds <= bound,
        s"chain contraction: ${r.getLong(1)} comps in $rounds rounds (bound $bound)")
    }

    // --- sessionization over the synthetic log: lag + running-sum +
    // per-session aggregate, all sharing ONE key exchange (the plan
    // PlanDump shows for the sessionize query). Throughput here is the
    // window-stage cost at log scale.
    {
      val e = EventsTable.read(spark, table)
        .select(col("did"), col("time_us"))
      import org.apache.spark.sql.expressions.Window
      val order = Window.partitionBy(col("did")).orderBy(col("time_us"))
      val gapUs = 30L * 60 * 1000000
      val t = System.nanoTime()
      val sessions = e
        .withColumn("new_s",
          when(col("time_us") - lag(col("time_us"), 1).over(order) > gapUs ||
            lag(col("time_us"), 1).over(order).isNull, lit(1)).otherwise(lit(0)))
        .withColumn("sid",
          sum(col("new_s")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("did"), col("sid"))
        .agg(count(lit(1)).as("n"), (max(col("time_us")) - min(col("time_us"))).as("dur"))
        .count()
      val sec = (System.nanoTime() - t) / 1e9
      println(f"[scale] sessionize $full events → $sessions sessions in $sec%.2fs = " +
        f"${full / sec / 1e6}%.1fM ev/s (one exchange for lag+sum+agg)")
    }

    // --- round-4 operator families at synthetic corpus scale: the
    // retrieval stack over a 2M-doc corpus (~40M tokens) and semantic
    // dedup + native-expression kNN over 1M 64-dim vectors. Sizes are
    // ~400-2000× the sf0.1 fixtures — enough for a hidden quadratic or
    // per-row interpretation cost to dominate the wall time.
    {
      val nDocs = 2000000L
      val vocab = array((0 until 1000).map(i => lit(s"w$i")): _*)
      val docs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until 20).map(k =>
          element_at(vocab, (pmod(hash(col("id") * 20 + k), lit(1000)) + 1).cast("int"))): _*)
          .as("text"))
      docs.cache().count()
      val tIdx = System.nanoTime()
      val idxRows = graft.ext.Retrieval.invertedIndex(docs, "doc_id", "text").count()
      val idxSec = (System.nanoTime() - tIdx) / 1e9
      println(f"[scale] inverted index over $nDocs docs (~${nDocs * 20 / 1000000}M tokens): " +
        f"$idxRows terms in $idxSec%.2fs = ${nDocs * 20 / idxSec / 1e6}%.1fM tokens/s " +
        f"(postings bounded at 10 ids/term BEFORE collect)")
      val tBm = System.nanoTime()
      val bmRows = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
        terms = Seq("w1", "w2", "w3")).count()
      val bmSec = (System.nanoTime() - tBm) / 1e9
      println(f"[scale] BM25 top-$bmRows over $nDocs docs: $bmSec%.2fs = " +
        f"${nDocs / bmSec / 1e6}%.1fM docs/s ranked")
      val tLm = System.nanoTime()
      val lmRows = graft.ext.Retrieval.unigramLogProb(docs, "doc_id", "text").count()
      val lmSec = (System.nanoTime() - tLm) / 1e9
      println(f"[scale] unigram-LM scoring of $lmRows docs: $lmSec%.2fs = " +
        f"${nDocs * 20 / lmSec / 1e6}%.1fM tokens/s")
      docs.unpersist()

      val nVecs = 1000000L
      val dims = 64
      // ~100 members per cluster → pairwise stage is Σ 100²/2 per
      // cluster, bounded by the cluster layout exactly as at 100 TB
      val nClusters = 10000
      val vecs = spark.range(nVecs).select(
        col("id").as("vec_id"),
        pmod(hash(col("id")), lit(nClusters)).as("label"),
        array((0 until dims).map(j =>
          ((pmod(hash(col("id") * dims + j), lit(1000)) - 500) / 500.0)): _*).as("embedding"))
      vecs.cache().count()
      val tSd = System.nanoTime()
      val pruned = graft.ext.Similarity.semDedupPrune(
        vecs, "vec_id", "label", "embedding", threshold = 0.9)
        .filter(col("pruned")).count()
      val sdSec = (System.nanoTime() - tSd) / 1e9
      println(f"[scale] semDedupPrune over $nVecs vecs in $nClusters clusters: " +
        f"$pruned pruned in $sdSec%.2fs = ${nVecs / sdSec / 1e6}%.1fM vecs/s " +
        f"(pair stage bounded by cluster size)")
      val q = (0 until dims).map(j => (j % 7 - 3) / 3.0)
      val tKnn = System.nanoTime()
      val knn = graft.ext.Similarity.cosineTopK(vecs, "vec_id", "embedding", q, k = 10).count()
      val knnSec = (System.nanoTime() - tKnn) / 1e9
      println(f"[scale] brute kNN (native vec_dot) over $nVecs×$dims: top-$knn in " +
        f"$knnSec%.2fs = ${nVecs / knnSec / 1e6}%.1fM cosines/s")
      vecs.unpersist()
    }

    // --- the FULL corpus pipeline at 2M docs (~120M tokens, ~2000× the
    // sf0.001 fixture the spec pins), durable-checkpoint mode — the
    // 100 TB posture where each stage lands on the store instead of
    // executor cache. ~10% exact-dup rate (seed = id % 90%·N) so the
    // dedup stages do real work; two stopwords + 60 vocab words per
    // doc clear the Gopher gates. The vocabulary is 100k distinct
    // words (hash-formed, not a literal array) so cross-doc shingle
    // collisions are rare and decontam flags only the docs that REALLY
    // share shingles with the held-out set (seed twins) — a 1k vocab
    // makes the benchmark shingle set cover the whole shingle space
    // and decontam degenerates to dropping everything. The stopwords
    // sit BETWEEN hash words (positions 10/40), never as a shared
    // prefix: a corpus-constant two-word prefix leaves the adjacent
    // shingle one word of entropy and decontam false-flags a third of
    // the corpus through it.
    corpusPipelineSection(spark,
      sys.env.getOrElse("SPARK_GRAFT_CORPUS_DOCS", "2000000").toLong)

    val big = spark.range(10000000).select(
      col("id").as("arrival"), concat(lit("d"), col("id") % 97).as("did"))
    big.cache().count()
    val t3 = System.nanoTime()
    val n1 = Sequencer.stamp(big, Seq("arrival"), 0L).df.agg(max(col("time_us")) - min(col("time_us")) + 1).head().getLong(0)
    val s1 = (System.nanoTime() - t3) / 1e9
    val t4 = System.nanoTime()
    val n2 = Sequencer.stampScalable(big, Seq("arrival"), 0L).df.agg(max(col("time_us")) - min(col("time_us")) + 1).head().getLong(0)
    val s2 = (System.nanoTime() - t4) / 1e9
    println(f"[scale] 10M-row sequencer: window(single-task) $s1%.2fs (${n1 / s1 / 1000}%.0fk/s) " +
      f"vs range-partitioned $s2%.2fs (${n2 / s2 / 1000}%.0fk/s)")

    // --- DAG-CBOR codec throughput: realistic commit wire frames,
    // encode and decode as the native expressions the ingest/serve
    // paths run — row-local, so rows/s here IS the per-core scale
    // posture (multiply by executor cores at 100 TB)
    {
      import graft.functions.GraftFunctions.{cbor_to_json, json_to_cbor}
      val nFrames = math.max(1000000L, n / 10)
      val frames = spark.range(nFrames).select(to_json(struct(
        lit("#commit").as("t"),
        concat(lit("did:plc:u"), pmod(hash(col("id")), lit(100000))).as("did"),
        concat(lit("r"), col("id")).as("rev"),
        col("id").as("seq"),
        lit("2024-09-05T07:00:00.000Z").as("time"),
        array(struct(
          lit("create").as("action"),
          concat(lit("app.bsky.feed.post/k"), col("id")).as("path"),
          concat(lit("c"), col("id")).as("cid"),
          struct(concat(lit("text for document number "), col("id")).as("text"),
            array(lit("en"), lit("es")).as("langs")).as("record"))).as("ops"))).as("j"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val jsonBytes = frames.agg(sum(octet_length(col("j")))).head().getLong(0)

      val tEnc = System.nanoTime()
      val cborBytes = frames.agg(sum(octet_length(json_to_cbor(col("j"))))).head().getLong(0)
      val encSec = (System.nanoTime() - tEnc) / 1e9

      val cbor = frames.select(json_to_cbor(col("j")).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cbor.count() // materialize so decode timing excludes encode
      val tDec = System.nanoTime()
      val decoded = cbor.agg(sum(octet_length(cbor_to_json(col("c"))))).head().getLong(0)
      val decSec = (System.nanoTime() - tDec) / 1e9
      require(decoded > 0)
      println(f"[scale] DAG-CBOR codec over $nFrames frames: encode $encSec%.2fs " +
        f"(${nFrames / encSec / 1000}%.0fk frames/s), decode $decSec%.2fs " +
        f"(${nFrames / decSec / 1000}%.0fk frames/s); " +
        f"wire ${cborBytes * 100.0 / jsonBytes}%.0f%% of JSON bytes " +
        f"(${jsonBytes / nFrames} → ${cborBytes / nFrames} B/frame)")
      frames.unpersist(); cbor.unpersist()
    }

    spark.stop()
  }

  /** The full corpus-pipeline measurement (also runnable standalone as
    * `runMain graft.ScaleSmoke corpus [nDocs]` — a clean JVM, so the
    * 10M-doc geometry is not competing with the event sections' leftover
    * cache/broadcast footprint).
    */
  private def corpusPipelineSection(spark: SparkSession, nDocs: Long): Unit = {
      // twin offset 0.9N+1: NOT divisible by the bench moduli (50, 5)
      // below — an offset the modulus divides would map every bench
      // doc's twin back onto the bench side and no real contamination
      // would ever cross the boundary (the measurement would be
      // vacuous, all noise)
      val seed = pmod(col("id"), lit((nDocs * 9) / 10 + 1))
      def word(k: Int) = concat(lit("w"), pmod(hash(seed * 60 + k), lit(100000)))
      val tokens = (0 until 10).map(word) ++ Seq(lit("the")) ++
        (10 until 40).map(word) ++ Seq(lit("and")) ++ (40 until 60).map(word)
      val corpus = spark.range(nDocs).select(
        col("id").as("doc_id"),
        concat_ws(" ", tokens: _*).as("text"),
        element_at(array(lit("en"), lit("de"), lit("fr"), lit("es"), lit("pt")),
          (pmod(hash(col("id") + 3), lit(5)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(8))).as("source"))
        .withColumn("n_chars", length(col("text")))
      val srcDir = java.nio.file.Files.createTempDirectory("graft-corpus-src").toString
      corpus.write.mode("overwrite").parquet(s"$srcDir/docs")
      val outDir = java.nio.file.Files.createTempDirectory("graft-corpus-out").toString
      val ckptDir = java.nio.file.Files.createTempDirectory("graft-corpus-ckpt").toString
      val t = System.nanoTime()
      val stages = graft.ext.CorpusPipeline.runOn(spark,
        spark.read.parquet(s"$srcDir/docs"), outDir,
        checkpointDir = Some(ckptDir))
      val sec = (System.nanoTime() - t) / 1e9
      stages.foreach { s =>
        println(f"[scale]   ${s.stage}%-15s ${s.docsIn}%8d → ${s.docsOut}%8d docs")
      }
      println(f"[scale] full corpus pipeline over $nDocs docs (durable checkpoints): " +
        f"$sec%.1fs = ${nDocs / sec / 1000}%.0fk docs/s end-to-end")

      // decontam broadcast growth-gate: the probe side is the bench's
      // DISTINCT shingle hashes — grow the bench 10× and confirm the
      // broadcast payload grows with the BENCH (sub-linear in it, by
      // shingle dedup), never with the corpus, and that the size gate
      // would switch to the shuffle join before an unbounded bench
      // OOMs the executors. Flag counts here = true seed twins of
      // bench docs (the 60-bit hash's false-flag floor is ~1e-10; the
      // 32-bit floor this operator abandoned measured ~17% at the
      // 200k-doc bench).
      // the gate demo is BENCH-size-driven (broadcast payload ∝ bench
      // shingles); the corpus side is capped at 2M docs so the 20%-bench
      // case stays inside an 8 GB driver even when the pipeline above
      // ran at 10M (measured: the 1/5 bench at 10M docs ≈ 120M probe
      // shingles OOM'd the default heap — the gate's shuffle path needs
      // executor memory the single-JVM geometry doesn't have)
      val src = spark.read.parquet(s"$srcDir/docs")
        .filter(col("doc_id") < math.min(nDocs, 2000000L))
      Seq(50L, 5L).foreach { mod => // 2% and 20% of the corpus as "bench"
        val bench = src.filter(col("doc_id") % mod === 0)
        val benchSh = graft.ext.Dedup.shingles(bench, "doc_id", "text", 3)
          .select(graft.ext.Dedup.h60(col("shingle")).as("s")).distinct().count()
        val t1 = System.nanoTime()
        val flagged = graft.ext.Dedup.contaminationFlags(
          src.filter(col("doc_id") % mod =!= 0), bench, "doc_id", "text").count()
        println(f"[scale] decontam bench=1/$mod of $nDocs docs: " +
          f"${benchSh / 1000}%dk distinct bench shingles broadcast " +
          f"(~${benchSh * 8 / 1024 / 1024}%d MB of hashed longs), $flagged flagged, " +
          f"${(System.nanoTime() - t1) / 1e9}%.1fs")
      }
      // release the block's multi-GB /tmp footprint (the pipeline
      // already emptied ckptDir itself)
      Seq(srcDir, outDir, ckptDir).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
  }

}
