package perfbench

/** One subscriber's stream checked against the set its filter admits. */
final case class Check(expected: Long, missing: Long, duplicated: Long,
    disordered: Long, unexpected: Long) {
  def failed: Long = missing + duplicated + disordered + unexpected
}

object Check {
  /** Exactly once and in `time_us` order: `ids`/`timeUs` in receipt
    * order against the sorted `expected` ids.
    */
  def apply(expected: Array[Long], ids: Array[Long], timeUs: Array[Long]): Check = {
    var disordered = 0L
    var i = 1
    while (i < timeUs.length) { if (timeUs(i) <= timeUs(i - 1)) disordered += 1; i += 1 }
    val got = ids.clone()
    java.util.Arrays.sort(got)
    var dup = 0L
    i = 1
    while (i < got.length) { if (got(i) == got(i - 1)) dup += 1; i += 1 }
    var missing, unexpected = 0L
    var e = 0
    var g = 0
    while (e < expected.length || g < got.length) {
      if (g < got.length && g > 0 && got(g) == got(g - 1)) g += 1
      else if (g >= got.length || (e < expected.length && expected(e) < got(g))) { missing += 1; e += 1 }
      else if (e >= expected.length || got(g) < expected(e)) { unexpected += 1; g += 1 }
      else { e += 1; g += 1 }
    }
    Check(expected.length, missing, dup, disordered, unexpected)
  }
}

/** What a live_fanout drive observed. */
final case class Outcome(
    subs: Seq[Subscribers#Sub],
    checks: Seq[Check],
    t0Us: Long,
    fullUs: Long,
    lateMs: Seq[Double],
    offeredEps: Double,
    selectivity: Seq[(String, Double)]) {
  def failed: Long = checks.map(_.failed).sum
  def attempted: Long = checks.map(_.expected).sum
}

/** Drives live_fanout from the load process: the upstream, the
  * subscribers, the schedule, the drain and the exactly-once check.
  */
object Drive {
  val LiveCollection = "app.bsky.graph.follow"
  val SubNames: Seq[String] = Seq("full", "collection", "did", "both")

  def specs(plan: Plan): Seq[SubSpec] = {
    val dids = new FrameGen(plan.seed).didsWithShare(40, 0.01)
    Seq(SubSpec(SubNames(0)), SubSpec(SubNames(1), collections = Seq(LiveCollection)),
      SubSpec(SubNames(2), dids = dids),
      SubSpec(SubNames(3), collections = Seq(LiveCollection), dids = dids))
  }

  private def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > end) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  /** Runs the workload against a started service: the live subscribers
    * attach, then the warm-up starts. The full rate starts at the
    * warm-up's end, or later, once the full feed has every warm-up event
    * scheduled more than [[Plan.CatchUpSeconds]] before that end, so a
    * cold service's first micro-batches leave no backlog in the measured
    * window however slow the box. After the schedule ends, waits (up to
    * 30 s) for every expected delivery and checks each stream.
    */
  def run(plan: Plan, up: Upstream, servePort: Int): Outcome = {
    waitFor("the service's upstream connection", 120000)(up.connectedAtUs > 0)
    val specs = Drive.specs(plan)
    val subscribers = new Subscribers(servePort, specs)
    try {
      Thread.sleep(1000) // sessions registered before any event exists
      val t0 = Clock.nowUs + 50000L
      up.start(t0)
      Clock.sleepUntilUs(plan.warmEndUs(t0))
      val caughtUpUs = plan.warmEndUs(t0) - (Plan.CatchUpSeconds * 1e6).toLong
      waitFor("the service to catch up with the warm-up", 60000)(
        subscribers.subs.head.schedUs.last.exists(_ >= caughtUpUs))
      val fullUs = Clock.nowUs
      up.startFull(fullUs)
      Clock.sleepUntilUs(plan.endUs(fullUs))
      // expected sets: every kept event of the plan each filter admits
      val expected = specs.map(spec =>
        plan.events.iterator.collect { case (e, _) if spec.admits(e) => e.id }.toArray)
      val drainEnd = System.currentTimeMillis() + 30000
      while (subscribers.subs.zip(expected).exists { case (s, e) => s.count < e.length } &&
          System.currentTimeMillis() < drainEnd) Thread.sleep(50)
      // an event whose id cannot be read counts as one nobody expected
      val checks = subscribers.subs.zip(expected).map { case (s, e) =>
        val c = Check(e, s.ids.toArray, s.timeUs.toArray)
        c.copy(unexpected = c.unexpected + s.unparsed)
      }
      val kept = plan.events.count(_._1.kept)
      val selectivity = subscribers.subs.map(s => s.spec.name -> s.count.toDouble / math.max(1, kept))
      val fullRate = plan.events.count(_._1.id >= plan.warmEvents)
      val offered = fullRate / math.max(1e-6, (up.lastSendUs - fullUs) / 1e6)
      Outcome(subscribers.subs, checks, t0, fullUs, up.lateUs.toArray.map(_ / 1000.0).toSeq,
        offered, selectivity)
    } finally subscribers.close()
  }

  /** Delivery latencies (ms), scheduled send → receipt, of the events
    * scheduled at or after `fromUs`.
    */
  def latenciesMs(o: Outcome, fromUs: Long): Seq[Double] =
    o.subs.flatMap { s =>
      val sched = s.schedUs.toArray
      val recv = s.recvUs.toArray
      sched.indices.iterator.filter(i => sched(i) >= fromUs)
        .map(i => (recv(i) - sched(i)) / 1000.0).toVector
    }

  /** The generator fell behind its schedule: the run is not valid. */
  def generatorBehind(o: Outcome): Boolean = Stats.pct(o.lateMs, 0.99) > 100.0
}

/** The load process of live_fanout (generator and subscribers, one
  * process): prints `UPSTREAM <port>`, reads
  * `SERVICE <serve port> <metrics port>` once the service is up, drives
  * the workload, writes the result file and prints `DONE`.
  */
object LoadGen {
  def main(args: Array[String]): Unit = {
    val a = Args(args)
    val plan = Plan.fromArgs(a)
    val up = new Upstream(plan)
    println(s"UPSTREAM ${up.port}")
    System.out.flush()
    val line = new java.io.BufferedReader(new java.io.InputStreamReader(System.in)).readLine()
    val servePort = line.trim.split(" ")(1).toInt
    val o = try Drive.run(plan, up, servePort) finally up.close()
    val windowUs = plan.windowUs(o.fullUs)
    val lat = Drive.latenciesMs(o, windowUs)
    val behind = Drive.generatorBehind(o)
    // window start → last delivery: the window's length plus the drain
    val lastRecv = o.subs.map(_.recvUs.toArray.lastOption.getOrElse(o.t0Us)).max
    val windowS = (plan.endUs(o.fullUs) - windowUs) / 1e6
    val metrics = Seq(
      ("latency.p50_ms", Stats.pct(lat, 0.5), "ms"),
      ("latency.p90_ms", Stats.pct(lat, 0.9), "ms"),
      ("latency.p99_ms", Stats.pct(lat, 0.99), "ms"),
      ("throughput_ops", lat.size.toDouble / o.subs.size / windowS, "1/s"),
      ("completion_s", (lastRecv - windowUs) / 1e6, "s"))
    // median latency per second of schedule, for checking the warm-up
    val bySecond = o.subs.flatMap { s =>
      val sched = s.schedUs.toArray; val recv = s.recvUs.toArray
      sched.indices.map(i => ((sched(i) - o.t0Us) / 1000000L, (recv(i) - sched(i)) / 1000.0))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) => k.toString -> Json.num(Stats.median(v.map(_._2))) }
    val info = Json.obj(
      "latency_samples" -> Json.num(lat.size.toDouble),
      "full_rate_held_s" -> Json.num((o.fullUs - plan.warmEndUs(o.t0Us)) / 1e6),
      "p50_ms_by_second" -> Json.obj(bySecond: _*),
      "generator_behind" -> behind.toString,
      "gen_late_ms_p99" -> Json.num(Stats.pct(o.lateMs, 0.99)),
      "offered_eps" -> Json.num(o.offeredEps),
      "selectivity" -> Json.obj(o.selectivity.map { case (k, v) => k -> Json.num(v) }: _*),
      "dropped" -> Json.num(o.subs.count(_.closedByServer).toDouble),
      "checks" -> Json.obj(o.subs.zip(o.checks).map { case (s, c) =>
        s.spec.name -> Json.str(c.toString) }: _*))
    Result.write(a("out"), correct = o.failed == 0 && !behind, o.attempted, o.failed, metrics, info)
    println("DONE")
    System.out.flush()
    sys.exit(0)
  }
}
