package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

class EventsTableSpec extends SparkSpec {
  import spark.implicits._

  private val HourUs = 3600000000L

  private def sampleEvents = (0L until 1000L)
    .map(i => (i * HourUs / 100, s"did${i % 7}", s"app.c${i % 3}"))
    .toDF("time_us", "did", "collection")

  test("append + replay returns ordered range from cursor") {
    val path = tmpDir("events-table")
    EventsTable.append(sampleEvents, path)
    val cursor = 5 * HourUs
    val out = EventsTable.replay(spark, path, cursor).select("time_us").as[Long].collect()
    assert(out.nonEmpty)
    assert(out.head >= cursor)
    assert(out.toSeq == out.toSeq.sorted)
    assert(out.length == sampleEvents.filter(col("time_us") >= cursor).count())
  }

  test("replay plan prunes partitions (PartitionFilters present)") {
    val path = tmpDir("events-prune")
    EventsTable.append(sampleEvents, path)
    val plan = EventsTable.replay(spark, path, 5 * HourUs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
    assert(plan.contains(s"${EventsTable.PartitionCol}"))
    // the µs residual predicate reaches parquet as a pushed filter
    assert(plan.contains("PushedFilters") && plan.contains("time_us"))
  }

  test("append writes ONE file per hour per batch, regardless of input parallelism") {
    val path = tmpDir("events-onefile")
    // 8-way parallel input spanning two hours: the stock committer would
    // write up to 8 files per hour; the prefix-closed append must fold
    // each hour to a single atomic rename
    val df = (0L until 2000L)
      .map(i => (i * (2 * HourUs) / 2000, s"did$i", "c"))
      .toDF("time_us", "did", "collection").repartition(8)
    EventsTable.append(df, path)
    EventsTable.append(df.filter(col("time_us") < HourUs), path) // second batch, hour 0 only
    def filesIn(hour: Long) = Option(
      new java.io.File(path, s"${EventsTable.PartitionCol}=$hour").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(filesIn(0) == 2, "hour 0: one file per append, two appends")
    assert(filesIn(1) == 1, "hour 1: one file from the first append")
    // no staging residue
    assert(!new java.io.File(path).list().exists(_.startsWith(".graft-staging")))
    // and the data round-trips exactly
    assert(EventsTable.read(spark, path).count() == 3000)
  }

  test("append visibility is prefix-closed: a later hour is never visible before an earlier one") {
    // Each batch spans hours (2k, 2k+1). With ascending-hour moves, a
    // concurrent lister that can see batch k's hour-(2k+1) file MUST
    // also see its hour-2k file. The stock committer moved files in
    // arbitrary order and could violate this (the round-12 soak's
    // delivery gap); this lister asserts the invariant under ~40 racing
    // appends.
    val path = tmpDir("events-prefix")
    new java.io.File(path).mkdirs()
    @volatile var done = false
    @volatile var violation: String = null
    val lister = new Thread(() => {
      while (!done && violation == null) {
        val root = new java.io.File(path)
        def hasFile(h: Long) = {
          val d = new java.io.File(root, s"${EventsTable.PartitionCol}=$h")
          d.isDirectory && Option(d.list()).exists(_.exists(n =>
            !n.startsWith("_") && !n.startsWith(".")))
        }
        var k = 0
        while (k < 40 && violation == null) {
          if (hasFile(2L * k + 1) && !hasFile(2L * k))
            violation = s"hour ${2 * k + 1} visible before hour ${2 * k}"
          k += 1
        }
      }
    })
    lister.setDaemon(true)
    lister.start()
    (0 until 40).foreach { k =>
      val base = 2L * k * HourUs
      val df = (0L until 200L)
        .map(i => (base + i * (2 * HourUs) / 200, s"did$i", "c"))
        .toDF("time_us", "did", "collection").repartition(4)
      EventsTable.append(df, path)
    }
    done = true
    lister.join(5000)
    assert(violation == null, s"visibility violation: $violation")
    assert(EventsTable.read(spark, path).count() == 40L * 200)
  }

  test("sharded append visibility is prefix-closed WITHIN an hour (multi-file hours)") {
    // shards=4 writes several time-contiguous files per hour, renamed in
    // (hour, part-index) ascending order. The lister tracks, per hour
    // dir and writer uuid, which part indices it has seen: a part index
    // NEWLY appearing after a HIGHER index of the same write was already
    // visible means a later time slice became visible first — the gap
    // bug, one level finer than the hour-granularity pin above.
    val path = tmpDir("events-prefix-sharded")
    new java.io.File(path).mkdirs()
    @volatile var done = false
    @volatile var violation: String = null
    val seen = scala.collection.mutable.Map.empty[(String, String), scala.collection.mutable.Set[Int]]
    val lister = new Thread(() => {
      while (!done && violation == null) {
        val root = new java.io.File(path)
        Option(root.listFiles()).getOrElse(Array.empty)
          .filter(d => d.isDirectory && d.getName.startsWith(s"${EventsTable.PartitionCol}="))
          .sortBy(_.getName)
          .foreach { d =>
            Option(d.list()).getOrElse(Array.empty)
              .filter(n => n.startsWith("part-") && !n.endsWith(".crc")).sorted
              .foreach { n =>
                val bits = n.split("-", 3)
                if (bits.length >= 3) {
                  val idx = bits(1).toInt
                  val key = (d.getName, bits(2)) // (hour dir, writer uuid + suffix tail is uuid-unique per job)
                  val s = seen.getOrElseUpdate(key, scala.collection.mutable.Set.empty)
                  if (!s.contains(idx)) {
                    if (s.exists(_ > idx))
                      violation = s"${d.getName}: part $idx appeared after part ${s.filter(_ > idx).min}"
                    s += idx
                  }
                }
              }
          }
      }
    })
    lister.setDaemon(true)
    lister.start()
    (0 until 40).foreach { k =>
      val base = 2L * k * HourUs
      val df = (0L until 400L)
        .map(i => (base + i * (2 * HourUs) / 400, s"did$i", "c"))
        .toDF("time_us", "did", "collection").repartition(4)
      EventsTable.append(df, path, shards = 4)
    }
    done = true
    lister.join(5000)
    assert(violation == null, s"visibility violation: $violation")
    // multi-file hours actually happened (the point of the shards knob)
    val multi = new java.io.File(path).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith(s"${EventsTable.PartitionCol}="))
      .map(d => d.list().count(n => n.startsWith("part-") && !n.endsWith(".crc")))
    assert(multi.exists(_ >= 2), s"expected multi-file hours, got ${multi.mkString(",")}")
    assert(EventsTable.read(spark, path).count() == 40L * 400)
    // the replay contract survives the sharded layout
    val replayed = EventsTable.replay(spark, path, 0L).select("time_us")
      .as[Long].collect()
    assert(replayed.length == 40 * 400 && replayed.sameElements(replayed.sorted))
  }

  test("the append's write leaves the modes the default local file system gives") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions.{fromString, toString => mode}
    import org.apache.hadoop.fs.{FileSystem, Path}
    val path = tmpDir("events-modes")
    EventsTable.append(sampleEvents.limit(10), path)
    val hour = Paths.get(path, s"${EventsTable.PartitionCol}=0")
    val part = Files.list(hour).filter(_.getFileName.toString.startsWith("part-")).findFirst().get
    // the same dir and file made by Hadoop's stock local file system
    val ref = tmpDir("events-modes-ref")
    val local = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    local.mkdirs(new Path(ref, "d"))
    local.create(new Path(ref, "f")).close()
    def modeOf(p: java.nio.file.Path) = mode(Files.getPosixFilePermissions(p))
    assert(modeOf(hour) == modeOf(Paths.get(ref, "d")))
    assert(modeOf(part) == modeOf(Paths.get(ref, "f")))
    // and a mode set through java.nio is the mode asked for
    val raw = new NioLocalFileSystem.Raw
    raw.initialize(java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())
    raw.setPermission(new Path(ref, "f"), new org.apache.hadoop.fs.permission.FsPermission("0640"))
    assert(modeOf(Paths.get(ref, "f")) == mode(fromString("rw-r-----")))
  }

  test("appends accumulate (at-least-once append contract)") {
    val path = tmpDir("events-append")
    EventsTable.append(sampleEvents.limit(10), path)
    EventsTable.append(sampleEvents.limit(10), path)
    assert(EventsTable.read(spark, path).count() == 20)
  }

  test("only fresh-boot analysis errors read as an empty table; breakage propagates") {
    // fresh boot: dir absent → PATH_NOT_FOUND classifies as boot
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(tmpDir("no-such-table") + "/gone").collect()
    }
    assert(EventsTable.isFreshBoot(missing))
    // created-but-empty dir → UNABLE_TO_INFER_SCHEMA classifies as boot
    val emptyDir = tmpDir("empty-table")
    val inferFail = intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(emptyDir).collect()
    }
    assert(EventsTable.isFreshBoot(inferFail))
    // genuine breakage (unresolvable column) must NOT classify as boot —
    // mapping it to an empty stream would tail forever delivering zero
    // rows with no error surfaced
    val broken = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("a").select(org.apache.spark.sql.functions.col("nope"))
    }
    assert(!EventsTable.isFreshBoot(broken))
  }
}
