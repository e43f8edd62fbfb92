package graft.store

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Storage-layout scale mechanics: small-file compaction of closed
  * hour partitions and bucketed co-located joins.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private val HourUs = 3600000000L

  test("manifest commit: a tailing reader never skips under out-of-order object visibility") {
    // VERDICT r13 #8: [[EventsTable.append]]'s prefix-closed visibility
    // rides atomic rename ORDERING, which rename-less object stores do
    // not provide. appendManifested's contract — readers see exactly
    // the contiguous committed-manifest prefix, by name, never a
    // listing — must hold when objects become visible out of order.
    // The serving edge's replay steps and cutover gap reads both go
    // through EventsTable.read (Replay via EventsTable.replay), so the
    // read-level invariant here IS the tailing reader's.
    import org.apache.hadoop.fs.Path
    val path = s"${tmpDir("manifest-events")}/events"
    def us(h: Long, i: Long) = h * HourUs + i
    def append(rows: Seq[Long]): Unit = EventsTable.appendManifested(
      rows.toDF("time_us").withColumn("did", concat(lit("d"), col("time_us"))),
      path, shards = 2)
    def visible(): Seq[Long] =
      EventsTable.read(spark, path).select("time_us").as[Long].collect().sorted.toSeq

    append(Seq(us(10, 1), us(10, 2), us(11, 1)))
    append(Seq(us(11, 2), us(11, 3)))
    append(Seq(us(11, 4), us(12, 1)))
    val all = Seq(us(10, 1), us(10, 2), us(11, 1), us(11, 2), us(11, 3),
      us(11, 4), us(12, 1))
    assert(visible() == all)

    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

    // crash orphan: a data object no manifest names (a replayed batch's
    // leftover) is structurally invisible — readers never list hour dirs
    val hour11 = new Path(root, "event_hour=11")
    val src = fs.listStatus(hour11).filter(_.isFile).head.getPath
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
      new Path(hour11, "part-09999-orphan.snappy.parquet"), false,
      spark.sessionState.newHadoopConf())
    assert(visible() == all, "an unmanifested object must stay invisible")

    // out-of-order visibility: m-2 has not propagated while m-3 has —
    // the view must truncate to the contiguous prefix (batch 1 only),
    // NEVER show batch 3 over the hole (which a listing-ordered reader
    // would, advancing its offset past batch 2 forever)
    val m2 = new Path(root, f"${EventsTable.ManifestsDir}/m-${2L}%012d")
    val hidden = new Path(root, f"${EventsTable.ManifestsDir}/.m2-in-flight")
    assert(fs.rename(m2, hidden))
    val prefix = visible()
    assert(prefix == Seq(us(10, 1), us(10, 2), us(11, 1)),
      s"view must truncate at the first manifest gap, got $prefix")
    val probedHead = prefix.last // what a tail probe plans up to NOW

    // the gap fills: everything reappears, and the set at/under the
    // already-probed head is UNCHANGED — the tailing reader that
    // advanced to probedHead missed nothing
    assert(fs.rename(hidden, m2))
    assert(visible() == all)
    assert(visible().filter(_ <= probedHead) == prefix,
      "no event at/under an already-probed head may appear later")

    // compaction composes with manifest mode: a live hour compacts from
    // its manifest-VISIBLE files — the orphan planted above must NOT
    // resurrect into the generation — and the committed generation then
    // serves the hour with rows identical to the manifest view
    val (before, after) = Compaction.compactHour(spark, path, 11, force = true)
    assert(before >= 2 && after >= 1)
    assert(Compaction.committedGens(spark, path).contains(11L),
      "hour 11 must now be generation-served")
    assert(visible() == all,
      "compacting a manifest table must neither lose rows nor resurrect orphans")
  }

  test("manifest checkpoints: rolls bound the object count, GC never breaks readers, retention entries pruned") {
    // ADVICE r14 (medium): without checkpoints every read parses every
    // manifest ever committed — O(total appends). A roll folds the
    // visible prefix into ONE object and GC's objects superseded by the
    // PREVIOUS checkpoint (lag-one, so racing readers still resolve).
    import org.apache.hadoop.fs.Path
    val path = s"${tmpDir("manifest-ckpt")}/events"
    val prevEvery = EventsTable.manifestCheckpointEvery
    EventsTable.manifestCheckpointEvery = 3
    try {
      def us(h: Long, i: Long) = h * HourUs + i
      def append(rows: Seq[Long]): Unit = EventsTable.appendManifested(
        rows.toDF("time_us").withColumn("did", concat(lit("d"), col("time_us"))),
        path)
      // 8 appends → rolls after m-3 (c-3) and m-6 (c-6); at the c-6 roll
      // m-1..m-3 (covered by c-3) are GC'd
      val batches = (1 to 8).map(b => Seq(us(10, b), us(11, b)))
      batches.foreach(append)
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      def objectNames(): Seq[String] =
        fs.listStatus(new Path(root, EventsTable.ManifestsDir))
          .map(_.getPath.getName).sorted.toSeq
      val names = objectNames()
      assert(names.count(_.startsWith("c-")) == 2, s"two checkpoints expected: $names")
      assert(!names.exists(n => n.startsWith("m-") && n.stripPrefix("m-").toLong <= 3),
        s"manifests covered by the previous checkpoint must be GC'd: $names")
      assert(names.count(_.startsWith("m-")) <= 2 * 3,
        s"manifest objects must stay bounded by two roll intervals: $names")

      // a COLD reader (fresh process: no memo) resolves checkpoint +
      // tail manifests to the complete row set
      EventsTable.clearManifestMemo()
      val all = batches.flatten.sorted
      assert(EventsTable.read(spark, path)
        .select("time_us").as[Long].collect().sorted.toSeq == all)

      // retention drops hour 10; the next roll prunes its entries from
      // the checkpoint object so it stays bounded by the LIVE table
      fs.delete(new Path(root, s"${EventsTable.PartitionCol}=10"), true)
      append(Seq(us(11, 100))) // m-9 → rolls c-9
      val ckpt9 = objectNames().filter(_.startsWith("c-")).max
      assert(ckpt9 == f"c-${9L}%012d", s"roll at 9 expected, got $ckpt9")
      val body = {
        val in = fs.open(new Path(root, s"${EventsTable.ManifestsDir}/$ckpt9"))
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString; in.close(); s
      }
      assert(!body.contains(s"${EventsTable.PartitionCol}=10/"),
        "checkpoint must prune entries under retention-dropped hours")
      EventsTable.clearManifestMemo()
      assert(EventsTable.read(spark, path).select("time_us").as[Long].collect().sorted.toSeq
        == (batches.flatten.filter(_ >= 11 * HourUs) :+ us(11, 100)).sorted)
    } finally EventsTable.manifestCheckpointEvery = prevEvery
  }

  test("compaction collapses micro-batch appends into sorted files; rows identical") {
    val path = tmpDir("compact-table")
    // 8 micro-batch appends into hour 0, one into hour 1 (the open hour)
    (0 until 8).foreach { b =>
      EventsTable.append(
        (0 until 50).map(i => ((b * 50 + i) * 1000L, s"did$i", "c"))
          .toDF("time_us", "did", "collection"),
        path)
    }
    EventsTable.append(Seq((HourUs + 1, "didx", "c")).toDF("time_us", "did", "collection"), path)

    val before = EventsTable.read(spark, path)
      .select("time_us").as[Long].collect().sorted.toSeq
    // schema stability: event_hour is LONG before any compaction...
    val hourTypeBefore = EventsTable.read(spark, path)
      .schema(EventsTable.PartitionCol).dataType
    assert(hourTypeBefore == org.apache.spark.sql.types.LongType)
    // each append emits one file per batch partition: ≥ 8 small files
    val nSmall = Compaction.partitionFiles(spark, path, 0).size
    assert(nSmall >= 8)

    val (nBefore, nAfter) = Compaction.compactHour(spark, path, 0)
    assert(nBefore == nSmall && nAfter == 1)

    val after = EventsTable.read(spark, path)
      .select("time_us").as[Long].collect().sorted.toSeq
    assert(after == before, "compaction must not change the data")
    // ...and IDENTICAL after the first generation commits — a standing
    // streaming query's captured schema must keep binding (the type a
    // mid-stream compaction must not flip)
    assert(EventsTable.read(spark, path).schema(EventsTable.PartitionCol).dataType
      == hourTypeBefore)
    // the partition column survives the rewrite (resolution-aware read)
    assert(EventsTable.read(spark, path)
      .filter(col(EventsTable.PartitionCol) === 0).count() == 400)
    // the hour now resolves to the committed generation, NOT the live
    // dir — which is left untouched for in-flight readers until vacuum
    val Some((genDir, gen)) = Compaction.currentCopy(spark, path, 0)
    assert(gen == 1 && genDir.getName == Compaction.genDirName(0, 1))
    assert(fsOf(path).exists(new org.apache.hadoop.fs.Path(
      s"$path/${EventsTable.PartitionCol}=0")), "live copy must survive until vacuum")
    // the rewritten file is time-sorted (row order within the single file)
    val inFile = spark.read.parquet(genDir.toString)
      .select("time_us").as[Long].collect().toSeq
    assert(inFile == inFile.sorted)
    // vacuum past the grace drops the superseded live copy; data unchanged
    val swept = Compaction.vacuum(spark, path, graceMs = -1)
    assert(swept.contains(s"${EventsTable.PartitionCol}=0"))
    assert(EventsTable.read(spark, path)
      .select("time_us").as[Long].collect().sorted.toSeq == before)
  }

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("compactClosed stops at the high-water hour") {
    val path = tmpDir("compact-hwm")
    (0 until 3).foreach { _ =>
      EventsTable.append(
        Seq((1000L, "a", "c"), (HourUs + 5, "b", "c")).toDF("time_us", "did", "collection"),
        path)
    }
    val done = Compaction.compactClosed(spark, path, hwmHour = 1)
    assert(done.keySet == Set(0L)) // hour 1 is open: untouched
    assert(Compaction.partitionFiles(spark, path, 0).size == 1)
    assert(Compaction.partitionFiles(spark, path, 1).size == 3)
  }

  test("crash-safety: an uncommitted generation is invisible and vacuumed; no repair needed") {
    import org.apache.hadoop.fs.Path
    val path = tmpDir("compact-crash")
    (0 until 4).foreach { b =>
      EventsTable.append(
        (0 until 25).map(i => ((b * 25 + i) * 1000L, s"did$i", "c"))
          .toDF("time_us", "did", "collection"), path)
    }
    val rows = EventsTable.read(spark, path).select("time_us").as[Long].collect().sorted.toSeq
    val fs = fsOf(path)

    // simulate a compaction crash: a complete rewrite whose _SUCCESS
    // never landed — the generation is uncommitted, so readers ignore it
    spark.read.parquet(s"$path/${EventsTable.PartitionCol}=0")
      .withColumn(EventsTable.PartitionCol, lit(0L))
      .write.parquet(s"$path/${Compaction.genDirName(0, 1)}")
    fs.delete(new Path(s"$path/${Compaction.genDirName(0, 1)}/_SUCCESS"), false)
    assert(EventsTable.read(spark, path).select("time_us").as[Long].collect().sorted.toSeq
      == rows, "uncommitted generation must be invisible")
    assert(Compaction.currentCopy(spark, path, 0).exists(_._2 == 0), "hour still served live")

    // vacuum sweeps the aborted build once it ages past the grace
    assert(Compaction.vacuum(spark, path, graceMs = -1)
      .contains(Compaction.genDirName(0, 1)))
    assert(!fs.exists(new Path(s"$path/${Compaction.genDirName(0, 1)}")))

    // a fresh compaction skips PAST the crashed attempt's number and
    // commits cleanly; compactClosed's vacuum+compact loop self-heals
    spark.read.parquet(s"$path/${EventsTable.PartitionCol}=0")
      .withColumn(EventsTable.PartitionCol, lit(0L))
      .write.parquet(s"$path/${Compaction.genDirName(0, 3)}")
    fs.delete(new Path(s"$path/${Compaction.genDirName(0, 3)}/_SUCCESS"), false)
    val (nb, na) = Compaction.compactHour(spark, path, 0)
    assert(nb > 1 && na == 1)
    assert(Compaction.currentCopy(spark, path, 0).exists(_._2 == 4),
      "new generation numbered past the crashed attempt")
    assert(EventsTable.read(spark, path).select("time_us").as[Long].collect().sorted.toSeq
      == rows)
  }

  test("legacy rename-swap crash leftovers migrate: no hour stays invisible after upgrade") {
    import org.apache.hadoop.fs.Path
    def mkTable(tag: String): (String, Seq[Long]) = {
      val path = tmpDir(s"legacy-$tag")
      (0 until 4).foreach { b =>
        EventsTable.append(
          (0 until 25).map(i => ((b * 25 + i) * 1000L, s"did$i", "c"))
            .toDF("time_us", "did", "collection"), path)
      }
      // a second hour untouched by the crash keeps the table readable
      // while hour 0 is parked in the legacy leftovers
      EventsTable.append(Seq((HourUs + 1, "didx", "c")).toDF("time_us", "did", "collection"), path)
      (path, EventsTable.read(spark, path).select("time_us").as[Long].collect().sorted.toSeq)
    }
    def liveDir(path: String) = new Path(s"$path/${EventsTable.PartitionCol}=0")
    val fs = fsOf(tmpDir("legacy-fs"))

    // --- old protocol crashed AFTER dir→backup with a COMPLETE tmp:
    // migration promotes the rewrite as generation 1. Real legacy tmps
    // were written FROM the leaf hour dir and so carry NO event_hour
    // column — fabricate exactly that format; migration must add the
    // column or the generation read branch can't bind.
    val (p1, rows1) = mkTable("fwd")
    spark.read.parquet(liveDir(p1).toString)
      .repartitionByRange(1, col("time_us")).sortWithinPartitions(col("time_us"))
      .write.parquet(s"$p1/_compact_tmp_0")
    assert(!spark.read.parquet(s"$p1/_compact_tmp_0").columns
      .contains(EventsTable.PartitionCol), "fixture must match the real legacy format")
    assert(fs.rename(liveDir(p1), new Path(s"$p1/_compact_old_0")))
    assert(EventsTable.read(spark, p1).filter(col(EventsTable.PartitionCol) === 0).count() == 0,
      "pre-migration: the crashed hour is invisible (the upgrade gap)")
    assert(Compaction.migrateLegacy(spark, p1) == Seq(0L))
    assert(EventsTable.read(spark, p1).select("time_us").as[Long].collect().sorted.toSeq
      == rows1, "rolled forward: same rows, served as generation 1")
    assert(Compaction.currentCopy(spark, p1, 0).exists(_._2 == 1))
    // hour predicates bind against the promoted generation (the column
    // the migration must have added)
    assert(EventsTable.read(spark, p1)
      .filter(col(EventsTable.PartitionCol) === 0).count() == 100)
    assert(!fs.exists(new Path(s"$p1/_compact_old_0")) && !fs.exists(new Path(s"$p1/_compact_tmp_0")))

    // --- INCOMPLETE tmp: migration restores the backup as the live dir
    val (p2, rows2) = mkTable("bak")
    spark.read.parquet(liveDir(p2).toString).write.parquet(s"$p2/_compact_tmp_0")
    fs.delete(new Path(s"$p2/_compact_tmp_0/_SUCCESS"), false)
    assert(fs.rename(liveDir(p2), new Path(s"$p2/_compact_old_0")))
    // vacuum runs the migration automatically (the maintenance entry)
    Compaction.vacuum(spark, p2, graceMs = 24L * 3600 * 1000)
    assert(EventsTable.read(spark, p2).select("time_us").as[Long].collect().sorted.toSeq
      == rows2, "rolled back: original live dir restored")
    assert(!fs.exists(new Path(s"$p2/_compact_tmp_0")))

    // --- leftovers beside a SERVED hour are swept, data untouched
    val (p3, rows3) = mkTable("sweep")
    spark.read.parquet(liveDir(p3).toString).write.parquet(s"$p3/_compact_tmp_0")
    assert(Compaction.migrateLegacy(spark, p3) == Seq.empty)
    assert(!fs.exists(new Path(s"$p3/_compact_tmp_0")), "stray tmp swept")
    assert(EventsTable.read(spark, p3).select("time_us").as[Long].collect().sorted.toSeq
      == rows3)
  }

  test("readers racing repeated compactions never see a missing or partial hour") {
    val path = tmpDir("compact-race")
    (0 until 8).foreach { b =>
      EventsTable.append(
        (0 until 50).map(i => ((b * 50 + i) * 1000L, s"did$i", "c"))
          .toDF("time_us", "did", "collection"), path)
    }
    EventsTable.append(Seq((HourUs + 1, "didx", "c")).toDF("time_us", "did", "collection"), path)
    val expected = 401L

    @volatile var failure: Option[String] = None
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicInteger
    val reader = new Thread(() => {
      while (!stop.get() && failure.isEmpty) {
        try {
          val n = EventsTable.read(spark, path).count()
          reads.incrementAndGet()
          if (n != expected) failure = Some(s"reader saw $n rows, expected $expected")
        } catch { case e: Throwable => failure = Some(s"reader failed: $e") }
      }
    })
    reader.start()
    try {
      // four superseding generations while the reader loops; vacuum runs
      // alongside with a generous grace, so every copy a reader may have
      // resolved is still on disk
      (1 to 4).foreach { i =>
        Compaction.compactHour(spark, path, 0,
          targetBytes = if (i % 2 == 0) 1L << 30 else 4096L, force = true)
        Compaction.vacuum(spark, path, graceMs = 24L * 3600 * 1000)
      }
    } finally {
      stop.set(true)
      reader.join(60000)
    }
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(reads.get() > 0, "reader never completed a scan")
    assert(Compaction.currentCopy(spark, path, 0).exists(_._2 == 4))
    // after the grace ages out, vacuum reclaims every superseded copy
    // and the table still reads complete
    assert(Compaction.vacuum(spark, path, graceMs = -1).size >= 4)
    assert(EventsTable.read(spark, path).count() == expected)
    assert(Compaction.partitionFiles(spark, path, 0).nonEmpty)
  }

  test("bucketed_join registered query: join AND aggregate are exchange-free") {
    val q = graft.query.RelationalQueries.bucketedJoin(spark, "/root/testdata/sf0.001")
    q.collect() // execute so AQE (if any) finalizes
    val plan = q.queryExecution.executedPlan
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"co-located join + same-key aggregate must have ZERO Exchange, got:\n$plan")
    assert(plan.toString.contains("SortMergeJoin"), "merge hint must pin SMJ")
    // identical answer to the plain (shuffled) join composition
    val plain = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      .join(graft.Tables.customer(spark, "/root/testdata/sf0.001"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey")).count()
    assert(q.count() == plain.count())
  }

  test("bucketed tables join with no shuffle on either side") {
    val facts = (1 to 10000).map(i => (i.toLong % 500, i.toLong, i * 1.5))
      .toDF("key", "row_id", "v")
    val dim = (0 to 499).map(i => (i.toLong, s"name$i")).toDF("key", "name")
    try {
      Bucketing.writeBucketed(facts, "t_facts_bkt", "key", 4)
      Bucketing.writeBucketed(dim, "t_dim_bkt", "key", 4)
      val joined = Bucketing.bucketedJoin(spark, "t_facts_bkt", "t_dim_bkt", "key")
      val plan = joined.queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, s"bucketed join must be shuffle-free, got:\n$plan")
      assert(joined.count() == 10000)
      // same answer as the plain (shuffled) join
      assert(joined.agg(sum(col("v"))).head().getDouble(0) ==
        facts.join(dim, "key").agg(sum(col("v"))).head().getDouble(0))
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_facts_bkt")
      spark.sql("DROP TABLE IF EXISTS t_dim_bkt")
    }
  }

  test("manifest memo is bounded: churning many tables never grows past the LRU cap") {
    // VERDICT r15 #7: a long-lived service JVM that reads N tables over
    // its life must hold memos for at most the cap (default 64), and an
    // EVICTED table's next read must still resolve correctly (cold,
    // from the checkpoint + interval objects — the fresh-process shape).
    EventsTable.clearManifestMemo()
    val base = tmpDir("memo-churn")
    val n = 80
    val paths = (0 until n).map { i =>
      val path = s"$base/t$i/events"
      EventsTable.appendManifested(
        Seq(i * HourUs + 1L).toDF("time_us")
          .withColumn("did", concat(lit("d"), col("time_us"))),
        path)
      path
    }
    paths.foreach(p => EventsTable.read(spark, p).count())
    assert(EventsTable.manifestMemoSize <= 64,
      s"memo grew to ${EventsTable.manifestMemoSize} entries over $n tables")
    // table 0's memo was evicted by the churn; its read is cold and right
    assert(EventsTable.read(spark, paths.head)
      .select("time_us").as[Long].head() == 1L)
    assert(EventsTable.manifestMemoSize <= 64)
  }
}
