package graft.ext

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.DriverBudget

/** The build-once / probe-many index lifecycle: probe results must
  * equal the one-shot forms bit-for-bit, probes must plan against the
  * index tables only (partition-pruned for IVF), and IndexStore must
  * build exactly once per source fingerprint.
  */
class IndexSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def fileScans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }

  test("IndexStore.ensure builds once per fingerprint, reuses after") {
    val src = tmpDir("idx-src")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(src)
    var builds = 0
    def ensure(): String = IndexStore.ensure("spec", spark, Seq(src)) { tmp =>
      builds += 1
      Seq((1L, 1L)).toDF("k", "n").write.parquet(s"$tmp/t")
    }
    val p1 = ensure()
    val p2 = ensure()
    assert(p1 == p2 && builds == 1)
    assert(spark.read.parquet(s"$p1/t").count() == 1)
    // a rewritten source snapshot fingerprints differently → fresh build
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(src)
    val p3 = ensure()
    assert(p3 != p1 && builds == 2)
    // a committed build GCs superseded same-kind fingerprints (the
    // rewritten snapshot can never be probed again) and releases its lock
    val fs = new org.apache.hadoop.fs.Path(p3)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p1)), "stale index not GC'd")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p3.lock")), "lock not released")
    assert(fs.exists(new org.apache.hadoop.fs.Path(p3, "_READY")))
  }

  test("fingerprint sees a nested in-place rewrite (same name and size)") {
    val src = tmpDir("idx-fp")
    val nested = new java.io.File(s"$src/part=1")
    nested.mkdirs()
    val leaf = new java.io.File(nested, "data.bin")
    java.nio.file.Files.write(leaf.toPath, "aaaa".getBytes)
    leaf.setLastModified(1000000L)
    val fp1 = IndexStore.fingerprint(spark, Seq(src))
    // rewrite in place: same path, same length, newer mtime — the case a
    // top-level-only listing misses (the parent dir entry doesn't change)
    java.nio.file.Files.write(leaf.toPath, "bbbb".getBytes)
    leaf.setLastModified(2000000L)
    val fp2 = IndexStore.fingerprint(spark, Seq(src))
    assert(fp1 != fp2)
  }

  test("gcStale sweeps a crashed builder's orphaned temp once idle past the lock budget") {
    val src = tmpDir("idx-gc-tmp")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(src)
    val fs = new org.apache.hadoop.fs.Path(IndexStore.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed builder's leftover: a full (possibly huge) temp copy
    val orphan = new org.apache.hadoop.fs.Path(
      s"${IndexStore.root}/gct-deadbeef.build-cafe0000")
    fs.mkdirs(orphan)
    val prevWait = System.getProperty("graft.index.lockWaitMs")
    System.setProperty("graft.index.lockWaitMs", "1") // idle budget ~0 for the test
    try {
      Thread.sleep(5)
      IndexStore.ensure("gct", spark, Seq(src)) { tmp =>
        Seq((1L, 1L)).toDF("k", "n").write.parquet(s"$tmp/t")
      }
      assert(!fs.exists(orphan), "orphaned build temp must be swept on commit")
    } finally {
      if (prevWait == null) System.clearProperty("graft.index.lockWaitMs")
      else System.setProperty("graft.index.lockWaitMs", prevWait)
    }
  }

  test("shared IVF base: SQ8 + BQ probes over one layout equal the separate builds") {
    val emb = graft.Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    val q = graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, 3)
    val shared = tmpDir("ivf-shared"); val sharedBq = tmpDir("ivf-shared-bq")
    Ann.build(emb, "vec_id", "embedding", shared, Ann.SQ8(64), Ann.Ivf(centroids = cents))
    Ann.build(emb, "vec_id", "embedding", sharedBq, Ann.BQ(64),
      Ann.Ivf(vectorsDir = Some(shared)))
    val sq8Sep = tmpDir("ivf-sq8-sep"); val bqSep = tmpDir("ivf-bq-sep")
    // the separate builds learn the same deterministic centroids
    Ann.build(emb, "vec_id", "embedding", sq8Sep, Ann.SQ8(64), Ann.Ivf(k = 8))
    Ann.build(emb, "vec_id", "embedding", bqSep, Ann.BQ(64), Ann.Ivf(k = 8))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(Ann.probe(spark, shared, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q)) ==
      rows(Ann.probe(spark, sq8Sep, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q)),
      "shared-base SQ8 probe diverged from the separate build")
    assert(rows(Ann.probe(spark, sharedBq, Ann.Ivf(nprobe = 2, vectorsDir = Some(shared)),
      "vec_id", "embedding", q)) ==
      rows(Ann.probe(spark, bqSep, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q)),
      "shared-base BQ probe diverged from the separate build")
  }

  test("chunked shared build: probes equal the one-shot buildIvfSq8BqShared") {
    // VERDICT r17 #8: the one-shot build's partitionBy sort transiently
    // doubles the corpus-heavy vectors table on local disk — the wall
    // that capped the ANN rehearsal at 4M×768. The chunked form
    // reorganizes only a cell-range at a time; every learner it feeds
    // is order-independent, so the served index must be
    // probe-identical.
    val emb = graft.Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    val q = graft.Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, 3)
    val one = tmpDir("ivf-chunk-one"); val oneBq = tmpDir("ivf-chunk-one-bq")
    Ann.build(emb, "vec_id", "embedding", one, Ann.SQ8(64), Ann.Ivf(centroids = cents))
    Ann.build(emb, "vec_id", "embedding", oneBq, Ann.BQ(64), Ann.Ivf(vectorsDir = Some(one)))
    val chk = tmpDir("ivf-chunk-many"); val chkBq = tmpDir("ivf-chunk-many-bq")
    // ranges not dividing K exercises the bounds
    Ann.buildBaseChunked(emb, "vec_id", "embedding", chk, cents, ranges = 3)
    Ann.build(emb, "vec_id", "embedding", chk, Ann.SQ8(64), Ann.Ivf(vectorsDir = Some(chk)))
    Ann.build(emb, "vec_id", "embedding", chkBq, Ann.BQ(64), Ann.Ivf(vectorsDir = Some(chk)))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(Ann.probe(spark, chk, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q)) ==
      rows(Ann.probe(spark, one, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q)),
      "chunked-build SQ8 probe diverged from the one-shot build")
    assert(rows(Ann.probe(spark, chkBq, Ann.Ivf(nprobe = 2, vectorsDir = Some(chk)),
      "vec_id", "embedding", q)) ==
      rows(Ann.probe(spark, oneBq, Ann.Ivf(nprobe = 2, vectorsDir = Some(one)), "vec_id",
        "embedding", q)),
      "chunked-build BQ probe diverged from the one-shot build")
    // and batch probes over the chunked layout work too (the batch
    // scan pruning must tolerate the appended multi-file label dirs)
    val queries = graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    assert(Ann.probeBatch(spark, chk, Ann.Ivf(nprobe = 2), "vec_id", "embedding", queries,
      "qid", "qvec", k = 5, rerank = 20).count() > 0)
  }

  test("janitor: reclaims epoch debris, dead corpora, crash orphans — and nothing else") {
    import org.apache.hadoop.fs.Path
    val fs = new Path(IndexStore.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def plantCommitted(name: String, sources: Seq[String],
        fpSources: Option[Seq[String]], withSources: Boolean = true): Path = {
      val dir = new Path(s"${IndexStore.root}/$name")
      fs.mkdirs(dir)
      def put(n: String, vals: Seq[String]): Unit = {
        val out = fs.create(new Path(dir, n), true)
        out.write(vals.sorted.mkString("\n").getBytes("UTF-8")); out.close()
      }
      if (withSources) put("_SOURCES", sources)
      fpSources.foreach(put("_FP_SOURCES", _))
      fs.create(new Path(dir, "_READY"), true).close()
      dir
    }
    val src1 = tmpDir("jan-src1"); val src2 = tmpDir("jan-src2")
    val src3 = tmpDir("jan-src3")
    Seq(src1, src2, src3).foreach(d =>
      Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(d))
    // live index (current fingerprint) — must survive
    val live = IndexStore.ensure("jan", spark, Seq(src1)) { tmp =>
      Seq((1L, 1L)).toDF("k", "n").write.parquet(s"$tmp/t")
    }
    // stale-epoch sibling of the SAME corpus: wrong fingerprint, live
    // successor exists — reaped
    val staleEpoch = plantCommitted("jan-" + "0" * 32, Seq(src1), Some(Seq(src1)))
    // committed index of a DELETED corpus — reaped
    IndexStore.ensure("jandead", spark, Seq(src2)) { tmp =>
      Seq((1L, 1L)).toDF("k", "n").write.parquet(s"$tmp/t")
    }
    val deadDir = new Path(fs.listStatus(new Path(IndexStore.root))
      .map(_.getPath.toString).find(_.contains("/jandead-")).get)
    fs.delete(new Path(src2), true)
    // lone stale index (wrong fingerprint, NO live successor): the
    // janitor must never delete the only copy
    val lone = plantCommitted("janlone-" + "1" * 32, Seq(src3), Some(Seq(src3)))
    // unattributable committed dir (no _SOURCES): out of scope
    val foreign = plantCommitted("janforeign-" + "2" * 32, Nil, None, withSources = false)
    // crash orphan + stale lock, idle past the (shrunken) budget
    val orphan = new Path(s"${IndexStore.root}/jangone-deadbeef.build-cafe0000")
    fs.mkdirs(orphan)
    val staleLock = new Path(s"${IndexStore.root}/jangone-deadbeef.lock")
    fs.create(staleLock, true).close()
    val prevWait = System.getProperty("graft.index.lockWaitMs")
    System.setProperty("graft.index.lockWaitMs", "1")
    try {
      Thread.sleep(5)
      // dry run: right victims, nothing deleted
      def noScheme(p: String) = p.stripPrefix("file:")
      val dry = IndexStore.janitor(spark).map(v => noScheme(v._1)).toSet
      assert(dry == Set(staleEpoch.toString, deadDir.toString,
        orphan.toString, staleLock.toString).map(noScheme),
        s"dry-run victims: $dry")
      assert(fs.exists(staleEpoch) && fs.exists(deadDir) &&
        fs.exists(orphan) && fs.exists(staleLock), "dry run must not delete")
      // real run: exactly the victims gone, survivors intact
      IndexStore.janitor(spark, dryRun = false)
      assert(!fs.exists(staleEpoch) && !fs.exists(deadDir) &&
        !fs.exists(orphan) && !fs.exists(staleLock))
      assert(fs.exists(new Path(live)), "live index must survive")
      assert(fs.exists(lone), "the only copy of a stale index must survive")
      assert(fs.exists(foreign), "unattributable dirs are out of scope")
      assert(IndexStore.janitor(spark).isEmpty, "second pass finds nothing")
    } finally {
      if (prevWait == null) System.clearProperty("graft.index.lockWaitMs")
      else System.setProperty("graft.index.lockWaitMs", prevWait)
    }
  }

  test("gcStale spares a LIVE build: stale top-level mtime, fresh task-commit children") {
    val src = tmpDir("idx-gc-live")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(src)
    val fs = new org.apache.hadoop.fs.Path(IndexStore.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a LIVE slow build: the temp's top-level mtime is ancient (the
    // FileOutputCommitter creates the dest at job start and never
    // touches it again) but a task-attempt file deep under _temporary
    // was written moments ago — exactly the shape gcStale must spare
    val live = new org.apache.hadoop.fs.Path(
      s"${IndexStore.root}/gcl-deadbeef.build-feed0000")
    val taskDir = new org.apache.hadoop.fs.Path(live, "_temporary/0/_temporary/attempt_0")
    fs.mkdirs(taskDir)
    val old = System.currentTimeMillis() - 3600 * 1000
    fs.setTimes(live, old, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(live, "_temporary"), old, -1)
    fs.setTimes(new org.apache.hadoop.fs.Path(live, "_temporary/0"), old, -1)
    fs.setTimes(taskDir, old, -1)
    fs.create(new org.apache.hadoop.fs.Path(taskDir, "part-00000"), true).close() // fresh
    val prevWait = System.getProperty("graft.index.lockWaitMs")
    System.setProperty("graft.index.lockWaitMs", s"${10 * 60 * 1000}")
    try {
      IndexStore.ensure("gcl", spark, Seq(src)) { tmp =>
        Seq((1L, 1L)).toDF("k", "n").write.parquet(s"$tmp/t")
      }
      assert(fs.exists(live),
        "a build with recent child writes is ALIVE and must not be swept")
    } finally {
      fs.delete(live, true)
      if (prevWait == null) System.clearProperty("graft.index.lockWaitMs")
      else System.setProperty("graft.index.lockWaitMs", prevWait)
    }
  }

  test("ensure does not clobber an index committed while waiting on the lock") {
    val src = tmpDir("idx-race")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(src)
    // simulate a concurrent winner: pre-commit an index at the exact
    // path ensure() resolves, plus the winner's (now-stale) lock file
    val path = s"${IndexStore.root}/race-${IndexStore.fingerprint(spark, Seq(src))}"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(path))
    fs.create(new org.apache.hadoop.fs.Path(path, "_READY"), true).close()
    fs.create(new org.apache.hadoop.fs.Path(s"$path.lock"), true).close()
    var built = false
    val got = IndexStore.ensure("race", spark, Seq(src)) { _ => built = true }
    assert(got == path && !built, "committed winner must be served, not rebuilt")
    assert(fs.exists(new org.apache.hadoop.fs.Path(path, "_READY")))
  }

  test("ivfProbe over a persisted index matches the one-shot ivfTopK") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val rest = emb.filter(col("vec_id") =!= 0)
    val idx = tmpDir("idx-ivf")
    Ann.build(rest, "vec_id", "embedding", idx, Ann.Exact, Ann.Ivf())
    for (nprobe <- Seq(1, 2, 3)) {
      val oneShot = Similarity.ivfTopK(rest, "vec_id", "label", "embedding", q,
        k = 10, nprobe = nprobe).as[(Long, Double)].collect().toSeq
      val probed = Ann.probe(spark, idx, Ann.Ivf(nprobe = nprobe), "vec_id", "embedding", q,
        k = 10).as[(Long, Double)].collect().toSeq
      assert(probed == oneShot, s"nprobe=$nprobe")
    }
  }

  test("ivfProbe plan is a partition-pruned index read, no corpus scan") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val idx = tmpDir("idx-ivf-plan")
    Ann.build(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", idx, Ann.Exact,
      Ann.Ivf())
    val probe = Ann.probe(spark, idx, Ann.Ivf(nprobe = 1), "vec_id", "embedding", q, k = 10)
    val scans = fileScans(probe)
    assert(scans.nonEmpty)
    // every scan reads the index, none the raw corpus
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.forall(_.contains(idx)), s"non-index scans: $roots")
    // the vectors read carries a partition filter on the cell label
    val vecScans = scans.filter(
      _.relation.location.rootPaths.exists(_.toString.contains("vectors")))
    assert(vecScans.nonEmpty && vecScans.forall(_.partitionFilters.nonEmpty),
      "vectors scan is not partition-pruned")
    // and the pruned read returns 10 ranked hits
    assert(probe.count() == 10)
  }

  test("ivfPqProbe plan reads ONLY the probed cells' codes + vectors, both pruned, no corpus scan") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val idx = tmpDir("idx-ivfpq-plan")
    Ann.build(emb.filter(col("vec_id") =!= 0).drop("label"), "vec_id", "embedding", idx,
      Ann.PQ(dim = 64, m = 4, ksub = 16), Ann.Ivf(k = 8))
    val probe = Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
      rerank = 50)
    val scans = fileScans(probe)
    assert(scans.nonEmpty)
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.forall(_.contains(idx)), s"non-index scans: $roots")
    // BOTH data reads — the ADC code scan and the rerank vector read —
    // carry a partition filter on the cell label (this is the whole
    // point of the composition: a probe touches nprobe cells' files)
    Seq("codes", "vectors").foreach { table =>
      val ts = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains(table)))
      assert(ts.nonEmpty && ts.forall(_.partitionFilters.nonEmpty),
        s"$table scan is not partition-pruned")
      // and the pruning actually drops files: the probed file set is a
      // strict subset of the table's partitions (8 cells, nprobe=2)
      ts.foreach { scan =>
        val probedDirs = scan.relation.location
          .listFiles(scan.partitionFilters, scan.dataFilters).size
        assert(probedDirs <= 2, s"$table probe lists $probedDirs partitions, wanted <= nprobe")
      }
    }
    assert(probe.count() == 10)
  }

  test("ivfSq8Probe: both data reads pruned to <= nprobe cells, no corpus scan") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val idx = tmpDir("idx-ivfsq8-plan")
    Ann.build(emb.filter(col("vec_id") =!= 0).drop("label"), "vec_id", "embedding", idx,
      Ann.SQ8(64), Ann.Ivf(k = 8))
    val probe = Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
      rerank = 50)
    val scans = fileScans(probe)
    assert(scans.nonEmpty)
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.forall(_.contains(idx)), s"non-index scans: $roots")
    Seq("codes", "vectors").foreach { table =>
      val ts = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains(table)))
      assert(ts.nonEmpty && ts.forall(_.partitionFilters.nonEmpty),
        s"$table scan is not partition-pruned")
      ts.foreach { scan =>
        val probedDirs = scan.relation.location
          .listFiles(scan.partitionFilters, scan.dataFilters).size
        assert(probedDirs <= 2, s"$table probe lists $probedDirs partitions, wanted <= nprobe")
      }
    }
    assert(probe.count() == 10)
  }

  test("batch probes guard the query dimension; an empty batch returns empty") {
    // the single probes require() their dim against the learned params;
    // the batch twins must fail the same way instead of silently
    // ranking nulled/zero-padded scores (round-16 self-review finding)
    val emb = graft.Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") >= 3).drop("label")
    val idx = tmpDir("idx-sq8-guard")
    Ann.build(corpus, "vec_id", "embedding", idx, Ann.SQ8(64), Ann.Flat())
    val bad = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding"))
    intercept[IllegalArgumentException] {
      Ann.probeBatch(spark, idx, Ann.Flat(corpus), "vec_id", "embedding", bad, "vec_id",
        "embedding")
    }
    val empty = emb.filter(col("vec_id") < 0)
    assert(Ann.probeBatch(spark, idx, Ann.Flat(corpus), "vec_id", "embedding", empty,
      "vec_id", "embedding").count() == 0)
  }

  test("ivfOpqProbe: both data reads pruned to <= nprobe cells, no corpus scan") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val idx = tmpDir("idx-ivfopq-plan")
    Ann.build(emb.filter(col("vec_id") =!= 0).drop("label"), "vec_id", "embedding", idx,
      Ann.PQ(dim = 64, m = 4, ksub = 16, opqIters = 2), Ann.Ivf(k = 8))
    val probe = Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
      rerank = 50)
    val scans = fileScans(probe)
    assert(scans.nonEmpty)
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.forall(_.contains(idx)), s"non-index scans: $roots")
    Seq("codes", "vectors").foreach { table =>
      val ts = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains(table)))
      assert(ts.nonEmpty && ts.forall(_.partitionFilters.nonEmpty),
        s"$table scan is not partition-pruned")
      ts.foreach { scan =>
        val probedDirs = scan.relation.location
          .listFiles(scan.partitionFilters, scan.dataFilters).size
        assert(probedDirs <= 2, s"$table probe lists $probedDirs partitions, wanted <= nprobe")
      }
    }
    assert(probe.count() == 10)
  }

  test("batch IVF probes: every data read statically pruned to the probed-cell union") {
    // VERDICT r17 #1: the r17 spreadForScore repartition sat between
    // the cell-partitioned scan and the probe join, blocking dynamic
    // partition pruning — every batch call scanned and shuffled EVERY
    // cell's codes, and no spec caught it because the listFiles pins
    // covered single probes only. This is the missing batch pin: a
    // 3-query batch at nprobe=2 must list <= 6 partitions on every
    // data read (codes/words AND the rerank vectors), via the literal
    // isin union filter that static-prunes ahead of the spread.
    val emb = graft.Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") >= 3).drop("label")
    val queries = emb.filter(col("vec_id") < 3)
    val union = 3 * 2 // n_q x nprobe
    def pinned(name: String, probe: org.apache.spark.sql.DataFrame,
        tables: Seq[String]): Unit = {
      val scans = fileScans(probe)
      tables.foreach { table =>
        val ts = scans.filter(
          _.relation.location.rootPaths.exists(_.toString.contains(table)))
        assert(ts.nonEmpty, s"$name: no $table scan in the plan")
        ts.foreach { scan =>
          // the literal isin union filter must prune STATICALLY — a
          // runtime DPP subquery (which the probe join may add on top)
          // is exactly what the r17 spread blocked, so it cannot be
          // the pruning this pin accepts; evaluate the static
          // predicates only (DPP filters are unevaluable at plan time)
          val static = scan.partitionFilters.filterNot(_.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
          assert(static.nonEmpty,
            s"$name: $table scan carries no STATIC partition filter")
          val dirs = scan.relation.location
            .listFiles(static, scan.dataFilters).size
          assert(dirs <= union,
            s"$name: $table batch scan lists $dirs partitions, wanted <= $union")
        }
      }
      assert(probe.count() > 0)
    }
    val idxPq = tmpDir("idx-ivfpq-batchplan")
    Ann.build(corpus, "vec_id", "embedding", idxPq, Ann.PQ(dim = 64, m = 4, ksub = 16),
      Ann.Ivf(k = 8))
    pinned("ivf_pq_batch", Ann.probeBatch(spark, idxPq, Ann.Ivf(nprobe = 2), "vec_id",
      "embedding", queries, "vec_id", "embedding", k = 10, rerank = 50), Seq("codes", "vectors"))
    val idxRes = tmpDir("idx-ivfpqres-batchplan")
    Ann.build(corpus, "vec_id", "embedding", idxRes,
      Ann.PQ(dim = 64, m = 4, ksub = 16, residual = true), Ann.Ivf(k = 8))
    pinned("ivf_pq_residual_batch", Ann.probeBatch(spark, idxRes, Ann.Ivf(nprobe = 2),
      "vec_id", "embedding", queries, "vec_id", "embedding", k = 10, rerank = 50), Seq("codes", "vectors"))
    val idxS = tmpDir("idx-ivfsq8-batchplan")
    Ann.build(corpus, "vec_id", "embedding", idxS, Ann.SQ8(64), Ann.Ivf(k = 8))
    pinned("ivf_sq8_batch", Ann.probeBatch(spark, idxS, Ann.Ivf(nprobe = 2), "vec_id",
      "embedding", queries, "vec_id", "embedding", k = 10, rerank = 50), Seq("codes", "vectors"))
    val idxB = tmpDir("idx-ivfbq-batchplan")
    Ann.build(corpus, "vec_id", "embedding", idxB, Ann.BQ(64), Ann.Ivf(k = 8))
    pinned("ivf_bq_batch", Ann.probeBatch(spark, idxB, Ann.Ivf(nprobe = 2), "vec_id",
      "embedding", queries, "vec_id", "embedding", k = 10, rerank = 50), Seq("words", "vectors"))
  }

  test("batch probes scope the heap-aggregate conf to a cloned session") {
    // VERDICT r17 #4 / ADVICE r17 #2: the r17 topKPerQid permanently
    // raised spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    // on the CALLER's session — every later object-hash aggregate in
    // the session (a user's million-group collect_list) lost its
    // sort-based spill fallback. The probe now rebinds its finished
    // plan to a cloned session carrying the override.
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val before = spark.conf.getOption(key)
    val emb = graft.Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") >= 3).drop("label")
    val idx = tmpDir("idx-ivfsq8-confscope")
    Ann.build(corpus, "vec_id", "embedding", idx, Ann.SQ8(64), Ann.Ivf(k = 8))
    val probe = Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, rerank = 50)
    assert(probe.count() > 0)
    assert(spark.conf.getOption(key) == before,
      "batch probe mutated the caller session's conf")
    // and the probe's own execution session carries the override
    assert(probe.sparkSession ne spark)
    assert(probe.sparkSession.conf.get(key) == (1 << 20).toString)
  }

  test("flat batch probe construction runs no corpus-census job") {
    // ADVICE r17 #1: the FlatBatchGuard steer ran codes.count() — a
    // full scan-plus-shuffle job of the (post-repartition) corpus
    // table per flat batch call, just to log an estimate. The census
    // now reads parquet footers driver-side: building the probe frame
    // must run only the two tiny query-frame aggregates (batch size +
    // dimension guard), with no job touching the codes table.
    val emb = graft.Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") >= 3).drop("label")
    val idx = tmpDir("idx-sq8-censusjobs")
    Ann.build(corpus, "vec_id", "embedding", idx, Ann.SQ8(64), Ann.Flat())
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Ann.probeBatch(spark, idx, Ann.Flat(corpus), "vec_id", "embedding", queries, "qid",
        "qvec") // constructed, never executed
      org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark.sparkContext)
      // measured construction budget: 2 AQE sub-jobs each for the two
      // tiny query-frame aggregates (batch-size count + dimension
      // guard), the K-row params collect, and two metadata-only
      // parquet schema-inference jobs = 7. The r17 census count() ran
      // the codes scan + repartition shuffle ON TOP of these — any
      // corpus-shaped job re-appearing busts this pin.
      assert(jobs.get() <= 7,
        s"flat batch construction ran ${jobs.get()} jobs, wanted <= 7 " +
          "(the census must be footer-only, never a count() job)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ivfBqProbe: both data reads pruned to <= nprobe cells, no corpus scan") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val idx = tmpDir("idx-ivfbq-plan")
    Ann.build(emb.filter(col("vec_id") =!= 0).drop("label"), "vec_id", "embedding", idx,
      Ann.BQ(64), Ann.Ivf(k = 8))
    val probe = Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
      rerank = 50)
    val scans = fileScans(probe)
    assert(scans.nonEmpty)
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.forall(_.contains(idx)), s"non-index scans: $roots")
    Seq("words", "vectors").foreach { table =>
      val ts = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains(table)))
      assert(ts.nonEmpty && ts.forall(_.partitionFilters.nonEmpty),
        s"$table scan is not partition-pruned")
      ts.foreach { scan =>
        val probedDirs = scan.relation.location
          .listFiles(scan.partitionFilters, scan.dataFilters).size
        assert(probedDirs <= 2, s"$table probe lists $probedDirs partitions, wanted <= nprobe")
      }
    }
    assert(probe.count() == 10)
  }

  test("ivfPqResidualProbe: both data reads pruned to <= nprobe cells, no corpus scan") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val idx = tmpDir("idx-ivfpqres-plan")
    Ann.build(emb.filter(col("vec_id") =!= 0).drop("label"), "vec_id", "embedding", idx,
      Ann.PQ(dim = 64, m = 4, ksub = 16, residual = true), Ann.Ivf(k = 8))
    val probe = Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
      rerank = 50)
    val scans = fileScans(probe)
    assert(scans.nonEmpty)
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.forall(_.contains(idx)), s"non-index scans: $roots")
    Seq("codes", "vectors").foreach { table =>
      val ts = scans.filter(
        _.relation.location.rootPaths.exists(_.toString.contains(table)))
      assert(ts.nonEmpty && ts.forall(_.partitionFilters.nonEmpty),
        s"$table scan is not partition-pruned")
      ts.foreach { scan =>
        val probedDirs = scan.relation.location
          .listFiles(scan.partitionFilters, scan.dataFilters).size
        assert(probedDirs <= 2, s"$table probe lists $probedDirs partitions, wanted <= nprobe")
      }
    }
    assert(probe.count() == 10)
  }

  test("ivfPqProbeBatch equals a loop of single-query probes; windows all qid-partitioned") {
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = tmpDir("idx-ivfpq-batch")
    Ann.build(emb.filter(col("vec_id") >= 3).drop("label"), "vec_id", "embedding", idx,
      Ann.PQ(dim = 64, m = 4, ksub = 16), Ann.Ivf(k = 8))
    val batch = Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, rerank = 50)
    // one distributed pass must produce EXACTLY what the driver loop of
    // single-query probes produces, query by query
    val got = batch.as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq).toMap
    (0L to 2L).foreach { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
      val single = Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q,
        k = 10, rerank = 50)
        .as[(Long, Double)].collect().toSeq
      assert(got(qid) == single, s"batch result for query $qid diverges from the single probe")
    }
    // no global sorts: every Window in the batch plan partitions by qid
    val windows = batch.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "unpartitioned window in batch probe")

    // VERDICT r14 #2 — the size gate: above the driver budget the probe
    // and candidate sets take the SHUFFLE path (the broadcast hints are
    // structurally absent from the analyzed plan), with per-query
    // results identical to the broadcast path
    val shuffled = DriverBudget.withBytes(0L)(Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 2),
      "vec_id", "embedding", emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 10, rerank = 50))
    def hintCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    assert(hintCount(batch) >= 3, "gated-on plan must hint all three broadcasts")
    assert(hintCount(shuffled) == 1,
      "above the gate only the K-row centroid broadcast may remain hinted")
    val shuffledGot = shuffled.as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq).toMap
    assert(shuffledGot == got,
      "shuffle-path batch probe diverges from the broadcast path")
  }

  test("sq8/ivfSq8/bq batch probes equal loops of single probes; windows qid-partitioned") {
    val emb = graft.Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") >= 3).drop("label")
    val queriesDf = emb.filter(col("vec_id") < 3)
    def queryOf(qid: Long): Seq[Double] = emb.filter(col("vec_id") === qid)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    def byQid(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.as[(Long, Long, Double)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq).toMap
    def pinQidWindows(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val wins = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
        s"unpartitioned window in $tag batch probe")
    }

    val sq8 = tmpDir("idx-sq8-batch")
    Ann.build(corpus, "vec_id", "embedding", sq8, Ann.SQ8(64), Ann.Flat())
    val sq8Batch = Ann.probeBatch(spark, sq8, Ann.Flat(corpus), "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = 10, rerank = 50)
    val sq8Got = byQid(sq8Batch)
    pinQidWindows(sq8Batch, "sq8")
    (0L to 2L).foreach { qid =>
      val single = Ann.probe(spark, sq8, Ann.Flat(corpus), "vec_id", "embedding",
        queryOf(qid), k = 10, rerank = 50)
        .as[(Long, Double)].collect().toSeq
      assert(sq8Got(qid) == single, s"sq8 batch diverges from single probe for $qid")
    }
    // shuffle path (gate forced off) must be result-identical
    assert(DriverBudget.withBytes(0L)(byQid(Ann.probeBatch(spark, sq8, Ann.Flat(corpus), "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = 10, rerank = 50))) == sq8Got, "sq8 shuffle path diverges")

    val ivfSq8 = tmpDir("idx-ivfsq8-batch")
    Ann.build(corpus, "vec_id", "embedding", ivfSq8, Ann.SQ8(64), Ann.Ivf(k = 8))
    val ivfBatch = Ann.probeBatch(spark, ivfSq8, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = 10, rerank = 50)
    val ivfGot = byQid(ivfBatch)
    pinQidWindows(ivfBatch, "ivfSq8")
    (0L to 2L).foreach { qid =>
      val single = Ann.probe(spark, ivfSq8, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
        queryOf(qid), k = 10, rerank = 50)
        .as[(Long, Double)].collect().toSeq
      assert(ivfGot(qid) == single, s"ivfSq8 batch diverges from single probe for $qid")
    }
    assert(DriverBudget.withBytes(0L)(byQid(Ann.probeBatch(spark, ivfSq8, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = 10, rerank = 50))) == ivfGot,
      "ivfSq8 shuffle path diverges")

    val bq = tmpDir("idx-bq-batch")
    Ann.build(corpus, "vec_id", "embedding", bq, Ann.BQ(64), Ann.Flat())
    val bqBatch = Ann.probeBatch(spark, bq, Ann.Flat(corpus), "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = 10, rerank = 50)
    val bqGot = byQid(bqBatch)
    pinQidWindows(bqBatch, "bq")
    (0L to 2L).foreach { qid =>
      val single = Ann.probe(spark, bq, Ann.Flat(corpus), "vec_id", "embedding",
        queryOf(qid), k = 10, rerank = 50)
        .as[(Long, Double)].collect().toSeq
      assert(bqGot(qid) == single, s"bq batch diverges from single probe for $qid")
    }
    assert(DriverBudget.withBytes(0L)(byQid(Ann.probeBatch(spark, bq, Ann.Flat(corpus), "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = 10, rerank = 50))) == bqGot, "bq shuffle path diverges")

    val ivfBq = tmpDir("idx-ivfbq-batch")
    Ann.build(corpus, "vec_id", "embedding", ivfBq, Ann.BQ(64), Ann.Ivf(k = 8))
    val ivfBqBatch = Ann.probeBatch(spark, ivfBq, Ann.Ivf(nprobe = 2), "vec_id",
      "embedding", queriesDf, "vec_id", "embedding", k = 10, rerank = 50)
    val ivfBqGot = byQid(ivfBqBatch)
    pinQidWindows(ivfBqBatch, "ivfBq")
    (0L to 2L).foreach { qid =>
      val single = Ann.probe(spark, ivfBq, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
        queryOf(qid), k = 10, rerank = 50)
        .as[(Long, Double)].collect().toSeq
      assert(ivfBqGot(qid) == single, s"ivfBq batch diverges from single probe for $qid")
    }
    assert(DriverBudget.withBytes(0L)(byQid(Ann.probeBatch(spark, ivfBq, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      queriesDf, "vec_id", "embedding", k = 10, rerank = 50))) == ivfBqGot,
      "ivfBq shuffle path diverges")
  }

  test("ivfPqProbeBatch over a RESIDUAL layout equals a loop of single residual probes") {
    // VERDICT r14 #4 — residual × batch: the batch probe auto-detects
    // the residual layout (the quantizer dir) and joins the broadcast
    // K-row quantizer for per-(query, cell) q·c, reproducing the single
    // probe's literal-CASE term EXACTLY, query by query
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = tmpDir("idx-ivfpqres-batch")
    Ann.build(emb.filter(col("vec_id") >= 3).drop("label"), "vec_id", "embedding", idx,
      Ann.PQ(dim = 64, m = 4, ksub = 16, residual = true), Ann.Ivf(k = 8))
    val batch = Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, rerank = 50)
    val got = batch.as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3)).toSeq).toMap
    (0L to 2L).foreach { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
      val single = Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q,
        k = 10, rerank = 50)
        .as[(Long, Double)].collect().toSeq
      assert(got(qid) == single,
        s"residual batch result for query $qid diverges from the single residual probe")
    }
    // windows stay qid-partitioned on the residual path too
    val windows = batch.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "unpartitioned window in residual batch probe")
  }

  test("SQ8 / BQ index lifecycle: dim-row params, full-corpus codes, self-query tops at cos 1.0") {
    val emb = graft.Tables.embeddings(spark, sf)
    val rest = emb.filter(col("vec_id") =!= 0).cache()
    val n = rest.count()
    val q7 = rest.filter(col("vec_id") === 7)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq

    val sq8 = tmpDir("idx-sq8")
    Ann.build(rest, "vec_id", "embedding", sq8, Ann.SQ8(64), Ann.Flat())
    assert(spark.read.parquet(s"$sq8/params").count() == 64)
    val codes = spark.read.parquet(s"$sq8/codes")
    assert(codes.count() == n)
    // binary-packed 8-bit codes: exactly one byte per dim (the byte
    // range IS [0, 255] read unsigned — the clamp is structural)
    assert(codes.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(codes.filter(length(col("codes")) =!= 64).count() == 0)
    val probe = Ann.probe(spark, sq8, Ann.Flat(rest), "vec_id", "embedding", q7)
    // self-query: SQ8 reconstruction ranks the vector itself first at
    // exact cos 1.0 after the rerank
    val top = probe.as[(Long, Double)].collect()
    assert(top.head == ((7L, 1.0)), s"sq8 self-query top: ${top.head}")
    // candidate pass scans the codes table; params fold to driver
    // literals (an index lookup, never a per-row join)
    val roots = fileScans(probe).flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.exists(_.contains("codes")) && !roots.exists(_.contains("params")),
      s"unexpected scans: $roots")

    val bq = tmpDir("idx-bq")
    Ann.build(rest, "vec_id", "embedding", bq, Ann.BQ(64), Ann.Flat())
    assert(spark.read.parquet(s"$bq/params").count() == 64)
    val words = spark.read.parquet(s"$bq/words")
    assert(words.count() == n)
    // 32-bit packing: every word stays inside non-sign small-long range
    assert(words.filter(exists(col("words"), w => w < 0 || w >= (1L << 32))).count() == 0)
    // self-query at rerank=corpus (plumbing, not selectivity — Hamming-0
    // ties inside a tight cluster can outnumber a small rerank budget;
    // RecallSpec owns the quality floor)
    val topBq = Ann.probe(spark, bq, Ann.Flat(rest), "vec_id", "embedding", q7,
      rerank = n.toInt).as[(Long, Double)].collect()
    assert(topBq.head == ((7L, 1.0)), s"bq self-query top: ${topBq.head}")
    rest.unpersist()
    ()
  }

  test("phraseProbe over a positional index matches the one-shot phraseSearch, pruned") {
    // VERDICT r12 #5: gated beyond the simplest 2-term case — a 3-term
    // phrase (two anchor-align joins) and a repeated-token phrase
    // ("sort sort", whose self-overlap must count "sort sort sort"
    // twice) pin the fold, probe ≡ one-shot for each
    val docs = graft.Tables.documents(spark, sf)
    val idx = tmpDir("idx-phrase")
    Retrieval.buildPositionalIndex(docs, "doc_id", "text", idx)
    Seq(
      Seq("data", "table"),
      Seq("window", "fast", "query"),
      Seq("sort", "sort")).foreach { phrase =>
      val oneShot = Retrieval.phraseSearch(docs, "doc_id", "text", phrase)
        .as[(Long, Long)].collect().sorted.toSeq
      assert(oneShot.nonEmpty, s"fixture must contain the phrase $phrase")
      val probe = Retrieval.phraseProbe(spark, idx, "doc_id", phrase)
      assert(probe.as[(Long, Long)].collect().sorted.toSeq == oneShot,
        s"probe != one-shot for $phrase")
      // the probe reads ONLY the index, with a partition filter on the
      // token bucket — never the raw corpus
      val scans = fileScans(probe)
      assert(scans.nonEmpty)
      val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
      assert(roots.forall(_.contains(idx)), s"non-index scans: $roots")
      assert(scans.forall(_.partitionFilters.nonEmpty),
        s"index scan is not bucket-pruned for $phrase")
    }
    // self-overlap unit pin, independent of the fixture corpus
    val runs = Seq((1L, "x sort sort sort y"), (2L, "sort sort"), (3L, "sort x sort"))
      .toDF("doc_id", "text")
    val rep = Retrieval.phraseSearch(runs, "doc_id", "text", Seq("sort", "sort"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(rep == Seq((1L, 2L), (2L, 1L)), s"self-overlap semantics broken: $rep")
  }

  test("bm25Probe over a persisted index matches the one-shot bm25TopK") {
    val docs = graft.Tables.documents(spark, sf)
    val idx = tmpDir("idx-text")
    Retrieval.buildTextIndex(docs, "doc_id", "text", idx)
    val terms = Seq("the", "of", "and")
    val oneShot = Retrieval.bm25TopK(docs, "doc_id", "text", terms)
      .as[(Long, Double)].collect().toSeq
    val probed = Retrieval.bm25Probe(spark, idx, "doc_id", terms)
      .as[(Long, Double)].collect().toSeq
    assert(probed == oneShot)
    val scans = fileScans(Retrieval.bm25Probe(spark, idx, "doc_id", terms))
    val roots = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty && roots.forall(_.contains(idx)), s"non-index scans: $roots")
  }

  test("literal-query gate counts the PQ dot tables: over budget, no __tab and the same rows") {
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = tmpDir("idx-ivfpq-tabgate")
    Ann.build(emb.filter(col("vec_id") >= 3).drop("label"), "vec_id", "embedding", idx,
      Ann.PQ(dim = 64, m = 4, ksub = 16), Ann.Ivf(k = 8))
    def probe(): org.apache.spark.sql.DataFrame = Ann.probeBatch(spark, idx,
      Ann.Ivf(nprobe = 2), "vec_id", "embedding", emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 10, rerank = 50)
    def hasTab(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.treeString.contains("__tab")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val literal = probe()
    assert(hasTab(literal), "under the default budget the dot tables ride the probe rows")
    // a budget of exactly 3 query rows (qid, 64 dims, norm): the vectors
    // fit; the dot tables add nprobe probed rows of m x ksub values per
    // query, which do not — the batch must take the distributed path
    DriverBudget.withBytes(3 * DriverBudget.fixedRowBytes(2 + 64)) {
      val gated = probe()
      assert(!hasTab(gated), "over-budget batch still ships per-row dot tables")
      assert(rows(gated) == rows(literal), "distributed path diverges from the literal path")
    }
  }

  test("a same-path rebuild is probed with its new schema, never the memoized one") {
    val emb = graft.Tables.embeddings(spark, sf)
    val corpus = emb.filter(col("vec_id") =!= 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    def probe(path: String): Seq[String] = Ann.probe(spark, path, Ann.Flat(corpus),
      "vec_id", "embedding", q).collect().map(_.toString).toSeq
    val p = tmpDir("idx-pq-rebuild")
    Ann.build(corpus, "vec_id", "embedding", p, Ann.PQ(dim = 64, m = 4, ksub = 16), Ann.Flat())
    probe(p) // memoizes the m=4 codes schema
    Ann.build(corpus, "vec_id", "embedding", p, Ann.PQ(dim = 64, m = 8, ksub = 16), Ann.Flat())
    val warm = probe(p)
    // the same m=8 index under a path this JVM never read: a cold cache
    val cold = tmpDir("idx-pq-rebuild-cold")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(p)
    val fs = src.getFileSystem(conf)
    fs.delete(new org.apache.hadoop.fs.Path(cold), true)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new org.apache.hadoop.fs.Path(cold),
      false, conf)
    assert(warm == probe(cold), "rebuilt index probed through a stale schema")
  }
}
