package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.Ann

/** Scale rehearsals: the corpus-pipeline and ANN code paths run at
  * volumes far above the oracle fixtures, once, with per-phase wall
  * times printed for PERF.md. Each mode generates its own synthetic
  * input; nothing is downloaded.
  *
  * Usage: runMain graft.Rehearsal <mode> [args]
  *   pipeline [nDocs]              the 10-stage corpus pipeline at nDocs/10
  *                                 and nDocs, per-stage growth exponent
  *   opq [nVecs]                   the OPQ rotation learn at d=768
  *   ann [nVecs] [nQueries]        shared IVF base + SQ8/BQ codes, single
  *                                 and batch probes at d=768
  *   ladder [nVecs] [dim] [dense]  flat exact/SQ8/BQ/IVF-SQ8 rungs: time,
  *                                 scanned bytes and recall@10
  *   batchprobe [nQueries]         IVF-PQ batch probe on the shuffle path;
  *                                 PASS when it equals the broadcast path
  */
object Rehearsal {

  private val Usage = "usage: Rehearsal pipeline [nDocs] | opq [nVecs] | " +
    "ann [nVecs] [nQueries] | ladder [nVecs] [dim] [dense] | batchprobe [nQueries]"

  private val Modes: Map[String, (SparkSession, Array[String]) => Unit] = Map(
    "pipeline" -> pipeline, "opq" -> opq, "ann" -> ann,
    "ladder" -> ladder, "batchprobe" -> batchProbe)

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.flatMap(Modes.get).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      // explicit (they default on in Spark 4): runtime re-plan + skew-join
      // splitting are part of the engine's scale posture
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.HourBounds
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark, args.tail) finally spark.stop()
  }

  private def pipeline(spark: SparkSession, args: Array[String]): Unit = {
    // the full 10-stage corpus pipeline in DURABLE-checkpoint mode
    // (the 100 TB posture) at nDocs/10 and nDocs: two points AT
    // scale → per-stage growth exponent log10(t_big/t_small); a
    // linear stage reads 1.0, and any stage above 1.3 is flagged
    val nDocs = args.lift(0).map(_.toLong).getOrElse(30000000L)
    def runAt(n: Long): Seq[(String, Long, Long, Double)] = {
      // SCALE-ADAPTIVE reduce width, derived from the leg's input
      // size: at the fixed local shuffle.partitions the
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
  }

  private def opq(spark: SparkSession, args: Array[String]): Unit = {
    // the OPQ rotation learn at the production geometry (d=768, the
    // 64k sample cap) after the M accumulation reshape from n·d²
    // exploded rows to n·d rows of element-wise decimal sums. The
    // arithmetic floor is unchanged (n·d² decimal products per
    // iteration — that IS the statistic); what the reshape removes is
    // the d²-keyed row traffic and group lookups around it.
    val nVecs = args.lift(0).map(_.toLong).getOrElse(65536L)
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
  }

  private def ann(spark: SparkSession, args: Array[String]): Unit = {
    // the batch ANN serving shape at ≥10M × 768 dense vectors: ONE
    // shared IVF base (sampled coarse learn — quantizer statistics
    // from a hash sample, the full corpus only pays the assignment
    // pass once, inside the cell-partitioned vectors write), SQ8
    // codes + BQ words over the same cells, single + 10k-query
    // batch probes on each rung
    val nVecs = args.lift(0).map(_.toLong).getOrElse(10000000L)
    val dim = 768
    val grid = 4503599627370496L
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", 512)
    // the corpus is generated ON THE FLY (deterministic hash of the
    // id — each pass recomputes it): full-mantissa dim-768 doubles
    // weigh 6.2 KB/vector, and materializing BOTH the raw table and
    // the index's cell-partitioned copy would double the disk bill
    // for no engine signal (the rehearsal measures the index + probe
    // shapes, not parquet ingest IO — the ladder mode covers scan
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
    val nq = args.lift(1).map(_.toLong).getOrElse(10000L)
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
  }

  private def ladder(spark: SparkSession, args: Array[String]): Unit = {
    // the compression ladder at memory-bandwidth scale: measure the
    // FIRST-PASS cost of each rung (exact brute / SQ8 8-bit ADC /
    // BQ 1-bit Hamming) plus the exact-rerank finish, the on-disk
    // bytes each first pass scans, and recall@10 vs the brute answer.
    // The point of the ladder: the first pass is bandwidth-bound, so
    // scan time should track bytes/vector — BQ (1 bit/dim) is the
    // shape billion-vector stores run as their candidate pass.
    //
    // `dense` switches to REAL-embedding geometry:
    // full-mantissa random values (parquet dictionary encoding
    // collapses the default 1000-point grid to ~1.3 B/dim and snappy
    // still shaved 4.6x off a 2^24 grid's trailing-zero mantissa
    // bytes; at 2^52 the raw table actually weighs its 8 B/dim).
    // Run `ladder 1000000 768 dense` for the PERF table where scan
    // bytes track wall-clock.
    val nVecs = args.lift(0).map(_.toLong).getOrElse(1000000L)
    // `ladder <n> dense` (dim omitted) must not NumberFormatException
    val dim = args.lift(1).filter(_.forall(_.isDigit)).map(_.toInt).getOrElse(64)
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
    // Skipped in dense mode: this mode measures the FLAT rungs'
    // bandwidth shape; the pruning factor is geometry-independent and
    // pinned structurally by IndexSpec, and a dim-768 k-means build
    // would dominate the mode's wall clock for no new signal.
    if (dense) {
      Seq(raw, sq8, bq).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      }
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
  }

  private def batchProbe(spark: SparkSession, args: Array[String]): Unit = {
    // the batch probe at retrieval-pipeline volume: >= 100k queries
    // against an IVF-PQ index. The batch is planned with the driver
    // budget at 0, so every data join takes the SHUFFLE path
    // (structurally checked: the only broadcast hint is the K-row
    // centroids'); a 2k-query sample re-probes through the
    // forced-broadcast path and the per-query results must be
    // identical (the same pin IndexSpec holds at fixture scale).
    val nQ = args.lift(0).map(_.toLong).getOrElse(100000L)
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
  }
}
