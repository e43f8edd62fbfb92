package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Incremental index refresh for append-only partitioned corpora:
  * appending an hour builds ONLY that hour's part index (the closed
  * hours are fingerprint cache hits), and the merged index probes
  * identically to a monolithic full rebuild.
  */
class IncrementalIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val terms = Seq("the", "of", "and")

  test("appending a partition rebuilds only that partition; probe equals full rebuild") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text").cache()
    val src = tmpDir("inc-src")
    // two "closed hours" of the corpus
    docs.filter(col("doc_id") % 3 === 0).write.parquet(s"$src/part=0")
    docs.filter(col("doc_id") % 3 === 1).write.parquet(s"$src/part=1")

    var partBuilds = 0
    def ensureInc(): String =
      IndexStore.ensureIncremental("inctext", spark, src) { (part, tmp) =>
        partBuilds += 1
        Retrieval.buildTextIndexPart(spark.read.parquet(part), "doc_id", "text", tmp)
      } { (parts, tmp) => Retrieval.mergeTextIndex(spark, parts, tmp) }

    val i1 = ensureInc()
    assert(partBuilds == 2)
    // idempotent: nothing rebuilt, same committed path
    assert(ensureInc() == i1 && partBuilds == 2)
    // probe over the merged index == one-shot over the same corpus
    val twoThirds = docs.filter(col("doc_id") % 3 =!= 2)
    assert(Retrieval.bm25Probe(spark, i1, "doc_id", terms)
      .as[(Long, Double)].collect().toSeq
      == Retrieval.bm25TopK(twoThirds, "doc_id", "text", terms)
        .as[(Long, Double)].collect().toSeq)

    // --- a new hour arrives
    docs.filter(col("doc_id") % 3 === 2).write.parquet(s"$src/part=2")
    val i2 = ensureInc()
    assert(partBuilds == 3, "only the appended partition may build")
    assert(i2 != i1, "merged index is keyed by the partition-fingerprint set")
    val probed = Retrieval.bm25Probe(spark, i2, "doc_id", terms)
      .as[(Long, Double)].collect().toSeq
    val full = Retrieval.bm25TopK(docs, "doc_id", "text", terms)
      .as[(Long, Double)].collect().toSeq
    assert(probed == full, "incremental merge must probe identically to a full rebuild")

    // and against a from-scratch monolithic buildTextIndex, same layout contract
    val mono = tmpDir("inc-mono")
    Retrieval.buildTextIndex(docs, "doc_id", "text", mono)
    assert(Retrieval.bm25Probe(spark, mono, "doc_id", terms)
      .as[(Long, Double)].collect().toSeq == probed)
  }

  test("incremental positional index: append rebuilds one partition; phrase probe equals full rebuild") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text").cache()
    val src = tmpDir("inc-pos-src")
    docs.filter(col("doc_id") % 3 === 0).write.parquet(s"$src/part=0")
    docs.filter(col("doc_id") % 3 === 1).write.parquet(s"$src/part=1")

    var partBuilds = 0
    def ensureInc(): String =
      IndexStore.ensureIncremental("incpos", spark, src) { (part, tmp) =>
        partBuilds += 1
        Retrieval.buildPositionalIndex(spark.read.parquet(part), "doc_id", "text", tmp)
      } { (parts, tmp) => Retrieval.mergePositionalIndex(spark, parts, tmp) }

    val phrases = Seq(Seq("data", "table"), Seq("sort", "sort"))
    def probe(idx: String, p: Seq[String]) =
      Retrieval.phraseProbe(spark, idx, "doc_id", p)
        .as[(Long, Long)].collect().sorted.toSeq

    val i1 = ensureInc()
    assert(partBuilds == 2)
    assert(ensureInc() == i1 && partBuilds == 2) // idempotent cache hit
    val twoThirds = docs.filter(col("doc_id") % 3 =!= 2)
    phrases.foreach { p =>
      assert(probe(i1, p) ==
        Retrieval.phraseSearch(twoThirds, "doc_id", "text", p)
          .as[(Long, Long)].collect().sorted.toSeq, s"phrase $p")
    }

    // --- a new hour arrives
    docs.filter(col("doc_id") % 3 === 2).write.parquet(s"$src/part=2")
    val i2 = ensureInc()
    assert(partBuilds == 3, "only the appended partition may build")
    // probe ≡ one-shot over the full corpus AND ≡ a monolithic rebuild
    val mono = tmpDir("inc-pos-mono")
    Retrieval.buildPositionalIndex(docs, "doc_id", "text", mono)
    phrases.foreach { p =>
      val inc = probe(i2, p)
      assert(inc == Retrieval.phraseSearch(docs, "doc_id", "text", p)
        .as[(Long, Long)].collect().sorted.toSeq, s"phrase $p vs one-shot")
      assert(inc == probe(mono, p), s"phrase $p vs monolithic index")
      assert(inc.nonEmpty, s"phrase $p must be live in the fixture")
    }
  }

  test("incremental PQ (frozen codebooks): append encodes one partition; ADC probe equals monolithic") {
    val all = ClusterFixture.clustered(spark, 600, 24, 6).cache()
    val src = tmpDir("inc-pq-src")
    all.filter(col("vec_id") % 3 === 0).drop("label").write.parquet(s"$src/part=0")
    all.filter(col("vec_id") % 3 === 1).drop("label").write.parquet(s"$src/part=1")
    // codebooks are learned ONCE on the initial corpus and frozen;
    // appended hours are encoded against them (map-only)
    val initial = all.filter(col("vec_id") % 3 =!= 2).drop("label")
    val cbs = Similarity.pqCodebooks(initial, "vec_id", "embedding",
      dim = 24, m = 4, ksub = 8)

    var partBuilds = 0
    def ensureInc(): String =
      IndexStore.ensureIncremental("incpq", spark, src) { (part, tmp) =>
        partBuilds += 1
        Ann.buildPart(spark.read.parquet(part), "vec_id", "embedding", Ann.PqCodec(cbs),
          Ann.Flat(), tmp)
      } { (parts, tmp) => Ann.merge(spark, Ann.PqCodec(cbs), Ann.Flat(), parts, tmp) }

    val q = all.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    def probe(idx: String): Seq[(Long, Double)] =
      Ann.candidates(spark.read.parquet(s"$idx/codes"),
        Ann.PqCodec.read(spark, idx), "vec_id", q, 10)
        .as[(Long, Double)].collect().toSeq
    def inlineProbe(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      Ann.candidates(Ann.PqCodec(cbs).encode(df, "vec_id", "embedding", Nil),
        Ann.PqCodec(cbs), "vec_id", q, 10)
        .as[(Long, Double)].collect().toSeq

    val i1 = ensureInc()
    assert(partBuilds == 2)
    assert(ensureInc() == i1 && partBuilds == 2) // idempotent cache hit
    // the merge's persisted codebooks are bit-identical to the learn
    assert(Ann.PqCodec.read(spark, i1).cbs == cbs)
    assert(probe(i1) == inlineProbe(initial))
    // a monolithic flat PQ build over the same corpus learns the same
    // (deterministic) codebooks and probes identically
    val mono1 = tmpDir("inc-pq-mono1")
    Ann.build(initial, "vec_id", "embedding", mono1, Ann.PQ(dim = 24, m = 4, ksub = 8),
      Ann.Flat())
    assert(probe(mono1) == probe(i1))

    // --- a new hour of vectors arrives
    all.filter(col("vec_id") % 3 === 2).drop("label").write.parquet(s"$src/part=2")
    val i2 = ensureInc()
    assert(partBuilds == 3, "only the appended partition may encode")
    assert(probe(i2) == inlineProbe(all.drop("label")))
  }

  test("incremental composed IVF-PQ: append builds one partition; pruned probe equals monolithic") {
    val all = ClusterFixture.clustered(spark, 600, 24, 6).cache()
    val src = tmpDir("inc-ivfpq-src")
    all.filter(col("vec_id") % 3 === 0).drop("label").write.parquet(s"$src/part=0")
    all.filter(col("vec_id") % 3 === 1).drop("label").write.parquet(s"$src/part=1")
    // BOTH learners are learned once on the initial corpus and frozen;
    // appended hours get one assignment pass + one encode projection
    val initial = all.filter(col("vec_id") % 3 =!= 2).drop("label")
    val cents = Similarity.kmeansCentroids(initial, "vec_id", "embedding", 6, 3)
    val cbs = Similarity.pqCodebooks(initial, "vec_id", "embedding",
      dim = 24, m = 4, ksub = 8)

    var partBuilds = 0
    def ensureInc(): String =
      IndexStore.ensureIncremental("incivfpq", spark, src) { (part, tmp) =>
        partBuilds += 1
        Ann.buildPart(spark.read.parquet(part), "vec_id", "embedding", Ann.PqCodec(cbs),
          Ann.Ivf(centroids = cents), tmp)
      } { (parts, tmp) => Ann.merge(spark, Ann.PqCodec(cbs), Ann.Ivf(), parts, tmp) }

    val q = all.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    def probeDf(idx: String) =
      Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
        rerank = 60)
    def probe(idx: String): Seq[(Long, Double)] =
      probeDf(idx).as[(Long, Double)].collect().toSeq
    // monolithic-with-frozen-learners twin: the single-part merge IS
    // the monolithic IVF-PQ build's layout under the same (deterministic) learners
    def mono(df: org.apache.spark.sql.DataFrame, tag: String): String = {
      val part = tmpDir(s"inc-ivfpq-$tag-part"); val out = tmpDir(s"inc-ivfpq-$tag")
      Ann.buildPart(df, "vec_id", "embedding", Ann.PqCodec(cbs), Ann.Ivf(centroids = cents),
        part)
      Ann.merge(spark, Ann.PqCodec(cbs), Ann.Ivf(), Seq(part), out)
      out
    }

    val i1 = ensureInc()
    assert(partBuilds == 2)
    assert(ensureInc() == i1 && partBuilds == 2) // idempotent cache hit
    assert(Ann.PqCodec.read(spark, i1).cbs == cbs)
    assert(probe(i1) == probe(mono(initial, "m1")))

    // --- a new hour of vectors arrives
    all.filter(col("vec_id") % 3 === 2).drop("label").write.parquet(s"$src/part=2")
    val i2 = ensureInc()
    assert(partBuilds == 3, "only the appended partition may assign+encode")
    assert(probe(i2) == probe(mono(all.drop("label"), "m2")))
    // the merged multi-part layout still partition-prunes the probe's
    // code and vector reads on the cell label
    val scans = probeDf(i2).queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    Seq("codes", "vectors").foreach { t =>
      val ts = scans.filter(_.relation.location.rootPaths.exists(_.toString.contains(t)))
      assert(ts.nonEmpty && ts.forall(_.partitionFilters.nonEmpty),
        s"$t scan not pruned over the merged layout")
    }
  }

  test("incremental composed IVF-SQ8: append builds one partition; pruned probe equals monolithic") {
    val all = ClusterFixture.clustered(spark, 600, 24, 6).cache()
    val src = tmpDir("inc-ivfsq8-src")
    all.filter(col("vec_id") % 3 === 0).drop("label").write.parquet(s"$src/part=0")
    all.filter(col("vec_id") % 3 === 1).drop("label").write.parquet(s"$src/part=1")
    val initial = all.filter(col("vec_id") % 3 =!= 2).drop("label")
    val cents = Similarity.kmeansCentroids(initial, "vec_id", "embedding", 6, 3)
    val prm = Similarity.sq8Params(initial, "vec_id", "embedding", dim = 24)

    def ensureInc(): String =
      Ann.ensureIncremental(spark, "incivfsq8", src, "vec_id", "embedding",
        Ann.Sq8Codec(prm), Ann.Ivf(centroids = cents))
    val q = all.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    def probe(idx: String): Seq[(Long, Double)] =
      Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
        rerank = 60).as[(Long, Double)].collect().toSeq
    def mono(df: org.apache.spark.sql.DataFrame, tag: String): String = {
      val part = tmpDir(s"inc-ivfsq8-$tag-part"); val out = tmpDir(s"inc-ivfsq8-$tag")
      Ann.buildPart(df, "vec_id", "embedding", Ann.Sq8Codec(prm),
        Ann.Ivf(centroids = cents), part)
      Ann.merge(spark, Ann.Sq8Codec(prm), Ann.Ivf(), Seq(part), out)
      out
    }

    val i1 = ensureInc()
    assert(ensureInc() == i1) // idempotent cache hit
    assert(probe(i1) == probe(mono(initial, "m1")))
    all.filter(col("vec_id") % 3 === 2).drop("label").write.parquet(s"$src/part=2")
    val i2 = ensureInc()
    assert(i2 != i1)
    assert(probe(i2) == probe(mono(all.drop("label"), "m2")))
  }

  test("incremental composed IVF-BQ: append builds one partition; pruned probe equals monolithic") {
    val all = ClusterFixture.clustered(spark, 600, 24, 6).cache()
    val src = tmpDir("inc-ivfbq-src")
    all.filter(col("vec_id") % 3 === 0).drop("label").write.parquet(s"$src/part=0")
    all.filter(col("vec_id") % 3 === 1).drop("label").write.parquet(s"$src/part=1")
    val initial = all.filter(col("vec_id") % 3 =!= 2).drop("label")
    val cents = Similarity.kmeansCentroids(initial, "vec_id", "embedding", 6, 3)
    val thr = Similarity.bqThresholds(initial, "vec_id", "embedding", dim = 24)

    def ensureInc(): String =
      Ann.ensureIncremental(spark, "incivfbq", src, "vec_id", "embedding", Ann.BqCodec(thr),
        Ann.Ivf(centroids = cents))
    val q = all.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    def probe(idx: String): Seq[(Long, Double)] =
      Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
        rerank = 60).as[(Long, Double)].collect().toSeq
    def mono(df: org.apache.spark.sql.DataFrame, tag: String): String = {
      val part = tmpDir(s"inc-ivfbq-$tag-part"); val out = tmpDir(s"inc-ivfbq-$tag")
      Ann.buildPart(df, "vec_id", "embedding", Ann.BqCodec(thr), Ann.Ivf(centroids = cents),
        part)
      Ann.merge(spark, Ann.BqCodec(thr), Ann.Ivf(), Seq(part), out)
      out
    }

    val i1 = ensureInc()
    assert(ensureInc() == i1) // idempotent cache hit
    assert(probe(i1) == probe(mono(initial, "m1")))
    all.filter(col("vec_id") % 3 === 2).drop("label").write.parquet(s"$src/part=2")
    val i2 = ensureInc()
    assert(i2 != i1)
    assert(probe(i2) == probe(mono(all.drop("label"), "m2")))
    // the merged multi-part layout still partition-prunes words+vectors
    val scans = Ann.probe(spark, i2, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
      rerank = 60)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    Seq("words", "vectors").foreach { t =>
      val ts = scans.filter(_.relation.location.rootPaths.exists(_.toString.contains(t)))
      assert(ts.nonEmpty && ts.forall(_.partitionFilters.nonEmpty),
        s"$t scan not pruned over the merged layout")
    }
  }

  test("incremental RESIDUAL IVF-PQ: append encodes one partition's residuals; probe equals monolithic") {
    val all = ClusterFixture.clustered(spark, 600, 24, 6).cache()
    val src = tmpDir("inc-ivfpqres-src")
    all.filter(col("vec_id") % 3 === 0).drop("label").write.parquet(s"$src/part=0")
    all.filter(col("vec_id") % 3 === 1).drop("label").write.parquet(s"$src/part=1")
    val initial = all.filter(col("vec_id") % 3 =!= 2).drop("label")
    // frozen learners, learned exactly as a residual IVF-PQ build would
    // (same deterministic quantized updates, same iters) — so the
    // monolithic twin below relearning them lands on identical values
    val cents = Similarity.kmeansCentroids(initial, "vec_id", "embedding", 6, 3)
    val labeledInit = Similarity.withCellLabels(initial, "vec_id", "embedding", cents)
    val cbs = Similarity.pqCodebooksOf(labeledInit, "vec_id",
      Similarity.residualOf(col("embedding"), col("label"), cents),
      dim = 24, m = 4, ksub = 8)

    def ensureIncFull(): String =
      Ann.ensureIncremental(spark, "incivfpqres", src, "vec_id", "embedding",
        Ann.PqCodec(cbs, quantizer = Some(cents)), Ann.Ivf(centroids = cents))

    val q = all.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    def probe(idx: String): Seq[(Long, Double)] =
      Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding", q, k = 10,
        rerank = 60).as[(Long, Double)].collect().toSeq

    val i1 = ensureIncFull()
    assert(ensureIncFull() == i1) // idempotent cache hit
    assert(Ann.PqCodec.read(spark, i1).cbs == cbs)
    assert(Ann.PqCodec.read(spark, i1).quantizer.get == cents)
    // monolithic twin: the REAL monolithic builder relearns the same
    // deterministic learners over the same corpus
    val mono1 = tmpDir("inc-ivfpqres-mono1")
    Ann.build(initial, "vec_id", "embedding", mono1,
      Ann.PQ(dim = 24, m = 4, ksub = 8, residual = true), Ann.Ivf(k = 6))
    assert(probe(mono1) == probe(i1))

    // --- a new hour arrives
    all.filter(col("vec_id") % 3 === 2).drop("label").write.parquet(s"$src/part=2")
    val i2 = ensureIncFull()
    assert(i2 != i1)
    val mono2 = tmpDir("inc-ivfpqres-mono2")
    // monolithic over the combined corpus with the SAME frozen learners
    // (the incremental contract: the quantizer/codebooks move only on a
    // periodic full rebuild)
    val part2 = tmpDir("inc-ivfpqres-mono2-part")
    Ann.buildPart(all.drop("label"), "vec_id", "embedding",
      Ann.PqCodec(cbs, quantizer = Some(cents)), Ann.Ivf(centroids = cents), part2)
    Ann.merge(spark, Ann.PqCodec(cbs), Ann.Ivf(), Seq(part2), mono2)
    val fs = new org.apache.hadoop.fs.Path(mono2)
      .getFileSystem(spark.sessionState.newHadoopConf())
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$i2/quantizer"), fs,
      new org.apache.hadoop.fs.Path(s"$mono2/quantizer"), false,
      spark.sessionState.newHadoopConf())
    assert(probe(i2) == probe(mono2))
  }

  test("incremental SQ8 + BQ (frozen params): append encodes one partition; probes equal monolithic") {
    val all = ClusterFixture.clustered(spark, 600, 24, 6).cache()
    val src = tmpDir("inc-sq8bq-src")
    all.filter(col("vec_id") % 3 === 0).drop("label").write.parquet(s"$src/part=0")
    all.filter(col("vec_id") % 3 === 1).drop("label").write.parquet(s"$src/part=1")
    val initial = all.filter(col("vec_id") % 3 =!= 2).drop("label")
    // learn once on the initial corpus, freeze (the one-pass exact
    // learners — identical to what a flat SQ8/BQ build would derive)
    val prm = Similarity.sq8Params(initial, "vec_id", "embedding", dim = 24)
    val thr = Similarity.bqThresholds(initial, "vec_id", "embedding", dim = 24)
    val q = all.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq

    def probeSq8(idx: String): Seq[(Long, Double)] =
      Ann.probe(spark, idx, Ann.Flat(all.drop("label")), "vec_id", "embedding", q, k = 10,
        rerank = 60).as[(Long, Double)].collect().toSeq
    def probeBq(idx: String): Seq[(Long, Double)] =
      Ann.probe(spark, idx, Ann.Flat(all.drop("label")), "vec_id", "embedding", q, k = 10,
        rerank = 60).as[(Long, Double)].collect().toSeq

    def incSq8(): String =
      Ann.ensureIncremental(spark, "incsq8", src, "vec_id", "embedding", Ann.Sq8Codec(prm),
        Ann.Flat())
    def incBq(): String =
      Ann.ensureIncremental(spark, "incbq", src, "vec_id", "embedding", Ann.BqCodec(thr),
        Ann.Flat())

    val s1 = incSq8()
    assert(incSq8() == s1) // idempotent cache hit
    val b1 = incBq()
    assert(incBq() == b1)
    // monolithic twins over the same corpus: the one-pass learners are
    // deterministic, so flat SQ8/BQ builds relearn identical params and
    // the probes must agree exactly
    val monoS = tmpDir("inc-sq8-mono")
    Ann.build(initial, "vec_id", "embedding", monoS, Ann.SQ8(24), Ann.Flat())
    assert(probeSq8(s1) == probeSq8(monoS))
    val monoB = tmpDir("inc-bq-mono")
    Ann.build(initial, "vec_id", "embedding", monoB, Ann.BQ(24), Ann.Flat())
    assert(probeBq(b1) == probeBq(monoB))

    // --- a new hour arrives: only that partition encodes (frozen params)
    all.filter(col("vec_id") % 3 === 2).drop("label").write.parquet(s"$src/part=2")
    val s2 = incSq8()
    val b2 = incBq()
    assert(s2 != s1 && b2 != b1)
    // monolithic-with-frozen-params twins over the combined corpus
    val monoS2p = tmpDir("inc-sq8-mono2-part")
    Ann.buildPart(all.drop("label"), "vec_id", "embedding", Ann.Sq8Codec(prm), Ann.Flat(),
      monoS2p)
    val monoS2 = tmpDir("inc-sq8-mono2")
    Ann.merge(spark, Ann.Sq8Codec(prm), Ann.Flat(), Seq(monoS2p), monoS2)
    assert(probeSq8(s2) == probeSq8(monoS2))
    val monoB2p = tmpDir("inc-bq-mono2-part")
    Ann.buildPart(all.drop("label"), "vec_id", "embedding", Ann.BqCodec(thr), Ann.Flat(),
      monoB2p)
    val monoB2 = tmpDir("inc-bq-mono2")
    Ann.merge(spark, Ann.BqCodec(thr), Ann.Flat(), Seq(monoB2p), monoB2)
    assert(probeBq(b2) == probeBq(monoB2))
  }

  test("incremental IVF (frozen quantizer): append assigns one partition; probe equals monolithic") {
    val all = ClusterFixture.clustered(spark, 600, 24, 6).cache()
    val src = tmpDir("inc-ivf-src")
    all.filter(col("vec_id") % 3 === 0).drop("label").write.parquet(s"$src/part=0")
    all.filter(col("vec_id") % 3 === 1).drop("label").write.parquet(s"$src/part=1")
    // the quantizer is learned ONCE on the initial corpus and frozen;
    // appended hours are assigned to its cells
    val initial = all.filter(col("vec_id") % 3 =!= 2).drop("label")
    val cents = Similarity.kmeansCentroids(initial, "vec_id", "embedding", k = 6)

    var partBuilds = 0
    def ensureInc(): String =
      IndexStore.ensureIncremental("incivf", spark, src) { (part, tmp) =>
        partBuilds += 1
        Ann.buildPart(spark.read.parquet(part), "vec_id", "embedding", Ann.Exact,
          Ann.Ivf(centroids = cents), tmp)
      } { (parts, tmp) => Ann.merge(spark, Ann.Exact, Ann.Ivf(), parts, tmp) }

    def probe(idx: String, nprobe: Int): Seq[(Long, Double)] = {
      val q = all.filter(col("vec_id") === 0)
        .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
      Ann.probe(spark, idx, Ann.Ivf(nprobe = nprobe), "vec_id", "embedding", q, k = 10).as[(Long, Double)].collect().toSeq
    }

    val i1 = ensureInc()
    assert(partBuilds == 2)
    assert(ensureInc() == i1 && partBuilds == 2) // idempotent cache hit
    // monolithic twin: same frozen assignment over the same corpus
    val mono1 = tmpDir("inc-ivf-mono1")
    Ann.build(initial.withColumn("label", Similarity.assignCell("embedding", cents)),
      "vec_id", "embedding", mono1, Ann.Exact, Ann.Ivf())
    (1 to 3).foreach(np => assert(probe(i1, np) == probe(mono1, np), s"nprobe=$np"))

    // --- a new hour of vectors arrives
    all.filter(col("vec_id") % 3 === 2).drop("label").write.parquet(s"$src/part=2")
    val i2 = ensureInc()
    assert(partBuilds == 3, "only the appended partition may build")
    val mono2 = tmpDir("inc-ivf-mono2")
    Ann.build(all.drop("label").withColumn("label", Similarity.assignCell("embedding", cents)),
      "vec_id", "embedding", mono2, Ann.Exact, Ann.Ivf())
    (1 to 3).foreach(np => assert(probe(i2, np) == probe(mono2, np), s"nprobe=$np"))
  }
}
