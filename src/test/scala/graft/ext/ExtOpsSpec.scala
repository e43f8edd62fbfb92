package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.DriverBudget

/** Library-API tests for the operators not covered by the oracle gate:
  * ANN bucket probing, LSH-candidates→exact-verify composition, and the
  * multimodal header parsers.
  */
class ExtOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("annTopK probe agrees with brute force on its own bucket members") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding")))
      .head().getSeq[Double](0).toSeq
    val ann = Similarity.annTopK(emb.filter(col("vec_id") =!= 0),
      "vec_id", "embedding", q, dims = 64, k = 5, probes = 1)
      .as[(Long, Double)].collect()
    assert(ann.nonEmpty && ann.length <= 5)
    // probe results must be a subset of brute-force cosine ranking order
    val brute = Similarity.cosineTopK(emb.filter(col("vec_id") =!= 0),
      "vec_id", "embedding", q, k = 500).as[(Long, Double)].collect().toMap
    ann.foreach { case (id, cos) => assert(brute(id) == cos) }
    // ann scores descend
    assert(ann.map(_._2).toSeq == ann.map(_._2).sortBy(-_).toSeq)
  }

  test("verifyCandidates = LSH candidates ∩ exact pairs at threshold") {
    val docs = graft.Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.8)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val verified = Dedup.verifyCandidates(docs, "doc_id", "text", 0.8)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    // verified ⊆ exact, and with 16 hashes the J≥0.9 injected dups are found
    assert(verified.subsetOf(exact))
    assert(verified.nonEmpty)
  }

  test("prefix-filtered ngramJaccardPairs ≡ exhaustive collision join") {
    // the prefix lemma's identity claim, pinned on real fixture data:
    // the ppjoin path (prefix + length + positional filters, array-
    // intersect verify) must return EXACTLY the exhaustive join's pairs
    // and jaccard values — any over-pruning (FP rounding shortening a
    // prefix, a filter dropping a boundary pair) breaks this
    val docs = graft.Tables.documents(spark, sf)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id_a", "doc_id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    assert(norm(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.8)) ==
      norm(Dedup.ngramJaccardPairsExhaustive(docs, "doc_id", "text", 0.8)))
    // and at a second threshold, where prefixes are longer (t=0.5 →
    // half the doc) and the α arithmetic exercises different rounding
    assert(norm(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)) ==
      norm(Dedup.ngramJaccardPairsExhaustive(docs, "doc_id", "text", 0.5)))
  }

  test("ppjoin ≡ exhaustive on randomized shingle corpora at random thresholds") {
    // property form of the identity: docs drawing 20-60 shingles from
    // an 80-hash vocabulary (dense overlap — high df everywhere, many
    // boundary-ish pairs), across thresholds including ones whose
    // ⌈t·n⌉ arithmetic lands on exact integers. Deterministic seed:
    // failures reproduce.
    val rnd = new scala.util.Random(20260814L)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id_a", "doc_id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    for (round <- 1 to 3; t <- Seq(0.25, 0.5, 0.75)) {
      val random = (1 to 40).flatMap { d =>
        val n = 20 + rnd.nextInt(41)
        rnd.shuffle((1 to 80).toList).take(n).map(h => (d.toLong, h.toLong))
      }
      // planted near-dups so the HIGH thresholds are never vacuous: an
      // exact clone pair and an 0.8-ish overlap pair
      val base = rnd.shuffle((1 to 80).toList).take(40)
      val planted =
        base.map(h => (41L, h.toLong)) ++ base.map(h => (42L, h.toLong)) ++
          base.drop(4).map(h => (43L, h.toLong))
      val sh = (random ++ planted).toDF("doc_id", "h")
      val pp = norm(Dedup.ppjoinFromShingles(sh, "doc_id", t))
      val ex = norm(Dedup.jaccardFromShingles(
        sh.withColumnRenamed("h", "shingle"), "doc_id", t))
      assert(ex.nonEmpty, s"round $round t=$t: vacuous fixture")
      assert(pp == ex, s"round $round t=$t: ppjoin diverged " +
        s"(missing=${(ex -- pp).take(3)} extra=${(pp -- ex).take(3)})")
    }
  }

  test("ppjoin keeps the boundary pair: raw J ∈ [t−5e-5, t), rounded ≥ t") {
    // adversarial fixture for the effective-threshold (tₑ = t − 5e-5)
    // prunes: two docs, 4499 shingles each, 3999 common → raw
    // J = 3999/4999 ≈ 0.79996 < 0.8 but pround(J,4) = 0.8 ≥ t, so the
    // exhaustive join KEEPS the pair. Each doc's 500 unique shingles
    // get df=1 — globally RAREST, so they fill the prefix front and
    // every prefix collision lands at doc-rank ≥ 501, where a
    // positional filter computed from raw t (α_t ≈ 3999.11 > the 3999
    // remaining) would prune the pair. Prunes at tₑ (α_tₑ ≈ 3998.97)
    // must admit it; verify then keeps it — identity holds.
    val common = 10000L until 13999L
    val a = (1L to 500L) ++ common
    val b = (1001L to 1500L) ++ common
    val sh = (a.map((1L, _)) ++ b.map((2L, _))).toDF("doc_id", "h")
    val pp = Dedup.ppjoinFromShingles(sh, "doc_id", 0.8)
      .select("doc_id_a", "doc_id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val exhaustive = Dedup.jaccardFromShingles(
        sh.withColumnRenamed("h", "shingle"), "doc_id", 0.8)
      .select("doc_id_a", "doc_id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(exhaustive == Set((1L, 2L, 0.8)))
    assert(pp == exhaustive)
  }

  test("connectedComponents merges transitive chains to the min id (both paths)") {
    // chain 1-2-3-4 (diameter 3) + isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_id_a", "doc_id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    val driver = Dedup.connectedComponents(pairs, "doc_id_a", "doc_id_b")
      .as[(Long, Long)].collect().toMap
    assert(driver == expected)
    // distributed star-contraction path must produce the identical
    // assignment
    val dist = DriverBudget.withBytes(0L)(Dedup.connectedComponents(pairs, "doc_id_a", "doc_id_b")
      .as[(Long, Long)].collect().toMap)
    assert(dist == expected)

    // adversarial shape: one 64-node CHAIN (diameter 63 — the case the
    // old min-label propagation needed 63 rounds for). Star contraction
    // must label it in O(log n) rounds.
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    val chainDist = DriverBudget.withBytes(0L)(Dedup.connectedComponents(chain, "doc_id_a", "doc_id_b")
      .as[(Long, Long)].collect().toMap)
    assert(chainDist == (1L to 64L).map(_ -> 1L).toMap)
    val oriented = chain.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst"))
    val (labels, rounds) = Dedup.starContraction(oriented)
    assert(labels.as[(Long, Long)].collect().toMap == (1L to 64L).map(_ -> 1L).toMap)
    // log₂(64) = 6; +2 covers the convergence-detection round
    assert(rounds <= 8, s"star contraction took $rounds rounds on a 64-chain")

    // non-integral ids are rejected up front with a clear message —
    // previously the driver path NPE'd on them while the distributed
    // path half-worked, so one API diverged on input type
    val bad = Seq(("a", "b")).toDF("doc_id_a", "doc_id_b")
    val err = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(bad, "doc_id_a", "doc_id_b")
    }
    assert(err.getMessage.contains("integral id columns"))
  }

  test("simhash piece banding = brute force at Hamming ≤ 3; hot-bucket cap skips boilerplate") {
    // 30 real docs (signature diversity) + a boilerplate cluster of 10
    // identical texts (identical signatures — pairwise Hamming 0)
    val real = graft.Tables.documents(spark, sf).limit(30)
      .select(col("doc_id"), col("text"))
    val boiler = (1000L until 1010L).map(i => (i, "copy pasted template body " * 5))
      .toDF("doc_id", "text")
    val docs = real.union(boiler)

    // ground truth: brute-force Hamming over the (tiny) signature set
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    assert(sigs.forall { case (_, s) => s >= 0L && s < (1L << 60) }, "60-bit signatures")
    val brute = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(brute.size >= 45, "boilerplate cluster alone yields C(10,2) pairs")

    // pigeonhole completeness + soundness: banding finds exactly the
    // brute-force pair set when no bucket is capped
    val uncapped = Dedup.simhashHammingPairs(docs, "doc_id", "text", maxDist = 3)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(uncapped == brute)

    // cap below the cluster size: its buckets are skipped entirely,
    // pairs among low-frequency signatures are unaffected
    val capped = Dedup.simhashHammingPairs(docs, "doc_id", "text",
      maxDist = 3, maxBucket = 5L)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists(_._1 >= 1000L), "hot-bucket cluster skipped under the cap")
    assert(capped == brute.filterNot(_._1 >= 1000L), "small buckets unaffected")
  }

  test("chunkPayload: exact windows, empty payload yields no rows") {
    val df = Seq((1L, "a" * 70), (2L, ""), (3L, "xyz")).toDF("id", "payload")
    val chunks = Multimodal.chunkPayload(df, "id", "payload", chunkSize = 64)
      .as[(Long, Long, Long, String)].collect()
    val byDoc = chunks.groupBy(_._1)
    assert(!byDoc.contains(2L))                        // empty → no rows
    assert(byDoc(1L).map(c => c._2 -> c._3).sorted.toSeq == Seq(0L -> 64L, 1L -> 6L))
    assert(byDoc(3L).map(c => c._2 -> c._3).toSeq == Seq(0L -> 3L))
    // chunks carry the actual slice digests (reassembly check via md5)
    val d = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = d.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(byDoc(3L).head._4 == md5hex("xyz"))
  }

  test("ivfTopK nprobe=2 never scores below the single-cell probe") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding"))).head().getSeq[Double](0).toSeq
    val rest = emb.filter(col("vec_id") =!= 0)
    val one = Similarity.ivfTopK(rest, "vec_id", "label", "embedding", q, k = 10)
      .as[(Long, Double)].collect()
    val two = Similarity.ivfTopK(rest, "vec_id", "label", "embedding", q, k = 10, nprobe = 2)
      .as[(Long, Double)].collect()
    assert(one.length == 10 && two.length == 10)
    // rank-wise: widening the probe can only improve (or tie) each rank
    one.zip(two).foreach { case ((_, c1), (_, c2)) => assert(c2 >= c1) }
  }

  test("semDedupPrune: within-cluster near-dups prune the higher id only") {
    val rows = Seq(
      (1L, 0, Array(1.0f, 0.0f)),  // kept: lowest id of its direction
      (2L, 0, Array(2.0f, 0.0f)),  // same direction as 1, same cluster → pruned
      (3L, 0, Array(0.0f, 1.0f)),  // orthogonal → kept
      (4L, 1, Array(1.0f, 0.0f)),  // same direction as 1 but different cluster → kept
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.semDedupPrune(rows, "vec_id", "label", "embedding", threshold = 0.9)
      .as[(Long, Int, Boolean)].collect()
      .map { case (id, _, p) => id -> p }.toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> false))
  }

  test("componentReps: rep is the component label; pruned weight excludes the rep") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "comp")
    val attrs = Seq((1L, 100L), (2L, 20L), (3L, 3L), (10L, 7L), (11L, 9L))
      .toDF("doc_id", "n_chars")
    val reps = Dedup.componentReps(comps, attrs, "doc_id", "comp", "n_chars")
      .as[(Long, Long, Long)].collect()
      .map { case (rep, n, pruned) => rep -> ((n, pruned)) }.toMap
    assert(reps == Map(1L -> ((3L, 23L)), 10L -> ((2L, 9L))))
  }

  test("substringCut excises exactly the merged spans, span_end exclusive") {
    val shared = (1 to 8).map(i => s"d$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 $shared z1 z2"), // span [2,10) of 12 words
      (2L, s"b1 $shared c1"), // span [1,9) of 10 words
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // no duplicated 8-gram
      (4L, (1 to 8).map(i => s"e$i").mkString(" ")), // fully duplicated…
      (5L, (1 to 8).map(i => s"e$i").mkString(" "))) // …with doc 4
      .toDF("doc_id", "text")
    val out = Dedup.substringCut(docs, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, "a1 a2 z1 z2", 4L, 8L)),
      "cut is [2,10): word 10 ('z1') survives — span_end exclusive")
    assert(out(1) == ((2L, "b1 c1", 2L, 8L)))
    assert(out(2) == ((3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9", 9L, 0L)),
      "a doc with no duplicated span passes through unchanged")
    assert(out(3) == ((4L, "", 0L, 8L)), "fully-duplicated doc → empty text")
    assert(out(4) == ((5L, "", 0L, 8L)))
  }

  test("componentRepsBy: string ids tiebreak deterministically (lowest id among max score)") {
    // ADVICE r11: the tiebreak must not negate the id column — a negated
    // string id casts to a null double and de-determinizes the choice.
    // Scores tie at 0.9 inside comp "a": rep must be the LOWEST id.
    val comps = Seq(("did:a1", "a"), ("did:a2", "a"), ("did:a3", "a"),
      ("did:b1", "b")).toDF("doc_id", "comp")
    val attrs = Seq(("did:a1", 0.9, 10L), ("did:a2", 0.9, 20L),
      ("did:a3", 0.1, 30L), ("did:b1", 0.5, 7L))
      .toDF("doc_id", "score", "n_chars")
    val reps = Dedup.componentRepsBy(comps, attrs, "doc_id", "comp", "score", "n_chars")
      .as[(String, Double, Long, Long)].collect()
      .map { case (rep, s, n, pruned) => rep -> ((s, n, pruned)) }.toMap
    assert(reps == Map(
      "did:a1" -> ((0.9, 3L, 50L)), // ties 0.9: a1 < a2; pruned = 20+30
      "did:b1" -> ((0.5, 1L, 0L))))
  }

  test("percentileGate keeps the top (1-q) per stratum, not globally") {
    val df = ((1 to 10).map(i => ("a", i.toDouble)) ++
      Seq(("b", 100.0), ("b", 200.0), ("b", 300.0))).toDF("s", "v")
    val kept = TextStats.percentileGate(df, "s", "v", q = 0.7)
      .as[(String, Double)].collect().toSet
    // stratum a: thr = 1 + 0.7·9 = 7.3 → 8,9,10; stratum b: thr = 240 → 300.
    // A global p70 would have dropped ALL of stratum a.
    assert(kept == Set(("a", 8.0), ("a", 9.0), ("a", 10.0), ("b", 300.0)))
  }

  test("percentileGate plan pin: no stratum-only window in the gate path") {
    // the 100 TB property (VERDICT r16 #1): the cumulative scan over
    // the distinct-value histogram must be keyed by (stratum, chunk) —
    // a stratum-only window funnels sampleByShare's constant "__all"
    // stratum through ONE task. Since the round-18 literal-re-entry
    // rework (ADVICE r17 #5) the threshold is computed at CONSTRUCTION
    // time (chunk-keyed windows inside bounded collects over the
    // materialized histogram) and the RETURNED frame is one corpus pass
    // against the literal broadcast threshold table — so the pin is now
    // stronger: the gate's returned plan must contain NO window node at
    // all. A stratum-only window regressing into the returned path
    // trips this immediately.
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val docs = graft.Tables.documents(spark, sf)
    val scored = TextStats.qualityScore(docs, "doc_id", "text")
      .withColumn("s", lit("__all"))
    val out = TextStats.percentileGate(scored, "s", "quality", q = 0.7)
    val wins = out.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(wins.isEmpty,
      s"expected a window-free gate plan (threshold enters as literals), got ${wins.size}")
    // the gated (driver-threshold) entry point ≡ the distributed
    // chunked machinery, at a chunk count that forces multi-chunk
    // strata AND at the single-chunk (logical single-window) form —
    // long addition is associative and both sides run the identical
    // IEEE interpolation ops, so the kept set crosses the size gate
    // unchanged
    val gated = out.select("doc_id").as[Long].collect().sorted.toSeq
    val fine = TextStats.percentileGateDistributed(scored, "s", "quality",
        q = 0.7, chunks = 4)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val coarse = TextStats.percentileGateDistributed(scored, "s", "quality",
        q = 0.7, chunks = 1)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(fine.nonEmpty && fine == coarse,
      "chunked percentile gate diverged from the single-chunk form")
    assert(gated == fine,
      "driver-threshold gate diverged from the distributed machinery")
  }

  test("percentileGate thrDigits snaps the cutoff to the value grid") {
    // 10 values on a 1e-1 grid; p70 = 0.1 + 0.7·0.9 = 0.73 exactly
    // between grid points → rounding to 1 digit snaps the threshold to
    // 0.7, readmitting the rows holding exactly that grid value
    val df = (1 to 10).map(i => ("s", i / 10.0)).toDF("g", "v")
    val raw = TextStats.percentileGate(df, "g", "v", q = 0.7)
      .as[(String, Double)].collect().map(_._2).sorted.toSeq
    val snapped = TextStats.percentileGate(df, "g", "v", q = 0.7, thrDigits = Some(1))
      .as[(String, Double)].collect().map(_._2).sorted.toSeq
    assert(raw == Seq(0.8, 0.9, 1.0))
    assert(snapped == Seq(0.7, 0.8, 0.9, 1.0))
  }

  test("shardStats: exhaustive, deterministic, weight-conserving") {
    val df = (1L to 100L).map(i => (i, i * 2)).toDF("doc_id", "w")
    val out = Sampling.shardStats(df, "doc_id", "w", nShards = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.map(_._1).toSet.subsetOf((0L until 8L).toSet))
    assert(out.map(_._2).sum == 100L)      // every row placed exactly once
    assert(out.map(_._3).sum == 2L * 5050) // weight conserved
    val again = Sampling.shardStats(df, "doc_id", "w", nShards = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("quantizeStats clamps to ±127 and survives the zero vector") {
    val df = Seq(
      (1L, Array(1.0f, -1.0f, 0.5f)),  // symmetric: ±127 at the extremes
      (2L, Array(0.0f, 0.0f, 0.0f)))   // zero vector: eps guard, no NaN/inf
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeStats(df, "vec_id", "embedding")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val (_, qSum1, err1) = out(0)
    assert(qSum1 == 127L - 127L + 64L) // 0.5*127 + 0.5 floors to 64
    assert(err1 < 0.005)
    val (_, qSum2, err2) = out(1)
    assert(qSum2 == 0L && err2 == 0.0)
  }

  test("ivfTopK probe result is exact within its cell") {
    val emb = graft.Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding")))
      .head().getSeq[Double](0).toSeq
    val rest = emb.filter(col("vec_id") =!= 0)
    val probed = Similarity.ivfTopK(rest, "vec_id", "label", "embedding", q, k = 5)
      .as[(Long, Double)].collect()
    assert(probed.length == 5)
    // every probe hit must agree with the full brute-force score
    val brute = Similarity.cosineTopK(rest, "vec_id", "embedding", q, k = 1000)
      .as[(Long, Double)].collect().toMap
    probed.foreach { case (id, cos) => assert(brute(id) == cos) }
    // all hits share the probed (single) cell
    val labels = rest.join(probed.map(_._1).toSeq.toDF("vec_id"), "vec_id")
      .select("label").distinct().count()
    assert(labels == 1)
  }

  test("planesFor keeps expected bucket size near the target as the corpus grows") {
    // the knob math: buckets ≥ n/target, clamped
    assert(Similarity.planesFor(500, 64) == 4)   // 16 buckets ≥ 7.9
    assert(Similarity.planesFor(5000, 64) == 7)  // 128 buckets ≥ 78.2
    assert(Similarity.planesFor(5000000, 64) == 17)
    assert(Similarity.planesFor(1, 64) == 4, "clamped low")
    assert(Similarity.planesFor(Long.MaxValue, 1) == 24, "clamped high")

    // on real (clustered) embeddings at two sizes, the MEAN bucket size
    // stays within a small multiple of the target — the knob holds as
    // the corpus grows 10×, which a fixed nPlanes cannot
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val emb = graft.Tables.embeddings(spark, dir)
      val n = emb.count()
      val target = 16L
      val bucketed = Similarity.withBuckets(emb, "embedding", dims = 64,
        nPlanes = Similarity.planesFor(n, target))
      val nBuckets = bucketed.select("bucket").distinct().count()
      val mean = n.toDouble / nBuckets
      assert(mean <= 4 * target,
        s"$dir: mean bucket size $mean vs target $target (n=$n, buckets=$nBuckets)")
    }
  }

  test("shingles of docs shorter than n words are empty, not garbage") {
    val docs = Seq((1L, "only two"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, "doc_id", "text", n = 3)
      .as[(Long, String)].collect().toSet
    assert(sh == Set((2L, "a b c"), (2L, "b c d"))) // doc 1 yields none
  }

  test("flat batch probes log the corpus x nq steer above the threshold") {
    val docsDir = java.nio.file.Files.createTempDirectory("graft-flatguard").toString
    val emb = graft.Tables.embeddings(spark, sf).filter(col("vec_id") =!= 0)
    Ann.build(emb, "vec_id", "embedding", docsDir, Ann.SQ8(64), Ann.Flat())
    val queries = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val before = Ann.FlatBatchGuard.fired.get()
    // silent at the default 10^9 threshold on a fixture-sized corpus...
    Ann.probeBatch(spark, docsDir, Ann.Flat(emb), "vec_id", "embedding", queries, "qid",
      "qvec").count()
    assert(Ann.FlatBatchGuard.fired.get() == before,
      "guard fired below threshold")
    // ...and fires once the scored-row estimate crosses it
    System.setProperty("graft.flatbatch.warn.rows", "1")
    try {
      Ann.probeBatch(spark, docsDir, Ann.Flat(emb), "vec_id", "embedding", queries, "qid",
        "qvec").count()
      assert(Ann.FlatBatchGuard.fired.get() == before + 1,
        "guard did not fire above threshold")
    } finally System.clearProperty("graft.flatbatch.warn.rows")
  }

  test("parseImageDims reads real container headers: PNG/GIF/JPEG/BMP, big sizes, junk") {
    // REAL bytes, not synthetic round-trips: a genuine 1x1 PNG and 1x1
    // GIF89a as produced by standard encoders (public constants)
    val png1x1 = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    val gif1x1 = java.util.Base64.getDecoder.decode(
      "R0lGODlhAQABAAAAACH5BAEKAAEALAAAAAABAAEAAAICTAEAOw==")
    assert(Multimodal.parseImageDims(png1x1).contains(("png", 1, 1)))
    assert(Multimodal.parseImageDims(gif1x1).contains(("gif", 1, 1)))

    // a JPEG whose SOF sits BEHIND other segments (DQT) and is
    // progressive (SOF2) — the segment walk must skip to it
    val jpeg = {
      val out = new java.io.ByteArrayOutputStream()
      def b(v: Int) = out.write(v & 0xff)
      b(0xff); b(0xd8) // SOI
      b(0xff); b(0xdb); b(0); b(67); (0 until 65).foreach(_ => b(0x10)) // DQT
      b(0xff); b(0xc2); b(0); b(11); b(8) // SOF2 (progressive), precision 8
      b(640 >> 8); b(640 & 0xff) // height 640
      b(480 >> 8); b(480 & 0xff) // width 480
      b(1); b(1); b(0x11); b(0)
      b(0xff); b(0xd9)
      out.toByteArray
    }
    assert(Multimodal.parseImageDims(jpeg).contains(("jpeg", 480, 640)))

    // endianness at >255 dims, every builder format round-trips
    for (fmt <- Seq("png", "gif", "jpeg", "bmp"); (w, h) <- Seq((1, 1), (1000, 2000), (65500, 3)))
      assert(Multimodal.parseImageDims(Multimodal.syntheticImage(fmt, w, h))
        .contains((fmt, w, h)), s"$fmt ${w}x$h")

    // junk, truncation, empty: None — never a throw
    assert(Multimodal.parseImageDims(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseImageDims("not an image at all".getBytes).isEmpty)
    assert(Multimodal.parseImageDims(png1x1.take(12)).isEmpty)
    assert(Multimodal.parseImageDims(Array[Byte](0xff.toByte, 0xd8.toByte, 0x00, 0x01)).isEmpty)
  }

  test("JPEG torture: EXIF-rotated (both TIFF endiannesses), fill bytes, progressive behind APP1") {
    // builder: SOI + optional APP1(EXIF, orientation) + padding/fill +
    // SOFn + EOI — the camera-output segment layout
    def jpeg(sof: Int, w: Int, h: Int,
        exif: Option[(Boolean, Int)] = None, // (littleEndian, orientation)
        fillBytes: Int = 0, app1Pad: Int = 0): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def b(v: Int) = out.write(v & 0xff)
      def b16(v: Int) = { b(v >> 8); b(v & 0xff) }
      b(0xff); b(0xd8) // SOI
      exif.foreach { case (little, orient) =>
        // APP1: "Exif\0\0" + TIFF header + IFD0 with 2 entries (a
        // decoy Make tag first, then Orientation), trailing pad
        val tiff = new java.io.ByteArrayOutputStream()
        def t16(v: Int) = if (little) { tiff.write(v & 0xff); tiff.write(v >> 8) }
          else { tiff.write(v >> 8); tiff.write(v & 0xff) }
        def t32(v: Int) = if (little) { t16(v & 0xffff); t16(v >>> 16) }
          else { t16(v >>> 16); t16(v & 0xffff) }
        tiff.write(if (little) 'I' else 'M'); tiff.write(if (little) 'I' else 'M')
        t16(42); t32(8) // magic + IFD0 at offset 8
        t16(2) // two entries
        t16(0x010f); t16(2); t32(4); t32(0) // Make, ASCII, decoy
        t16(0x0112); t16(3); t32(1); t16(orient); t16(0) // Orientation SHORT
        t32(0) // next-IFD pointer
        val payload = tiff.toByteArray
        b(0xff); b(0xe1); b16(2 + 6 + payload.length + app1Pad)
        out.write("Exif".getBytes("US-ASCII")); b(0); b(0)
        out.write(payload)
        (0 until app1Pad).foreach(_ => b(0))
      }
      (0 until fillBytes).foreach(_ => b(0xff)) // inter-segment fill
      b(0xff); b(sof); b16(11); b(8); b16(h); b16(w); b(1); b(1); b(0x11); b(0)
      b(0xff); b(0xd9)
      out.toByteArray
    }

    // EXIF-rotated progressive JPEG, big-endian TIFF: dims come off the
    // SOF unchanged, past the APP1 segment
    val rotBig = jpeg(0xc2, 3024, 4032, exif = Some((false, 6)))
    assert(Multimodal.parseImageDims(rotBig).contains(("jpeg", 3024, 4032)))

    // little-endian TIFF, baseline SOF0, fill bytes before markers,
    // padded APP1 (real cameras over-allocate the segment)
    val rotLit = jpeg(0xc0, 640, 480, exif = Some((true, 3)), fillBytes = 3, app1Pad = 64)
    assert(Multimodal.parseImageDims(rotLit).contains(("jpeg", 640, 480)))

    // every SOF variant a scan can hit: baseline, extended, progressive,
    // lossless, differential/arithmetic family
    for (sof <- Seq(0xc0, 0xc1, 0xc2, 0xc3, 0xc5, 0xc6, 0xc7, 0xc9, 0xca, 0xcb, 0xcd, 0xce, 0xcf))
      assert(Multimodal.parseImageDims(jpeg(sof, 123, 45)).contains(("jpeg", 123, 45)), f"SOF $sof%02x")
  }

  test("parseWavMeta chunk-walks real RIFF headers; junk and truncation never throw") {
    // canonical 44-byte builder round-trips across parameters
    for ((ch, rate, bits, n) <- Seq((1, 8000, 16, 100), (2, 44100, 16, 4410),
        (2, 48000, 8, 999), (1, 16000, 24, 500))) {
      val wav = Multimodal.syntheticWav(ch, rate, bits, n)
      val dataBytes = n.toLong * ch * bits / 8
      val wantMs = dataBytes * 8000L / (rate.toLong * ch * bits)
      assert(Multimodal.parseWavMeta(wav).contains((ch, rate, bits, wantMs)),
        s"$ch ch @ $rate Hz $bits bit")
    }
    // non-canonical chunk order: a LIST chunk (odd size → even padding)
    // before fmt/data still parses — the walk follows the spec, not
    // the fixed 44-byte layout
    val withList = {
      val out = new java.io.ByteArrayOutputStream()
      val tail = Multimodal.syntheticWav(1, 8000, 16, 10).drop(12) // fmt+data
      def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)
      out.write("RIFF".getBytes("US-ASCII")); out.write(le32(4 + 8 + 5 + 1 + tail.length))
      out.write("WAVE".getBytes("US-ASCII"))
      out.write("LIST".getBytes("US-ASCII")); out.write(le32(5))
      out.write("INFOx".getBytes("US-ASCII")); out.write(0) // odd size: pad byte
      out.write(tail)
      out.toByteArray
    }
    assert(Multimodal.parseWavMeta(withList).contains((1, 8000, 16, 1L)))
    // junk / truncation / wrong container: None, never a throw
    assert(Multimodal.parseWavMeta(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseWavMeta("RIFFxxxxAVI ".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.parseWavMeta(Multimodal.syntheticWav(1, 8000, 16, 10).take(20)).isEmpty)
    assert(Multimodal.parseWavMeta(Multimodal.syntheticImage("png", 4, 4)).isEmpty)
  }

  test("parseMp4Meta walks real ISO BMFF box trees; junk and truncation never throw") {
    // builder round-trips across parameters, incl. varied timescales and
    // extra dimensionless (audio-like) tracks
    for ((w, h, ms, ts, extra) <- Seq((640, 480, 1000L, 1000L, 0), (1920, 1080, 7503L, 3000L, 1),
        (16, 16, 500L, 90000L, 2), (320, 240, 123456L, 1000L, 1))) {
      val mp4 = Multimodal.syntheticMp4(w, h, ms, ts, extra)
      assert(Multimodal.parseMp4Meta(mp4).contains(("isom", ms, w.toLong, h.toLong, 1L + extra)),
        s"${w}x$h ${ms}ms ts=$ts +$extra")
    }
    // v1 mvhd (64-bit duration) + v1 tkhd + a 64-bit largesize moov
    // header — the layouts differ from v0, so build them by hand with
    // size-computed boxes
    def be32a(v: Long) = Array[Byte]((v >>> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def be64a(v: Long) = be32a(v >>> 32) ++ be32a(v & 0xffffffffL)
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32a(payload.length + 8L) ++ typ.getBytes("US-ASCII") ++ payload
    def largebox(typ: String, payload: Array[Byte]): Array[Byte] =
      be32a(1L) ++ typ.getBytes("US-ASCII") ++ be64a(payload.length + 16L) ++ payload
    val matrix = (0 until 9).toArray.flatMap(i =>
      be32a(if (i == 0 || i == 4) 0x00010000L else if (i == 8) 0x40000000L else 0L))
    val mvhdV1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++ be64a(0) ++ be64a(0) ++
      be32a(2000L) ++ be64a(9000L) ++ // timescale 2000, duration 9000 → 4500 ms
      be32a(0x00010000L) ++ be32a(0) ++ be64a(0) ++ matrix ++
      Array.fill(24)(0: Byte) ++ be32a(2))
    val tkhdV1 = box("tkhd", Array[Byte](1, 0, 0, 0) ++ be64a(0) ++ be64a(0) ++
      be32a(1) ++ be32a(0) ++ be64a(0) ++ be64a(0) ++ be32a(0) ++ be32a(0) ++
      matrix ++ be32a(800L << 16) ++ be32a(600L << 16))
    val ftypV1 = box("ftyp", "mp42".getBytes("US-ASCII") ++ be32a(0))
    val v1 = ftypV1 ++ largebox("moov", mvhdV1 ++ box("trak", tkhdV1))
    assert(Multimodal.parseMp4Meta(v1).contains(("mp42", 4500L, 800L, 600L, 1L)))
    // junk / truncation / wrong container: None, never a throw
    assert(Multimodal.parseMp4Meta(Array.empty[Byte]).isEmpty)
    assert(Multimodal.parseMp4Meta("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.parseMp4Meta(Multimodal.syntheticMp4(64, 64, 1000L, 1000L).take(40)).isEmpty)
    assert(Multimodal.parseMp4Meta(Multimodal.syntheticImage("png", 4, 4)).isEmpty)
    // corrupt inner box size: None, not an infinite loop or throw
    val corrupt = Multimodal.syntheticMp4(64, 64, 1000L, 1000L)
    corrupt(28) = 0x7f.toByte // blow up mvhd's declared size past its parent
    assert(Multimodal.parseMp4Meta(corrupt).isEmpty)
    // corruption AFTER a valid mvhd+tkhd must still poison the parse
    // (review finding: nested walk results were discarded): blow up the
    // SECOND trak's size — layout ftyp(20) moov-hdr(8) mvhd(108)
    // trak(100) trak(100) puts its size field at offset 236
    val lateCorrupt = Multimodal.syntheticMp4(64, 64, 1000L, 1000L, extraTracks = 1)
    lateCorrupt(236) = 0x7f.toByte
    assert(Multimodal.parseMp4Meta(lateCorrupt).isEmpty,
      "corrupt box after valid mvhd/tkhd still yields None")
  }

  test("withVideoMeta: batched box-walk decode over a binary column, nulls for junk") {
    val df = Seq(
      (1L, Multimodal.syntheticMp4(640, 480, 2500L, 1000L, 1)),
      (2L, "not a video".getBytes("US-ASCII")),
      (3L, Multimodal.syntheticMp4(128, 96, 40L, 2000L)))
      .toDF("id", "payload")
    val out = Multimodal.withVideoMeta(df, "payload")
      .select("id", "brand", "duration_ms", "width", "height", "n_tracks")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "isom" && out(1L).getLong(2) == 2500L &&
      out(1L).getLong(3) == 640L && out(1L).getLong(4) == 480L && out(1L).getLong(5) == 2L)
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(2))
    assert(out(3L).getLong(2) == 40L && out(3L).getLong(5) == 1L)
  }

  test("withImageDims: batched header decode over a binary column, nulls for junk") {
    val df = Seq(
      (1L, Multimodal.syntheticImage("png", 320, 240)),
      (2L, Multimodal.syntheticImage("gif", 12, 34)),
      (3L, "garbage".getBytes)).toDF("id", "payload")
    val dims = Multimodal.withImageDims(df, "payload")
      .select("id", "img_format", "width", "height").collect()
      .map(r => r.getLong(0) -> (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(dims(1L) == (("png", Some(320L), Some(240L))))
    assert(dims(2L) == (("gif", Some(12L), Some(34L))))
    assert(dims(3L) == ((null, None, None)))
  }

  test("chunkDedup drops corpus-repeated chunks, reassembles the rest in order") {
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ") // one exact 10-word chunk
    val docs = Seq(
      (1L, s"$boiler u1 u2 u3"),
      (2L, s"$boiler v1 v2"),
      (3L, s"$boiler w1"),
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11")).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkWords = 10, boilerplateK = 3)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "u1 u2 u3", 2L, 1L), // boilerplate chunk dropped, tail survives
      (2L, "v1 v2", 2L, 1L),
      (3L, "w1", 2L, 1L),
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11", 2L, 0L))) // unique: intact
    // a doc that is ALL boilerplate reduces to the empty string
    val all = Dedup.chunkDedup(
      Seq((1L, boiler), (2L, boiler), (3L, boiler)).toDF("doc_id", "text"),
      "doc_id", "text", chunkWords = 10, boilerplateK = 3)
    assert(all.filter(col("clean_text") === "").count() == 3)
  }

  test("substringSpans finds maximal cross-doc and self-repeated spans") {
    val shared = (1 to 10).map(i => s"s$i").mkString(" ") // 10 shared words
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared z1 z2"),            // shared run at offset 3
      (2L, s"$shared b1 b2 b3 b4"),               // same run at offset 0
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11"), // unique: no spans
      (4L, "c1 c2 c3 c4 c5 c6 c7 c8 " +           // self-repetition:
        "c1 c2 c3 c4 c5 c6 c7 c8 t1 t2"),         //   touching windows merge
      (5L, "w1 w2 w3")                            // shorter than n: no grams
    ).toDF("doc_id", "text")
    val out = Dedup.substringSpans(docs, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    // docs 1/2: exactly the shared 10-word run — boundary windows mixing
    // unique context are not duplicated, so the span does not bleed
    assert(out == Seq(
      (1L, 3L, 13L, 10L),
      (2L, 0L, 10L, 10L),
      (4L, 0L, 16L, 16L))) // [0,8) and [8,16) touch → one merged span
    // two duplicated sentences separated by unique words stay two spans
    val gap = Seq(
      (1L, s"$shared g1 g2 g3 $shared"),
      (2L, shared)).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(gap, "doc_id", "text", n = 8)
      .filter(col("doc_id") === 1L)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(spans == Seq((1L, 0L, 10L, 10L), (1L, 13L, 23L, 10L)))
    // structural invariants on the real fixture: spans >= n words, in
    // bounds, non-overlapping with a gap between consecutive spans
    val fx = graft.Tables.documents(spark, sf)
    val fxSpans = Dedup.substringSpans(fx, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long)].collect()
    assert(fxSpans.nonEmpty, "fixture corpus must contain duplicated runs")
    val lens = fx.select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    fxSpans.groupBy(_._1).foreach { case (id, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.foreach { case (_, s, e, w) =>
        assert(s >= 0 && e <= lens(id) && w == e - s && w >= 8)
      }
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) => assert(s2 > e1)
        case _ =>
      }
    }
  }

  test("contaminationFlags: oversize-bench shuffle fallback is flag-identical to the broadcast path") {
    val docs = graft.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    def flags(maxSh: Long) = Dedup.contaminationFlags(
      corpus, bench, "doc_id", "text", broadcastMaxShingles = maxSh)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val viaBroadcast = flags(Long.MaxValue)
    val viaShuffle = flags(0L) // force the over-bound path
    assert(viaBroadcast.nonEmpty, "fixture must produce some overlap")
    assert(viaShuffle == viaBroadcast,
      "the size-gated fallback must change only the exchange, never a flag")
    // the gate really switches strategies: with Spark's own
    // auto-broadcast silenced (the fixture is small enough that the
    // planner would broadcast regardless of our hint), the fallback
    // plan must carry no broadcast join — only the hint the gate
    // withheld could have produced one
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(spark.conf.set(_, "-1"))
    try {
      val plan = Dedup.contaminationFlags(corpus, bench, "doc_id", "text",
        broadcastMaxShingles = 0L).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"expected a shuffle join in the fallback plan, got:\n$plan")
      val hinted = Dedup.contaminationFlags(corpus, bench, "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"),
        s"expected the under-bound path to broadcast, got:\n$hinted")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("redactPii replaces every occurrence and reports audit counts") {
    val out = TextStats.redactPii(Seq(
      (1L, "mail a@b.io and c.d+x@e-f.org call +4915512345678 from 10.0.0.1 or 192.168.1.255"),
      (2L, "clean text, no pii at all")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out(0) == ((1L,
      "mail [EMAIL] and [EMAIL] call [PHONE] from [IP] or [IP]", 2L, 2L, 1L)))
    assert(out(1) == ((2L, "clean text, no pii at all", 0L, 0L, 0L)))
  }
}
