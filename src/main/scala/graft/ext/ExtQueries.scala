package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.Portable.pround

/** Oracle-gated bindings of the LLM-pipeline operator library
  * ([[Dedup]], [[TextStats]], [[Similarity]], [[Multimodal]]) to the
  * fixture tables (build brief E1-E3). Each query is one call into the
  * reusable operator plus column naming — the operators themselves take
  * arbitrary (id, text/vector) DataFrames.
  *
  * Oracle portability rules (shared with the operator library): all
  * hashing is md5-derived — Spark `conv(substring(md5(s),1,8),16,10)` ≡
  * DuckDB `('0x'||substr(md5(s),1,8))::BIGINT` — and every float that
  * crosses the oracle boundary goes through
  * [[graft.util.Portable.pround]], so even the sketch operators
  * (MinHash, SimHash, LSH) hash-match ANSI SQL exactly.
  */
object ExtQueries {

  // ---------------------------------------------------------------- text

  /** E3 — per-document text statistics. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    TextStats.stats(Tables.documents(spark, dir), "doc_id", "text")

  /** E3 — corpus token counts per source. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    TextStats.tokenCounts(Tables.documents(spark, dir), "source", "text")

  /** E3 — stopword-ratio language-ID heuristic. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    TextStats.langId(Tables.documents(spark, dir), "doc_id", "text")

  /** E3 — blended quality score. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    TextStats.qualityScore(Tables.documents(spark, dir), "doc_id", "text")

  /** E3 — normalized content fingerprint. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.fingerprint(Tables.documents(spark, dir), "doc_id", "text")

  // --------------------------------------------------------------- dedup

  /** E1 — exact dedup on content digest. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")

  /** E1 — exact n-gram Jaccard near-dup pairs at J ≥ 0.8, via the
    * prefix-filtered all-pairs join (ppjoin): result-identical to the
    * exhaustive collision join on any data, sub-quadratic on
    * boilerplate-saturated corpora. [[Dedup.verifyCandidates]] remains
    * the recall-tunable LSH alternative.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8)
      .withColumnRenamed("doc_id_a", "doc_a")
      .withColumnRenamed("doc_id_b", "doc_b")

  /** E1 — the production near-dup pipeline: MinHash-LSH candidates
    * exact-verified with n-gram Jaccard ≥ 0.8 ([[Dedup.verifyCandidates]]).
    * The Jaccard join runs only over docs that LSH flagged, so cost is
    * Σ(bucket²) not corpus² — the recall-tunable alternative to the
    * exact prefix-filtered [[dedupNgramJaccard]].
    */
  def dedupVerified(spark: SparkSession, dir: String): DataFrame =
    Dedup.verifyCandidates(Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8)
      .withColumnRenamed("doc_id_a", "doc_a")
      .withColumnRenamed("doc_id_b", "doc_b")

  /** E1 — MinHash-LSH candidate pairs (16 hashes, 4 bands × 4 rows). */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text")
      .withColumnRenamed("doc_id_a", "doc_a")
      .withColumnRenamed("doc_id_b", "doc_b")

  /** E1 — dedup-group assignment: connected components over the
    * LSH-verified near-dup pairs; every involved doc labeled with the
    * smallest doc_id of its transitive cluster ([[Dedup.connectedComponents]]).
    */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.verifyCandidates(Tables.documents(spark, dir), "doc_id", "text", threshold = 0.8),
      "doc_id_a", "doc_id_b")
      .withColumnRenamed("id", "doc_id")

  /** E3 — deterministic stratified sample accounting (20% hash sample
    * per source; [[Sampling.stratifiedCounts]]).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedCounts(Tables.documents(spark, dir), "source", "doc_id", permille = 200)

  /** E1 — 60-bit SimHash signatures. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(spark, dir), "doc_id", "text")

  /** E1 — SimHash near-pairs at Hamming ≤ 3 via 15-bit-piece pigeonhole
    * banding with a hot-bucket cap ([[Dedup.simhashHammingPairs]] —
    * candidates from a piece-bucket equi-join, no all-pairs stage). The
    * cap of 20 is fixture-sized so both SFs exercise the skip path; the
    * operator default is 1000.
    */
  def simhashHamming(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashHammingPairs(Tables.documents(spark, dir), "doc_id", "text",
      maxDist = 3, maxBucket = 20L)
      .withColumnRenamed("doc_id_a", "doc_a")
      .withColumnRenamed("doc_id_b", "doc_b")

  /** E1 — embedding-cosine near-dup pairs, LSH-bucketed: same-bucket
    * candidates verified with exact cosine (the scale form — Σn_b²
    * instead of n² pairs — and still oracle-exact since the buckets are
    * md5-deterministic). The fixture embeddings have no planted
    * near-dups, so the threshold sits in the similarity tail.
    */
  def dedupEmbedCosine(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshCosinePairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
      dims = 64, threshold = 0.3)
      .withColumnRenamed("vec_id_a", "vec_a")
      .withColumnRenamed("vec_id_b", "vec_b")

  /** E3 — Gopher-style conjunctive quality gate (word-count bounds,
    * mean word length band, stopword evidence, alpha-word floor) with
    * every signal emitted ([[TextStats.gopherRules]]).
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    TextStats.gopherRules(Tables.documents(spark, dir), "doc_id", "text")

  /** E3 — top-bigram repetition share ([[TextStats.repetitionStats]] —
    * the boilerplate/spam signal).
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    TextStats.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")

  /** E1 — benchmark decontamination: corpus docs (doc_id % 50 ≠ 0)
    * sharing any 3-gram with the held-out "benchmark" docs (doc_id % 50
    * = 0), with overlap counts ([[Dedup.contaminationFlags]] — the
    * benchmark shingle set broadcasts; one corpus pass).
    */
  def decontamFlags(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.contaminationFlags(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text")
  }

  /** E3 — contiguous sequence packing: per-source running token sum →
    * fixed-budget pack assignment ([[TextStats.sequencePack]]).
    */
  def sequencePack(spark: SparkSession, dir: String): DataFrame =
    TextStats.sequencePack(Tables.documents(spark, dir), "doc_id", "text",
      groupCol = "source", budget = 512L)

  /** E3 — BPE-ish regex token vocabulary. */
  def bpeTokenVocab(spark: SparkSession, dir: String): DataFrame =
    TextStats.bpeTokenVocab(Tables.documents(spark, dir), "text")

  /** How many BPE merges the registered bpe_* queries learn — bounded so
    * the DuckDB oracle's unrolled CTE chain stays tractable; the
    * operator itself takes any k.
    */
  val BpeMergeRounds = 12

  /** E3 — learned BPE merge table: `BpeMergeRounds` rounds of
    * distributed max-pair contraction over the pre-token vocabulary
    * ([[Bpe.learnMerges]]).
    */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    Bpe.mergeTable(spark,
      Bpe.learnMerges(Tables.documents(spark, dir), "text", BpeMergeRounds))

  /** E3 — BPE-encode the corpus with merges learned on it: token stream
    * + real token counts per document ([[Bpe.encode]]).
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Bpe.encode(docs, "doc_id", "text",
      Bpe.learnMerges(docs, "text", BpeMergeRounds))
  }

  /** E3 — token-budget sequence packing over REAL learned-BPE counts
    * (what `sequence_pack` approximates with whitespace counts): learn
    * merges, encode in place (no join back), pack contiguously per
    * source ([[TextStats.sequencePackBy]]).
    */
  def sequencePackBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val enc = Bpe.withEncoded(docs, "text",
      Bpe.learnMerges(docs, "text", BpeMergeRounds))
    TextStats.sequencePackBy(enc, "doc_id", "source", "n_tokens", budget = 512L)
  }

  /** E3 — rolling polynomial content hash. */
  def rollingFingerprint(spark: SparkSession, dir: String): DataFrame =
    TextStats.rollingFingerprint(Tables.documents(spark, dir), "doc_id", "text")

  // ----------------------------------------------------------- retrieval

  /** E3 — inverted index over the corpus: per token, document
    * frequency, total term frequency, first-10 postings
    * ([[Retrieval.invertedIndex]]).
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    Retrieval.invertedIndex(Tables.documents(spark, dir), "doc_id", "text")

  /** The persisted text index for `dir`'s documents table — built ONCE
    * per corpus snapshot ([[IndexStore.ensure]]), probed by every BM25
    * query after it.
    */
  private def textIndexFor(spark: SparkSession, dir: String): String =
    IndexStore.ensure("text", spark, Seq(s"$dir/documents.parquet")) { tmp =>
      Retrieval.buildTextIndex(Tables.documents(spark, dir), "doc_id", "text", tmp)
    }

  /** E3 — BM25 top-20 for a fixed three-term query, served from the
    * persisted index tables ([[Retrieval.bm25Probe]]): the probe plan
    * reads term-filtered postings + term df + one corpus row, never the
    * raw documents table. The terms are corpus stopwords, so every
    * document scores — the worst case for the posting join.
    */
  def bm25TopK(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bm25Probe(spark, textIndexFor(spark, dir), "doc_id",
      terms = Seq("the", "of", "and"))

  /** E3 — exact phrase search ([[Retrieval.phraseSearch]]): documents
    * containing the consecutive bigram "data table" with occurrence
    * counts — the positional-postings join shape.
    */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame =
    Retrieval.phraseSearch(Tables.documents(spark, dir), "doc_id", "text",
      phrase = Seq("data", "table"))

  /** E3 — 3-term phrase (VERDICT r12 #5): the anchor-align fold beyond
    * its simplest 2-term case — two consecutive joins on (doc, pos−i).
    */
  def phraseSearch3(spark: SparkSession, dir: String): DataFrame =
    Retrieval.phraseSearch(Tables.documents(spark, dir), "doc_id", "text",
      phrase = Seq("window", "fast", "query"))

  /** E3 — repeated-token phrase (VERDICT r12 #5): "sort sort" — the
    * self-overlap semantics the positional join claims ("a a a" counts
    * the phrase "a a" TWICE); the fixture corpus has triple-"sort" runs
    * at both SFs, so the overlap term is live in the hash gate.
    */
  def phraseSearchRep(spark: SparkSession, dir: String): DataFrame =
    Retrieval.phraseSearch(Tables.documents(spark, dir), "doc_id", "text",
      phrase = Seq("sort", "sort"))

  /** E2 — the learned k-means coarse quantizer's CENTROID TABLE,
    * hash-gated ([[Similarity.kmeansCentroids]] with the round-13
    * 1e-9 quantization): k=8 cells × 3 iterations over the embeddings
    * corpus, exploded to (cell, dim_i, c) rows. This upgrades the
    * k-means learning from "no-oracle by design" (iterative FP) to
    * oracle-exact; `ivf_probe_kmeans` stays additionally gated by
    * RecallSpec's recall floor.
    */
  def kmeansCentroidsQuery(spark: SparkSession, dir: String): DataFrame = {
    val cents = Similarity.kmeansCentroids(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, iters = 3)
    import spark.implicits._
    cents.zipWithIndex.flatMap { case (c, j) =>
      c.zipWithIndex.map { case (v, i) => (j.toLong, i.toLong, v) }
    }.toDF("cell", "dim_i", "c")
  }

  /** E2 — product-quantization codes ([[Similarity.pqCodebooks]] +
    * [[Ann.PqCodec]]): 64-dim vectors → 4 subspace codewords
    * (16 each, quantized-L2 k-means) + the stored norm — the m-bytes-
    * per-vector representation behind billion-scale ANN (Jégou 2011).
    * Hash-gated end to end (learning included) via the same 1e-9
    * quantization as `kmeans_centroids`.
    */
  /** The persisted PQ index for `dir`'s embeddings ([[Ann.build]]
    * behind [[IndexStore.ensure]] — round 14, VERDICT r13 #3 / ADVICE
    * r13 #1: codebooks AND codes now persist keyed by the corpus
    * fingerprint, replacing the per-JVM codebook memo that could serve
    * stale codebooks to a regenerated corpus and re-encoded the corpus
    * on every query). Two variants: the full corpus (`pq_codes`) and
    * corpus-minus-query-vector (the ADC probe fixtures' convention).
    */
  private def pqIndexFor(spark: SparkSession, dir: String,
      corpusOnly: Boolean): String = {
    val kind = if (corpusOnly) "pq_noq" else "pq_all"
    IndexStore.ensure(kind, spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      val emb = Tables.embeddings(spark, dir)
      Ann.build(if (corpusOnly) emb.filter(col("vec_id") =!= 0) else emb,
        "vec_id", "embedding", tmp, Ann.PQ(dim = 64, m = 4, ksub = 16), Ann.Flat())
    }
  }

  /** The OPQ index path last ensured in this JVM — read back at oracle
    * DUMP time by [[opqOracleSqlLive]] (Verify runs queries first, then
    * evaluates `SparkEntry.oracleSql`): the learned rotation has no SQL
    * re-derivation (Procrustes/SVD), so its 1e-9-quantized values enter
    * the oracle as literals read from the persisted index.
    */
  private val lastOpqIndex = new java.util.concurrent.atomic.AtomicReference[String]

  /** E2 — OPQ: learned orthogonal rotation + PQ + exact rerank (Ge et
    * al. CVPR 2013; [[Ann.build]]/[[Ann.probe]]) —
    * the accuracy rung above plain PQ at the same bit budget.
    * Probe-only: the alternating rotation/codebook learn pays once per
    * corpus snapshot behind [[IndexStore.ensure]].
    */
  def opqTopk(spark: SparkSession, dir: String): DataFrame = {
    val idx = IndexStore.ensure("opq", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", tmp, Ann.PQ(dim = 64, m = 4, ksub = 16, opqIters = 2),
        Ann.Flat())
    }
    lastOpqIndex.set(idx)
    Ann.probe(spark, idx, Ann.Flat(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)),
      "vec_id", "embedding", queryVec(spark, dir))
  }

  /** The `opq_topk` oracle, built at dump time from the rotation the
    * query's own build persisted. A filtered verify that never ran
    * `opq_topk` has no rotation to embed — emit a trivially-empty SQL
    * (the compare already fails on that query's missing parquet; the
    * dump itself must not throw).
    */
  def opqOracleSqlLive(): String =
    Option(lastOpqIndex.get()) match {
      case Some(idx) =>
        val spark = SparkSession.active
        Similarity.opqOracleSql(
          Ann.PqCodec.read(spark, idx).rotation.get, dim = 64, m = 4, ksub = 16)
      case None => "SELECT 1 AS x WHERE false"
    }

  /** The IVF-OPQ index path last ensured in this JVM — same dump-time
    * rotation-literal contract as [[lastOpqIndex]].
    */
  private val lastIvfOpqIndex = new java.util.concurrent.atomic.AtomicReference[String]

  /** E2 — composed IVF-OPQ (FAISS's "OPQ,IVF,PQ"; VERDICT r17 #6 —
    * [[Ann.build]]/[[Ann.probe]]): the
    * learned rotation ahead of the coarse quantizer, cells and codes
    * both in rotated space, exact rerank over the cell-pruned
    * originals. Probe-only behind [[IndexStore.ensure]].
    */
  def ivfOpqTopk(spark: SparkSession, dir: String): DataFrame = {
    val idx = IndexStore.ensure("ivfopq", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0).drop("label"),
        "vec_id", "embedding", tmp, Ann.PQ(dim = 64, m = 4, ksub = 16, opqIters = 2),
        Ann.Ivf(k = 8))
    }
    lastIvfOpqIndex.set(idx)
    Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      queryVec(spark, dir), k = 10, rerank = 50)
  }

  /** The `ivf_opq_topk` oracle, built at dump time from the persisted
    * rotation — [[opqOracleSqlLive]]'s contract for the composed form.
    */
  def ivfOpqOracleSqlLive(): String =
    Option(lastIvfOpqIndex.get()) match {
      case Some(idx) =>
        val spark = SparkSession.active
        Similarity.ivfOpqOracleSql(
          Ann.PqCodec.read(spark, idx).rotation.get,
          dim = 64, m = 4, ksub = 16, k = 8)
      case None => "SELECT 1 AS x WHERE false"
    }

  def pqCodes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${pqIndexFor(spark, dir, corpusOnly = false)}/codes")

  /** E2 — PQ asymmetric-distance top-k ([[Ann.candidates]]): the
    * query stays exact, every corpus vector is scored from m table
    * lookups over its PERSISTED codes — the scan never touches the
    * original vectors (probe-only since round 14; the learn+encode is
    * the index build).
    */
  def pqAdcTopk(spark: SparkSession, dir: String): DataFrame = {
    val idx = pqIndexFor(spark, dir, corpusOnly = true)
    Ann.candidates(spark.read.parquet(s"$idx/codes"), Ann.PqCodec.read(spark, idx),
      "vec_id", queryVec(spark, dir), 10)
  }

  /** E2 — PQ candidates + exact re-rank ([[Ann.probe]]):
    * the production PQ composition — ADC picks 50 candidate ids from
    * the persisted-code scan, exact cosine over those 50 originals
    * ranks the final 10. Raw ADC cannot rank within a tight
    * neighborhood (cluster members share codes), which RecallSpec
    * demonstrates and this chain repairs.
    */
  def pqRerankTopk(spark: SparkSession, dir: String): DataFrame = {
    val idx = pqIndexFor(spark, dir, corpusOnly = true)
    Ann.probe(spark, idx, Ann.Flat(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)),
      "vec_id", "embedding", queryVec(spark, dir))
  }

  /** E2 — SQ8 scalar-quantized ADC + exact re-rank
    * ([[Ann.build]]/[[Ann.probe]]): the
    * 8-bit/dim rung of the compression ladder — per-dim affine codes
    * learned from one exact min/max pass (no iterative FP anywhere),
    * probe scans the 4×-smaller codes table, raw vectors consulted only
    * for the rerank ids. Probe-only: the build pays once per corpus
    * snapshot behind [[IndexStore.ensure]].
    */
  def sq8Topk(spark: SparkSession, dir: String): DataFrame = {
    val idx = IndexStore.ensure("sq8", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", tmp, Ann.SQ8(dim = 64), Ann.Flat())
    }
    Ann.probe(spark, idx, Ann.Flat(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)),
      "vec_id", "embedding", queryVec(spark, dir))
  }

  /** E2 — binary-quantization Hamming + exact re-rank
    * ([[Ann.build]]/[[Ann.probe]]): the
    * 1-bit/dim rung — mean-centered sign bits packed 32/word, integer
    * popcount(xor) candidate scan (zero FP before the rerank join).
    * Probe-only behind [[IndexStore.ensure]].
    */
  def bqHammingTopk(spark: SparkSession, dir: String): DataFrame = {
    val idx = IndexStore.ensure("bq1", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", tmp, Ann.BQ(dim = 64), Ann.Flat())
    }
    Ann.probe(spark, idx, Ann.Flat(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0)),
      "vec_id", "embedding", queryVec(spark, dir))
  }

  /** E2 — composed IVF-BQ ([[Ann.build]] /
    * [[Ann.probe]] — the billion-vector
    * first-pass shape): cell-pruned sign-bit words, integer-exact
    * Hamming over ≤ nprobe cells, exact rerank; hash-gated by the
    * k-means unroll × sign-bit CTE composition.
    */
  def ivfBqTopk(spark: SparkSession, dir: String): DataFrame = {
    val idx = IndexStore.ensure("ivfbq", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0).drop("label"),
        "vec_id", "embedding", tmp, Ann.BQ(dim = 64), Ann.Ivf(k = 8))
    }
    Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      queryVec(spark, dir), k = 10, rerank = 50)
  }

  /** E2 — BATCH composed IVF-BQ ([[Ann.probeBatch]]):
    * per-query cell ranking + the words scan restricted to the batch's
    * probed-cell union + integer Hamming + exact rerank, one pass.
    */
  def ivfBqBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = IndexStore.ensure("ivfbqb", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(emb.filter(col("vec_id") >= 3).drop("label"),
        "vec_id", "embedding", tmp, Ann.BQ(dim = 64), Ann.Ivf(k = 8))
    }
    Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, rerank = 50)
  }

  /** E2 — BATCH SQ8 ([[Ann.probeBatch]]): 3 queries ADC-score
    * the codes table and exact-rerank in ONE distributed pass — the
    * flat-rung serving shape (VERDICT r15 #2: batch probes were
    * PQ-only). Corpus = vec_id ≥ 3, queries = vec_id < 3; every window
    * qid-partitioned; hash-gated by the per-qid-joined SQ8 unroll.
    */
  def sq8Batch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = IndexStore.ensure("sq8b", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(emb.filter(col("vec_id") >= 3),
        "vec_id", "embedding", tmp, Ann.SQ8(dim = 64), Ann.Flat())
    }
    Ann.probeBatch(spark, idx, Ann.Flat(emb.filter(col("vec_id") >= 3)),
      "vec_id", "embedding", emb.filter(col("vec_id") < 3), "vec_id",
      "embedding", k = 10, rerank = 50)
  }

  /** E2 — BATCH composed IVF-SQ8 ([[Ann.probeBatch]]):
    * per-query cell ranking + the codes scan restricted to the batch's
    * probed-cell union + exact rerank, all in one distributed pass;
    * hash-gated by the k-means × SQ8 per-qid composition.
    */
  def ivfSq8Batch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = IndexStore.ensure("ivfsq8b", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(emb.filter(col("vec_id") >= 3).drop("label"),
        "vec_id", "embedding", tmp, Ann.SQ8(dim = 64), Ann.Ivf(k = 8))
    }
    Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, rerank = 50)
  }

  /** E2 — BATCH BQ ([[Ann.probeBatch]]): queries binarize
    * in-plan against the frozen thresholds, every (query, words row)
    * pair scores integer-exact Hamming, per-qid rank + exact rerank —
    * one pass, zero FP before the rerank join.
    */
  def bqHammingBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = IndexStore.ensure("bqb", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(emb.filter(col("vec_id") >= 3),
        "vec_id", "embedding", tmp, Ann.BQ(dim = 64), Ann.Flat())
    }
    Ann.probeBatch(spark, idx, Ann.Flat(emb.filter(col("vec_id") >= 3)),
      "vec_id", "embedding", emb.filter(col("vec_id") < 3), "vec_id",
      "embedding", k = 10, rerank = 50)
  }

  /** E3 — TRAINED quality classifier, learning phase
    * ([[Classifier.train]]): 3 epochs of full-batch logistic regression
    * over hashed token features; returns the weight table (bias at
    * feature_idx = Dim). Iterative FP made oracle-exact by per-epoch
    * 1e-9 quantization.
    */
  def qualityLrTrain(spark: SparkSession, dir: String): DataFrame =
    lrWeightsFor(spark, dir)

  /** The persisted trained weights for `dir`'s documents — trained ONCE
    * per corpus snapshot ([[IndexStore.ensure]], so invalidation rides
    * the same source fingerprint as every other index) and read by both
    * quality_lr queries. Scoring is then the one-pass broadcast join it
    * documents (VERDICT r13 #4: score used to retrain from scratch per
    * query — honest for the oracle, wrong bench accounting and not the
    * serve shape).
    */
  private def lrWeightsFor(spark: SparkSession, dir: String): DataFrame = {
    val path = IndexStore.ensure("qlr", spark, Seq(s"$dir/documents.parquet")) { tmp =>
      Classifier.train(Tables.documents(spark, dir), "doc_id", "text")
        .coalesce(1) // 257 rows — one footer
        .write.mode("overwrite").parquet(s"$tmp/weights")
    }
    spark.read.parquet(s"$path/weights")
  }

  /** E3 — trained-classifier scoring pass ([[Classifier.score]]): every
    * document's σ(w·x+b), predicted gate, rule label, agreement, with
    * the weights served from the persisted training run.
    */
  def qualityLrScore(spark: SparkSession, dir: String): DataFrame =
    Classifier.score(Tables.documents(spark, dir), "doc_id", "text",
      lrWeightsFor(spark, dir))

  /** E3 — the BIGRAM-featured trained classifier (VERDICT r13 #7 —
    * Joulin 2016's accuracy lever is hashed n-grams, not the unigram
    * bag): same LR loop, features = hashed unigrams ∪ word bigrams in
    * one bucket space ([[Classifier.hashedNgramFeatures]]); weights
    * persist per corpus snapshot exactly like the unigram model's.
    * ClassifierSpec pins agreement ≥ the unigram model's on the
    * fixture.
    */
  def qualityLrBigram(spark: SparkSession, dir: String): DataFrame = {
    val path = IndexStore.ensure("qlrbi", spark, Seq(s"$dir/documents.parquet")) { tmp =>
      Classifier.train(Tables.documents(spark, dir), "doc_id", "text", bigrams = true)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/weights")
    }
    Classifier.score(Tables.documents(spark, dir), "doc_id", "text",
      spark.read.parquet(s"$path/weights"), bigrams = true)
  }

  /** E3 — corpus bigram LM scored per document: add-one-smoothed
    * transition NLL, the shuffled-text signal the unigram model misses
    * ([[Retrieval.bigramLogProb]]).
    */
  def bigramLogProb(spark: SparkSession, dir: String): DataFrame =
    Retrieval.bigramLogProb(Tables.documents(spark, dir), "doc_id", "text")

  /** E3 — corpus unigram LM scored per document: mean negative
    * log-likelihood, the perplexity-proxy quality gate
    * ([[Retrieval.unigramLogProb]]).
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    Retrieval.unigramLogProb(Tables.documents(spark, dir), "doc_id", "text")

  /** E3 — per-language p70 quality gate ([[TextStats.percentileGate]]
    * over [[TextStats.qualityScore]] with the documents table's own
    * lang column as the stratum).
    */
  def qualityLangGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextStats.percentileGate(
      TextStats.qualityScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id"),
      "lang", "quality", q = 0.7, thrDigits = Some(4)) // quality is pround(4)
      .select(col("doc_id"), col("lang"), col("quality"))
  }

  /** E3 — mixture control: each source capped at its 15 best-quality
    * docs ([[Sampling.capPerStratum]] over [[TextStats.qualityScore]]).
    */
  def sourceCaps(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Sampling.capPerStratum(
      TextStats.qualityScore(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), "doc_id"),
      "source", Seq(col("quality").desc, col("doc_id")), n = 15)
      .select(col("doc_id"), col("source"), col("quality"), col("rank"))
  }

  /** E3 — token-budget mixture construction
    * ([[Sampling.mixtureByBudget]]): even-numbered sources get a
    * 600-token budget, odd-numbered 300 — the per-source mixing weights
    * of a training run, resolved to an actual doc set.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val evenSrc = substring(col("source"), 4, 10).cast("int") % 2 === 0
    Sampling.mixtureByBudget(
      docs.select(col("doc_id"), col("source"), col("text")),
      "source", "doc_id",
      size(split(col("text"), " ")).cast("long"),
      when(evenSrc, lit(600L)).otherwise(lit(300L)))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** E3 — DSIR importance weights ([[Dsir.weights]]): every doc scored
    * against the "curated" target slice (sources src0-src3) over 4096
    * hashed-unigram buckets. Weights persist once per corpus snapshot
    * via [[IndexStore.ensure]] (the `qlr` pattern): scoring is paid in
    * `index_build_sec`, and the resample below reads the table instead
    * of recomputing the token fan-out.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsFor(spark, dir)

  private def dsirWeightsFor(spark: SparkSession, dir: String): DataFrame = {
    val path = IndexStore.ensure("dsirw", spark, Seq(s"$dir/documents.parquet")) { tmp =>
      Dsir.weights(Tables.documents(spark, dir),
        col("source").isin("src0", "src1", "src2", "src3"),
        "doc_id", "text", buckets = 4096)
        // one row per doc (~16 B) — corpus-sized, so written at the
        // corpus's parallelism, NOT coalesced like the 257-row qlr table
        .write.mode("overwrite").parquet(s"$tmp/weights")
    }
    spark.read.parquet(s"$path/weights")
  }

  /** E3 — DSIR weights over hashed unigram ∪ BIGRAM features
    * ([[Dsir.weights]] with `bigrams = true`, VERDICT r15 #4 — Xie et
    * al.'s actual feature space): word order enters through "a b"
    * tokens hashed into the same bucket space, so templated text whose
    * unigram bag matches the target separates where the unigram form
    * is structurally blind (DsirSpec pins this). Same persistence
    * pattern as [[dsirWeights]].
    */
  def dsirWeightsBigram(spark: SparkSession, dir: String): DataFrame = {
    val path = IndexStore.ensure("dsirwb", spark, Seq(s"$dir/documents.parquet")) { tmp =>
      Dsir.weights(Tables.documents(spark, dir),
        col("source").isin("src0", "src1", "src2", "src3"),
        "doc_id", "text", buckets = 4096, bigrams = true)
        .write.mode("overwrite").parquet(s"$tmp/weights")
    }
    spark.read.parquet(s"$path/weights")
  }

  /** E3 — DSIR Gumbel-top-k resample ([[Dsir.sampleTopK]]): 50 docs
    * drawn ∝ exp(w) from the persisted [[dsirWeights]] table,
    * deterministically.
    */
  def dsirSample(spark: SparkSession, dir: String): DataFrame =
    Dsir.sampleTopK(dsirWeightsFor(spark, dir), "doc_id", "dsir_w", k = 50)

  /** E3 — character-distribution entropy per doc (gibberish signal,
    * [[TextStats.charEntropy]]).
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    TextStats.charEntropy(Tables.documents(spark, dir), "doc_id", "text")

  /** E3 — corpus Zipf slope ([[TextStats.vocabZipf]] — the
    * rank-frequency regression over the vocabulary).
    */
  def vocabZipf(spark: SparkSession, dir: String): DataFrame =
    TextStats.vocabZipf(Tables.documents(spark, dir), "text")

  /** E3 — deterministic 16-way hash sharding with per-shard manifest
    * stats ([[Sampling.shardStats]], weight = n_chars).
    */
  def shardAssign(spark: SparkSession, dir: String): DataFrame =
    Sampling.shardStats(Tables.documents(spark, dir), "doc_id", "n_chars")

  /** E1 — sub-document boilerplate removal ([[Dedup.chunkDedup]]):
    * 10-word chunks repeated ≥3 times across the corpus are dropped
    * from every document (the C4/CCNet line-dedup, word-chunk form).
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(Tables.documents(spark, dir), "doc_id", "text")

  /** E1 — exact substring-duplication spans ([[Dedup.substringSpans]],
    * Lee et al. 2021 ExactSubstr): maximal >= 8-word spans of each
    * document whose text recurs anywhere in the corpus.
    */
  def substringSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringSpans(Tables.documents(spark, dir), "doc_id", "text")

  /** E1 — span excision ([[Dedup.substringCut]]): the cleaned text after
    * cutting every duplicated >= 8-word span the corpus recurrence scan
    * finds — ExactSubstr's actual deliverable.
    */
  def substringCut(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringCut(Tables.documents(spark, dir), "doc_id", "text")

  /** E3 — PII scrubbing ([[TextStats.redactPii]]). The fixture text
    * carries no PII, so each doc is salted with a deterministic email
    * + phone + IPv4 (derived from doc_id, reproduced verbatim by the
    * oracle) — the redaction and its audit counts are then exercised
    * for real on every row.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val withPii = Tables.documents(spark, dir).select(
      col("doc_id"),
      concat(col("text"),
        lit(" contact u"), col("doc_id"), lit("@example.com via +1555000"),
        col("doc_id") % 90 + 10,
        lit(" from 10.0."), col("doc_id") % 256, lit(".7")).as("text"))
    TextStats.redactPii(withPii, "doc_id", "text")
  }

  /** E1 — canonical representative + pruned-weight accounting per
    * near-dup component ([[Dedup.componentReps]] over the same verified
    * pairs as `dedup_components`).
    */
  def dedupReps(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val comps = Dedup.connectedComponents(
      Dedup.verifyCandidates(docs, "doc_id", "text", threshold = 0.8),
      "doc_id_a", "doc_id_b")
      .withColumnRenamed("id", "doc_id")
    Dedup.componentReps(comps, docs.select(col("doc_id"), col("n_chars")),
      "doc_id", "comp", "n_chars")
  }

  /** E1 — QUALITY-AWARE dedup representatives: of each near-duplicate
    * component, keep the highest-quality member (ties → lowest doc_id)
    * and account the pruned chars — the keep-best policy production
    * dedup ships, vs [[dedupReps]]' canonical-min-id convention
    * ([[Dedup.componentRepsBy]] over [[TextStats.qualityScore]]).
    */
  def dedupRepsQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val comps = Dedup.connectedComponents(
      Dedup.verifyCandidates(docs, "doc_id", "text", threshold = 0.8),
      "doc_id_a", "doc_id_b")
      .withColumnRenamed("id", "doc_id")
    val attrs = TextStats.qualityScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
    Dedup.componentRepsBy(comps, attrs, "doc_id", "comp", "quality", "n_chars")
  }

  /** E2 — SemDeDup semantic pruning: within-cluster (label) cosine ≥
    * 0.3 marks the higher vec_id pruned ([[Similarity.semDedupPrune]]).
    */
  def semdedupPrune(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedupPrune(Tables.embeddings(spark, dir), "vec_id", "label",
      "embedding", threshold = 0.3)

  // ---------------------------------------------------------- similarity

  /** The query vector for the kNN fixtures: embedding of vec_id = 0,
    * collected once driver-side (one row) and inlined as a literal.
    */
  private def queryVec(spark: SparkSession, dir: String): Seq[Double] =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0)
      .select(Similarity.toDoubleArr(col("embedding")).as("q"))
      .head().getSeq[Double](0).toSeq

  /** E2 — brute-force cosine top-10 vs the vec_id=0 embedding. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(
      Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec(spark, dir), k = 10)

  /** E2 — embedding L2 norms with labels. */
  def embedNorms(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        pround(Similarity.l2Norm(Similarity.toDoubleArr(col("embedding"))), 6).as("l2_norm"))

  /** E2 — random-hyperplane LSH bucket histogram (the ANN index
    * structure; probes go through [[Similarity.annTopK]]).
    */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame =
    Similarity.withBuckets(Tables.embeddings(spark, dir), "embedding", dims = 64)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"))

  /** The persisted IVF index for `dir`'s embeddings (query vector 0
    * excluded, matching the probe fixtures) — built ONCE per corpus
    * snapshot ([[IndexStore.ensure]]); both probe queries below read
    * it.
    */
  private def ivfIndexFor(spark: SparkSession, dir: String): String =
    IndexStore.ensure("ivf_novec0", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0),
        "vec_id", "embedding", tmp, Ann.Exact, Ann.Ivf())
    }

  /** E2 — IVF probe: best cell by centroid score, exact top-10 within
    * it, served from the persisted index ([[Ann.probe]]): the
    * cell ranking reads the K-row centroids table, the candidate scan
    * reads ONE pruned partition of the cell-partitioned vectors table —
    * the raw embeddings are never scanned (the coarse-quantizer ANN
    * scale path; a probe touches corpus/K rows).
    */
  def ivfProbe(spark: SparkSession, dir: String): DataFrame =
    Ann.probe(spark, ivfIndexFor(spark, dir), Ann.Ivf(nprobe = 1),
      "vec_id", "embedding", queryVec(spark, dir), k = 10)

  /** E2 — IVF probe at nprobe=2: exact top-10 within the TWO best
    * cells ([[Ann.probe]]'s recall knob — more cells probed,
    * strictly better recall, still nprobe pruned partitions scanned).
    */
  def ivfProbe2(spark: SparkSession, dir: String): DataFrame =
    Ann.probe(spark, ivfIndexFor(spark, dir), Ann.Ivf(nprobe = 2),
      "vec_id", "embedding", queryVec(spark, dir), k = 10)

  /** E2 — IVF probe with the DERIVED nprobe default
    * ([[Ann.autoNprobe]]): the caller states a recall target
    * and the probe reads the cell count off the persisted index and
    * applies the curve-calibrated closed form `nprobeFor(K, target)`.
    * The oracle derives the same nprobe from K in SQL, so the formula
    * itself is under the hash gate.
    */
  def ivfProbeAuto(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndexFor(spark, dir)
    Ann.probe(spark, idx, Ann.Ivf(nprobe = Ann.autoNprobe(spark, idx, targetRecall = 0.9)),
      "vec_id", "embedding", queryVec(spark, dir), k = 10)
  }

  /** The LEARNED-quantizer IVF index: no label column consumed — cells
    * come from [[Ann.build]] (deterministic spherical
    * k-means, K ≈ √(n/8)). Built once per corpus snapshot.
    */
  private def ivfKmeansIndexFor(spark: SparkSession, dir: String): String =
    IndexStore.ensure("ivfkmeans", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      val emb = Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0).drop("label")
      val k = math.max(4, math.ceil(math.sqrt(emb.count().toDouble / 8)).toInt)
      Ann.build(emb, "vec_id", "embedding", tmp, Ann.Exact, Ann.Ivf(k = k, coarseIters = 5))
    }

  /** E2 — IVF probe over the LEARNED coarse quantizer (the real-corpus
    * path: no precomputed cell labels exist at 100 TB). Oracle-gated
    * since round 13: the 1e-9-quantized k-means update made the
    * iterative learning SQL-expressible
    * ([[Similarity.ivfKmeansProbeOracleSql]] unrolls learn → final
    * assignment → served-centroid ranking → brute top-k within the
    * probed cells), closing the engine's last no-oracle query.
    * RecallSpec's ≥0.8 recall@10 floor still gates QUALITY (a
    * hash-exact probe can still be a bad quantizer).
    */
  def ivfProbeKmeans(spark: SparkSession, dir: String): DataFrame =
    Ann.probe(spark, ivfKmeansIndexFor(spark, dir), Ann.Ivf(nprobe = 2),
      "vec_id", "embedding", queryVec(spark, dir), k = 10)

  /** The composed IVF-ADC index ([[Ann.build]]): 8 learned
    * coarse cells × (4 × 16)-codeword PQ, built once per corpus
    * snapshot.
    */
  /** E2 — COMPOSED IVF-SQ8 probe ([[Ann.build]] /
    * [[Ann.probe]]): the FAISS "IVF,SQ8" pairing — coarse
    * cells × per-dim affine 8-bit codes, probe pruned to ≤ nprobe cells
    * on both the code scan and the rerank read. Probe-only behind
    * [[IndexStore.ensure]].
    */
  def ivfSq8Topk(spark: SparkSession, dir: String): DataFrame = {
    val idx = IndexStore.ensure("ivfsq8", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0).drop("label"),
        "vec_id", "embedding", tmp, Ann.SQ8(dim = 64), Ann.Ivf(k = 8))
    }
    Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      queryVec(spark, dir), k = 10, rerank = 50)
  }

  private def ivfPqIndexFor(spark: SparkSession, dir: String): String =
    IndexStore.ensure("ivfpq", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0).drop("label"),
        "vec_id", "embedding", tmp, Ann.PQ(dim = 64, m = 4, ksub = 16), Ann.Ivf(k = 8))
    }

  /** E2 — the production billion-scale ANN probe (VERDICT r13 #1,
    * IVF-ADC): cells ranked against the K-row centroids table, ADC
    * over ONLY the 2 best cells' persisted codes (partition-pruned —
    * the scan reads corpus·nprobe/K code rows, ~12 B each), 50
    * candidates exact-reranked against the pruned vectors. The whole
    * learn → encode → probe chain is hash-gated
    * ([[Similarity.ivfPqOracleSql]] composes the coarse-k-means and
    * PQ quantized unrolls); RecallSpec holds the composed recall
    * floor at ≥ 0.9.
    */
  def ivfPqTopk(spark: SparkSession, dir: String): DataFrame =
    Ann.probe(spark, ivfPqIndexFor(spark, dir), Ann.Ivf(nprobe = 2),
      "vec_id", "embedding", queryVec(spark, dir), k = 10, rerank = 50)

  /** E2 — BATCH IVF-ADC ([[Ann.probeBatch]]): 3 queries
    * rank cells, ADC-scan, and exact-rerank in ONE set of distributed
    * joins — the retrieval-pipeline serving shape (a driver loop of
    * single probes is N jobs; the batch is one). Corpus = vec_id ≥ 3,
    * queries = vec_id < 3; every window partitions by qid; hash-gated
    * end to end by the per-qid-joined composition of the same
    * quantized unrolls.
    */
  def ivfPqBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = IndexStore.ensure("ivfpqb", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(emb.filter(col("vec_id") >= 3).drop("label"),
        "vec_id", "embedding", tmp, Ann.PQ(dim = 64, m = 4, ksub = 16), Ann.Ivf(k = 8))
    }
    Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, rerank = 50)
  }

  /** E2 — RESIDUAL IVF-ADC ([[Ann.build]], the
    * classic Jégou 2011 IVFADC): PQ codes quantize v − c(v), probes add
    * the cell's q·c back — within-cell resolution the raw-code form
    * lacks at the same bit budget. Same pruned probe shape as
    * `ivf_pq_topk`; hash-gated end to end.
    */
  def ivfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val idx = IndexStore.ensure("ivfpqres", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(Tables.embeddings(spark, dir).filter(col("vec_id") =!= 0).drop("label"),
        "vec_id", "embedding", tmp, Ann.PQ(dim = 64, m = 4, ksub = 16, residual = true),
        Ann.Ivf(k = 8))
    }
    Ann.probe(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      queryVec(spark, dir), k = 10, rerank = 50)
  }

  /** E2 — RESIDUAL × BATCH (VERDICT r14 #4, the production pair:
    * residual accuracy at the same bit budget × one-distributed-pass
    * serving): [[Ann.probeBatch]] auto-detects the
    * [[Ann.build]] layout and joins the broadcast
    * K-row quantizer for the per-(query, cell) q·c terms — the batch
    * twin of the single probe's literal CASE. Corpus = vec_id ≥ 3,
    * queries = vec_id < 3, windows all qid-partitioned; hash-gated by
    * [[Similarity.ivfPqResidualBatchOracleSql]].
    */
  def ivfPqResidualBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idx = IndexStore.ensure("ivfpqresb", spark, Seq(s"$dir/embeddings.parquet")) { tmp =>
      Ann.build(emb.filter(col("vec_id") >= 3).drop("label"),
        "vec_id", "embedding", tmp, Ann.PQ(dim = 64, m = 4, ksub = 16, residual = true),
        Ann.Ivf(k = 8))
    }
    Ann.probeBatch(spark, idx, Ann.Ivf(nprobe = 2), "vec_id", "embedding",
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 10, rerank = 50)
  }

  /** Multimodal — fixed 64-char payload chunking with per-chunk digest
    * ([[Multimodal.chunkPayload]] — the pre-decode chunking stage).
    */
  def payloadChunks(spark: SparkSession, dir: String): DataFrame =
    Multimodal.chunkPayload(Tables.documents(spark, dir), "doc_id", "text")

  /** E2 — int8 quantization accounting per vector ([[Similarity.quantizeStats]]). */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeStats(Tables.embeddings(spark, dir), "vec_id", "embedding")

  /** E2 — per-label centroid norms (IVF cluster-reduce). */
  def embedCentroids(spark: SparkSession, dir: String): DataFrame =
    Similarity.centroidNorms(Tables.embeddings(spark, dir), "label", "embedding")

  // ---------------------------------------------------------- multimodal

  /** Multimodal metadata plumbing over an opaque payload column: byte
    * length, digest and head, one narrow projection (no pixel decode).
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        md5(col("text")).as("content_digest"),
        substring(col("text"), 1, 8).as("head"))

  /** Real image-header decode end-to-end: a valid PNG/GIF/JPEG container
    * is synthesized per document (format and dimensions arithmetic in
    * doc_id), then [[Multimodal.withImageDims]] parses the dimensions
    * BACK out of the raw bytes with the real header parser
    * ([[Multimodal.parseImageDims]]) — the oracle recomputes the same
    * numbers arithmetically, so any parser or builder offset error
    * hash-mismatches. The binary payload is born and dies inside one
    * partition-local pipeline: nothing but (id, format, dims) survives.
    */
  def imageDims(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val payloads = ids.mapPartitions(_.map { id =>
      val fmt = (id % 3) match { case 0 => "png"; case 1 => "gif"; case _ => "jpeg" }
      val w = (16 + id % 1000).toInt
      val h = (16 + (id * 7) % 1000).toInt
      (id, Multimodal.syntheticImage(fmt, w, h))
    }).toDF("doc_id", "payload")
    Multimodal.withImageDims(payloads, "payload")
      .select(col("doc_id"), col("img_format"), col("width"), col("height"))
  }

  /** E4 — REAL audio-container metadata, end to end: a canonical PCM
    * WAV is built per doc (parameters derived from doc_id), then
    * [[Multimodal.withAudioMeta]] parses channels / rate / bits /
    * duration BACK off the RIFF chunk walk
    * ([[Multimodal.parseWavMeta]]); the oracle recomputes the planted
    * numbers arithmetically — same proof shape as [[imageDims]].
    */
  def audioMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val payloads = ids.mapPartitions(_.map { id =>
      val ch = (1 + id % 2).toInt
      val rate = (8000 * (1 + id % 5)).toInt
      val n = (100 + id % 900).toInt
      (id, Multimodal.syntheticWav(ch, rate, 16, n))
    }).toDF("doc_id", "payload")
    Multimodal.withAudioMeta(payloads, "payload")
      .select(col("doc_id"), col("channels"), col("sample_rate"),
        col("bits"), col("duration_ms"))
  }

  /** E4 — REAL video-container metadata, end to end: a valid ISO BMFF
    * (MP4) file is built per doc — `ftyp` + `moov/mvhd` + video
    * `trak/tkhd`, parameters arithmetic in doc_id, timescale varied per
    * row — then [[Multimodal.withVideoMeta]] walks the box tree BACK
    * out of the raw bytes ([[Multimodal.parseMp4Meta]]): brand, movie
    * duration via timescale math, 16.16-fixed dimensions, track count.
    * The oracle recomputes the planted numbers arithmetically — same
    * proof shape as [[imageDims]]/[[audioMeta]].
    */
  def videoMeta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val payloads = ids.mapPartitions(_.map { id =>
      val w = (16 + id % 640).toInt
      val h = (16 + (id * 3) % 480).toInt
      val durMs = 500L + id % 10000
      val ts = 1000L * (1 + id % 3)
      (id, Multimodal.syntheticMp4(w, h, durMs, ts, extraTracks = (id % 2).toInt))
    }).toDF("doc_id", "payload")
    Multimodal.withVideoMeta(payloads, "payload")
      .select(col("doc_id"), col("brand"), col("duration_ms"),
        col("width"), col("height"), col("n_tracks"))
  }
}
