package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Portable.pround

/** Deduplication operators for large text corpora (build brief E1):
  * exact, MinHash+LSH, SimHash, and n-gram Jaccard — each a reusable
  * DataFrame→DataFrame operator parameterized on the id/text columns.
  *
  * Hashing is md5-derived throughout (see ExtQueries scaladoc) so every
  * operator is exactly reproducible in ANSI SQL for oracle testing —
  * and deterministic across runs/cluster sizes, which production dedup
  * pipelines need for idempotent re-runs.
  *
  * Scale design:
  *   - exact/fingerprint shuffle 32-byte digests, never document bodies;
  *   - MinHash-LSH is the candidate generator (join on band buckets
  *     only — no all-pairs stage exists in any plan here);
  *   - `ngramJaccardPairs` is the exact all-pairs verifier, prefix-
  *     filtered (ppjoin) so its collision join touches only each doc's
  *     rarest shingles — sub-quadratic under vocabulary saturation and
  *     still exactly equal to the exhaustive join; LSH + verify
  *     (`verifyCandidates`) remains the recall-tunable scale path.
  */
object Dedup {

  /** Portable 32-bit string hash (md5-hex prefix as long).
    *
    * Was `conv(substring(md5(c), 1, 8), 16, 10).cast("long")`; the
    * native [[graft.functions.Md5Prefix]] computes the SAME value —
    * spec-pinned against the conv form — without materializing the
    * 32-char hex string and re-parsing its prefix as base-16 text per
    * value (VERDICT r18 #4: the hex round-trip was ~a third of the
    * serial shingle-hash stage under the dedup family).
    */
  def h32(c: Column): Column = graft.functions.GraftFunctions.md5_prefix(c, 8)

  /** Portable 60-bit string hash (15 md5-hex chars as long). 15 chars —
    * not 16 — so the value stays below 2^60: a full 16-char prefix can
    * exceed 2^63 and lands in BIGINT sign-bit territory, where Spark and
    * SQL engines diverge on overflow behavior. 60 bits keeps every
    * shift/mask/sum below the sign bit on both sides of the oracle.
    * Native md5-prefix — see [[h32]].
    */
  def h60(c: Column): Column = graft.functions.GraftFunctions.md5_prefix(c, 15)

  /** Exact dedup on a content digest: one row per distinct content with
    * the minimum id as canonical and the copy count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as(s"canonical_$idCol"), count(lit(1)).as("n_copies"))

  /** Normalized content fingerprint (lower + whitespace collapse). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      md5(lower(regexp_replace(col(textCol), "\\s+", " "))).as("fingerprint"))

  /** Distinct word n-gram shingles: (id, shingle). Narrow + distinct —
    * the input to both MinHash and exact-Jaccard.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    rawShingles(df, idCol, textCol, n).distinct()

  /** Exploded shingles BEFORE distinct: (id, shingle), duplicates kept. */
  private def rawShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("w"))
      // guard: size(w) < n would make sequence() count DOWN and emit
      // garbage shingles from negative indices — such docs have none
      .select(col(idCol), explode(expr(
        s"""if(size(w) < $n, array(),
           |   transform(sequence(0, size(w)-$n),
           |             i -> concat_ws(' ', ${(0 until n).map(k => s"w[i+$k]").mkString(", ")})))"""
          .stripMargin))
        .as("shingle"))

  /** Distinct 32-bit-hashed shingles: (id, h). The hash is applied
    * BEFORE the distinct, so the dedup shuffle carries 8-byte longs
    * instead of ~n-word strings — the only shuffle in the pipeline
    * whose width scales with shingle text. Semantically identical to
    * `shingles(...).select(h32)` for every consumer: MinHash takes a
    * duplicate-insensitive `min` per hash, and the Jaccard/decontam
    * paths re-distinct on the hash anyway — a rare h32 collision
    * conflates the same shingle pair in both formulations (and in the
    * oracle SQL, which distincts after hashing too).
    */
  def hashedShingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    rawShingles(df, idCol, textCol, n)
      .select(col(idCol), h32(col("shingle")).as("h"))
      // partition by the DOC ID alone, then dedup: HashPartitioning(id)
      // satisfies the distinct's ClusteredDistribution(id, h) AND every
      // downstream per-doc consumer — the MinHash signature aggregate,
      // the Jaccard size aggregate and the candidate-id semi-join all
      // key on the id — so the whole per-doc half of the pipeline runs
      // off ONE exchange where the (id, h)-partitioned distinct forced
      // a second (and third) id-keyed exchange behind it (guide §2.4:
      // two operations keyed the same way share one exchange). In-doc
      // shingle repeats are rare (3-gram boilerplate inside one doc),
      // so forgoing the (id, h) partial-aggregate combine costs ~no
      // extra shuffle bytes.
      //
      // Deliberately NOT widened ahead of the explode (the round-18
      // spread that pays off in [[substringSpans]]/[[chunkDedup]]): the
      // exploded stream here has MANY consumers, and a pre-explode
      // exchange stacked under this one defeated AQE's stage reuse —
      // the explode re-ran once per consumer (measured: dedup_verified
      // 2.7 s → 3.3-8.3 s across the variants). The single post-explode
      // exchange keeps the explode executed exactly once.
      .repartition(col(idCol))
      .distinct()

  private val MersennePrime = 2147483647L

  /** MinHash-LSH candidate pairs (id_a < id_b, distinct). `k` hashes in
    * `bands` bands of k/bands rows; banding threshold ≈ (1/b)^(1/r).
    * One pass over shingles (k parallel min-aggregates), one band-bucket
    * join.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame =
    lshPairsFromShingles(hashedShingles(df, idCol, textCol, shingleN), idCol, k, bands)

  /** [[minhashLshPairs]] over an already-hashed shingle set (id, h) —
    * the shared-subtree form: callers that also verify ([[verifyCandidates]])
    * pass the SAME shingle DataFrame to both stages, so the shingle
    * explode + distinct (the pipeline's one wide, corpus-proportional
    * shuffle) has ONE canonical subtree in the final plan and Spark's
    * exchange reuse executes it once for every consumer.
    */
  /** The `k` MinHash min-aggregates over a hashed shingle column. */
  private def minhashCols(k: Int): Seq[Column] = (0 until k).map { j =>
    min((col("h") * (2 * j + 1) + j * 7919 + 1) % MersennePrime).as(s"mh$j")
  }

  private[ext] def lshPairsFromShingles(sh: DataFrame, idCol: String,
      k: Int = 16, bands: Int = 4): DataFrame = {
    val mins = minhashCols(k)
    lshPairsFromSigs(
      sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*), idCol, k, bands)
  }

  /** The band-bucket self-join over an already-aggregated signature
    * table (id, mh0..mh{k-1}[, extra cols]) — factored from
    * [[lshPairsFromShingles]] so [[verifyCandidates]] can feed it the
    * SAME per-doc aggregate that carries its verify arrays: the shingle
    * pipeline then has exactly ONE consumer (AQE's exchange-stage reuse
    * demonstrably does not bridge the self-join-shaped references — the
    * explode + md5 executed twice, measured ~0.6-0.9 s per extra run at
    * sf0.1).
    */
  private[ext] def lshPairsFromSigs(sigs: DataFrame, idCol: String,
      k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    val stackArgs = (0 until bands).map { b =>
      val slots = (0 until rows).map(r => s"mh${b * rows + r}")
      s"${b}L, concat_ws(',', ${slots.mkString(", ")})"
    }.mkString(", ")
    val banded = sigs.selectExpr(idCol, s"stack($bands, $stackArgs) as (band, sig)")
    // SHUFFLE the band self-join, never broadcast: a broadcast build
    // side is a SECOND full execution of the shingle→distinct→signature
    // pipeline (a BroadcastExchange cannot reuse the shuffle exchange
    // the probe side reads), measured as the dominant duplicated stage
    // at fixture scale — while at corpus scale the signature table is
    // far past any broadcast threshold anyway, so the shuffle form is
    // the only one that survives 100 TB. With both sides shuffled, the
    // two (band, sig) exchanges are canonically identical and plan as
    // ONE ReusedExchange: the signature pipeline executes exactly once.
    banded.as("a").hint("shuffle_hash")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard similar pairs at `threshold` (on the pround-ed
    * value) via PREFIX FILTERING (the all-pairs/ppjoin family — Bayardo
    * et al. WWW'07, Xiao et al. WWW'08): each document's shingle hashes
    * are ordered by a global total order (corpus doc-frequency, ties by
    * hash) and only each doc's first `n − ⌈tₑ·n⌉ + 1` shingles — its
    * PREFIX — enter the collision self-join.
    *
    * Exactness (the prefix lemma): if J(a,b) ≥ t then |a∩b| ≥ ⌈t·max(n_a,
    * n_b)⌉ = α, and two sets whose prefixes of length n−α+1 are disjoint
    * share < α elements (the smallest common element, in the order, lies
    * inside both prefixes or the overlap is ≤ n−prefix = α−1). So every
    * qualifying pair collides inside the prefixes — zero false negatives
    * at ANY threshold on ANY data — and the exact verify below removes
    * all false positives. Results are therefore IDENTICAL to the
    * exhaustive collision join ([[ngramJaccardPairsExhaustive]], pinned
    * by ExtOpsSpec's identity specs — two thresholds on real text plus
    * the adversarial boundary-pair fixture below), while the join
    * touches only prefix buckets: rare shingles by construction, so
    * Σ(bucket²) stays near-linear where the exhaustive join's Σ(df²)
    * goes quadratic under a saturated/boilerplate-heavy vocabulary.
    *
    * Two further exact prunes inside the join (ppjoin): the LENGTH
    * filter (min(n_a,n_b) ≥ tₑ/(1+tₑ)·(n_a+n_b), else J < tₑ is forced)
    * and the POSITIONAL filter (a collision at ranks (r_a, r_b) leaves
    * at most 1 + min(n_a−r_a, n_b−r_b) common elements).
    *
    * THE EFFECTIVE PRUNING THRESHOLD tₑ = t − 5e-5: the verify keeps a
    * pair when its 4-digit-rounded Jaccard ≥ t, i.e. raw J down to
    * t − 5e-5 (half-ULP of `pround(·,4)`). Prunes computed from raw t
    * would be allowed to drop a boundary pair with raw J ∈ [t−5e-5, t)
    * that the rounded verify keeps — reachable once docs carry ≳ t/5e-5
    * distinct shingles — silently breaking the identity with the
    * exhaustive join (whose only filter IS the rounded verify). All
    * three prunes (prefix length, length filter, positional filter)
    * therefore use tₑ, admitting every pair the rounded verify can
    * keep; a further 1e-9 slack guards FP rounding on top, so both can
    * only ADMIT extra candidates (removed by verify), never drop one.
    *
    * Verify is per-candidate-pair `array_intersect` over the docs'
    * sorted hash arrays — linear in candidates × doc length, never a
    * second corpus collision join. All shuffles are linear-width (the
    * per-doc aggregation is the wide one; the df computation and its
    * join back to the shingle set add corpus-proportional but
    * linear-width shuffles on `h`); the prefix join carries
    * ≤ ~(1−t)·|shingles| rows.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, shingleN: Int = 3): DataFrame =
    // the RAW (pre-distinct) hashed stream: ppjoin partitions by the
    // shingle hash and dedups there — one flat exchange instead of
    // [[hashedShingles]]' id-keyed one with a second h-keyed exchange
    // stacked on top, which AQE's stage reuse demonstrably cannot
    // bridge across the pipeline's multiple references (the explode +
    // md5 re-ran per consumer; see ppjoinFromShingles)
    ppjoinFromShingles(
      rawShingles(df, idCol, textCol, shingleN)
        .select(col(idCol), h32(col("shingle")).as("h")),
      idCol, threshold)

  /** The ppjoin core of [[ngramJaccardPairs]] over an already-hashed
    * shingle set `(idCol, h)` — factored out so the exactness identity
    * (vs [[jaccardFromShingles]]) is testable on CRAFTED shingle sets,
    * in particular the boundary-pair fixture (raw J ∈ [t−5e-5, t),
    * rounded J ≥ t, uniques globally rarest) that raw-t prunes would
    * drop — ExtOpsSpec pins it.
    */
  private[ext] def ppjoinFromShingles(sh: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val t = threshold
    val te = t - 5e-5 // effective PRUNING threshold — see scaladoc above
    // ONE h-keyed exchange — placed DIRECTLY over the explode chain, no
    // exchange stacked below it — serves the in-doc dedup
    // (HashPartitioning(h) satisfies the (id, h) distinct's clustering),
    // the document-frequency count AND the join back (the
    // [[substringSpans]] shared-exchange shape). Stacked exchanges are
    // one measured reuse-killer (with the id-keyed [[hashedShingles]]
    // exchange underneath, the explode + md5 ran once per consumer);
    // per-branch COLUMN PRUNING is the other — the df-count branch
    // prunes to (h) and the join branch keeps (id, h), pushing two
    // DIFFERENT projections below the exchange, so the two stage
    // subtrees stop being canonically equal and AQE materializes both.
    // The [[graft.plans.Fence]] pins one subtree for every consumer
    // (its inputs are already minimal — id and h), making the exchange
    // reusable: the explode + md5 runs exactly once.
    val shH = graft.plans.Fence.wrap(sh.repartition(col("h")).distinct())
    val dfreq = shH.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // one aggregation yields both the rarity-ranked prefix source and
    // the verify arrays; docs are row-local (bounded shingle counts).
    // The aggregate is ANCHORED on an explicit id-keyed exchange: the
    // docs table is referenced four ways (prefix explode ×2 sides,
    // verify ×2 sides), and AQE's stage reuse bridges aliased references
    // only when they sit directly on one exchange (the verifyCandidates
    // shape) — without the anchor each reference re-ran the whole
    // join + explode chain (measured: two extra ~1 s stages at sf0.1).
    val docs = shH.join(dfreq, "h")
      .repartition(col(idCol))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("byRarity"))
      .withColumn("n", size(col("byRarity")))
      .withColumn("hs", array_sort(expr("transform(byRarity, x -> x.h)")))
    val pref = docs
      .select(col(idCol), col("n"), posexplode(expr(
        s"slice(byRarity, 1, cast(n - ceiling($te * n - 1e-9) + 1 as int))")))
      .select(col(idCol), col("n"), (col("pos") + lit(1)).as("rn"),
        col("col.h").as("h"))
    def alpha(na: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
      lit(te / (1 + te)) * (na + nb) - lit(1e-9)
    val cands = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") < col(s"b.$idCol") &&
          least(col("a.n"), col("b.n")) >= alpha(col("a.n"), col("b.n")) &&
          (lit(1) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn"))) >=
            alpha(col("a.n"), col("b.n")))
      .select(col(s"a.$idCol").as("__ida"), col(s"b.$idCol").as("__idb"))
      .distinct()
    val dA = docs.select(col(idCol).as("__ida"), col("n").as("n_a"), col("hs").as("hs_a"))
    val dB = docs.select(col(idCol).as("__idb"), col("n").as("n_b"), col("hs").as("hs_b"))
    cands.join(dA, "__ida").join(dB, "__idb")
      .withColumn("n_common", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard", pround(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= t)
      .select(col("__ida").as(s"${idCol}_a"), col("__idb").as(s"${idCol}_b"),
        col("jaccard"))
  }

  /** The exhaustive form of [[ngramJaccardPairs]] — the full shingle-
    * collision join, Σ(df²) cost. Kept as the identity yardstick for
    * ExtOpsSpec (prefix-filtered results must equal it exactly) and for
    * callers that want the verifier semantics on an already-pruned set.
    */
  private[graft] def ngramJaccardPairsExhaustive(df: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.8, shingleN: Int = 3): DataFrame =
    jaccardFromShingles(
      hashedShingles(df, idCol, textCol, shingleN).withColumnRenamed("h", "shingle"),
      idCol, threshold)

  /** Exact Jaccard over an already-hashed shingle set (id, shingle) —
    * the shared-subtree form (see [[lshPairsFromShingles]]). No
    * .cache(): the shingle set is referenced three times (sizes and
    * both join sides), but all three references are the SAME canonical
    * subtree, so its distinct's shuffle plans once and exchange reuse
    * serves every consumer from the one shuffle output — which carries
    * 8-byte hashes, not shingle strings (hashedShingles hashes BEFORE
    * the distinct).
    */
  private[ext] def jaccardFromShingles(sh: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as(s"${idCol}_a"), col(s"b.$idCol").as(s"${idCol}_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed(idCol, s"${idCol}_a").withColumnRenamed("n", "n_a"), s"${idCol}_a")
      .join(sizes.withColumnRenamed(idCol, s"${idCol}_b").withColumnRenamed("n", "n_b"), s"${idCol}_b")
      .withColumn("jaccard",
        pround(col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("jaccard"))
  }

  /** Scale-path composition: exact-verify only the LSH candidates.
    * Returns candidate pairs annotated with exact Jaccard, filtered at
    * `threshold` — the production near-dup pipeline in one call.
    *
    * ONE shingle pipeline feeds both stages: the candidate generator's
    * min-hash signatures and the verifier's Jaccard sets derive from
    * the same `hashedShingles` subtree (the verifier's view is a
    * candidate-id semi-join of it, NOT a re-shingling of the candidate
    * documents), so the corpus-proportional explode + distinct shuffle
    * is planned once and exchange-reused — previously the verify side
    * re-shingled a `df`-semi-join subset, a structurally different
    * subtree Spark could not reuse, and the full LSH pipeline executed
    * again inside it.
    */
  def verifyCandidates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = 16, bands: Int = 4, shingleN: Int = 3): DataFrame = {
    val sh = hashedShingles(df, idCol, textCol, shingleN)
    // ONE per-doc aggregate carries BOTH stages' needs: the k MinHash
    // mins (the candidate generator's signature) and the sorted distinct
    // hash array (the verifier's Jaccard set — row-local, bounded by doc
    // length, the same shape [[ppjoinFromShingles]]' docs aggregate
    // already collects). The shingle explode + md5 pipeline therefore
    // has exactly ONE consumer and executes exactly once — the earlier
    // form re-read `sh` for the verify side and AQE's exchange-stage
    // reuse does not bridge self-join-shaped references (measured: the
    // explode ran twice, ~0.6-0.9 s per extra run at sf0.1). The verify
    // is then two id-keyed joins of the candidate pairs against this
    // aggregate: size(array_intersect) over distinct-element sorted
    // arrays IS the pair-count the shingle-collision join computed —
    // identical n_common, identical rounded Jaccard, identical rows.
    val mins = minhashCols(k)
    val docs = sh.groupBy(col(idCol)).agg(
      sort_array(collect_list(col("h"))).as("hs"), mins: _*)
    val cands = lshPairsFromSigs(docs, idCol, k, bands)
    val dA = docs.select(col(idCol).as(s"${idCol}_a"),
      size(col("hs")).cast("long").as("n_a"), col("hs").as("hs_a"))
    val dB = docs.select(col(idCol).as(s"${idCol}_b"),
      size(col("hs")).cast("long").as("n_b"), col("hs").as("hs_b"))
    cands.join(dA, s"${idCol}_a").join(dB, s"${idCol}_b")
      .withColumn("n_common",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jaccard", pround(col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("jaccard"))
  }

  /** Sub-document boilerplate removal (the C4/CCNet line-level dedup,
    * adapted to word-aligned CHUNKS since the corpus is unstructured
    * text): any `chunkWords`-word chunk appearing ≥ `boilerplateK`
    * times across the corpus is boilerplate (headers, footers,
    * templates, lorem) and is dropped from every document; documents
    * are reassembled from their surviving chunks in order.
    *
    * Scale shape: chunking is narrow (one explode); the frequency
    * count shuffles 8-byte chunk hashes with map-side combine; the
    * drop joins the corpus against only the chunks at count ≥ k —
    * small for typical boilerplate thresholds, in which case AQE turns
    * the join into a broadcast probe at runtime, but NOT forced: on a
    * duplicate-heavy corpus (this stage runs before content dedup) the
    * boilerplate set scales with the chunk vocabulary, and a forced
    * broadcast would be an unbounded driver collect — the planner's
    * size estimate decides. Reassembly is one groupBy on the doc id.
    * Two corpus passes total, like every counting dedup.
    *
    * Returns (idCol, clean_text, n_chunks, n_dropped) — one row per
    * input document, `clean_text` empty when everything was
    * boilerplate.
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkWords: Int = 10, boilerplateK: Int = 3): DataFrame = {
    val c = chunkWords
    // id-keyed spread ahead of the chunk explode (guide §2.5 via
    // [[graft.util.Scans.spread]]): the explode + h60 runs at executor
    // width instead of the single-row-group scan's one task, and the
    // reassembly groupBy(id) reuses the same partitioning when the
    // boilerplate join broadcasts (its usual shape), dropping its
    // exchange.
    val chunks = graft.util.Scans.spread(df, col(idCol))
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, cast(ceil(size(w) / $c.0D) as int) - 1)," +
          s" i -> concat_ws(' ', slice(w, i * $c + 1, $c)))")).as(Seq("pos", "chunk")))
      .withColumn("h", h60(col("chunk"))) // 60-bit: a 100 TB corpus has
      // billions of DISTINCT chunks — in a 2^32 space every bucket
      // conflates several, inflating counts past k and deleting unique
      // text as "boilerplate"; at 2^60 conflation is ~never
    val boiler = chunks.groupBy(col("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= boilerplateK)
      .select(col("h"), lit(true).as("__boiler"))
    chunks
      .join(boiler, Seq("h"), "left_outer")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list( // nulls (boilerplate) drop out
              when(col("__boiler").isNull, struct(col("pos"), col("chunk"))))),
            s => s.getField("chunk")),
          " ").as("clean_text"),
        count(lit(1)).as("n_chunks"),
        count(when(col("__boiler").isNotNull, 1)).as("n_dropped"))
  }

  /** Exact substring-duplication spans (the ExactSubstr operator of
    * Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better"): for every document, the maximal word spans whose
    * text also occurs elsewhere in the corpus (or again in the same
    * document) at length >= n words. Output is one row per merged
    * span: `(id, span_start, span_end, span_words)` with word offsets,
    * `span_end` exclusive — the span list a pipeline cuts out of the
    * training text.
    *
    * Distributed formulation (the paper builds a monolithic suffix
    * array, which has no linear-shuffle equivalent): any duplicated
    * substring of >= n words contains a duplicated n-gram, and every
    * position covered by SOME globally-duplicated n-gram window is
    * exactly a position inside a duplicated span of >= n words. So:
    * slide an n-word window over each doc, hash it ([[h60]] — the same
    * 2^60 collision argument as [[chunkDedup]]), count window hashes
    * corpus-wide, keep windows whose hash occurs >= minCount times,
    * and merge each doc's surviving windows [pos, pos+n) into maximal
    * islands (touching or overlapping windows coalesce).
    *
    * Scale shape: one linear groupBy on the 8-byte window hash + one
    * linear join back on the same key (the duplicated-window set is
    * corpus-proportional in the worst case, so it is NOT broadcast —
    * contrast [[contaminationFlags]] where the probe side is a small
    * benchmark); the island merge is a window partitioned by doc id,
    * bounded by document length. No stage is quadratic in corpus size.
    */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE exchange of the gram stream serves both consumers: the
    // corpus-wide window count keys on h and the join back keys on h,
    // but the lazy form could not share them — the count side's partial
    // aggregate sat BELOW its exchange, making the two exchange inputs
    // canonically different, so the explode + md5 gram pipeline executed
    // (and shuffled) TWICE (measured as two parallel corpus-scan stages
    // at fixture scale). Repartitioning the grams by h first puts both
    // the groupBy (complete mode, clustering satisfied) and the join on
    // top of the SAME shuffle: half the gram-stream shuffle bytes, one
    // gram materialization (guide §2.4). The forgone map-side combine
    // is ~free: globally duplicated grams are the minority by
    // construction, so partial counts barely shrank the stream.
    // spread the docs BEFORE the window explode (guide §2.5 via
    // [[graft.util.Scans.spread]]): the fixture corpus is one parquet
    // row group, so the n-gram explode + md5 — the operator's dominant
    // row-local work — otherwise runs in the scan stage's single task.
    // One tiny explicit-width exchange of raw docs buys executor-width
    // gram hashing; the gram stream's single consumer is the
    // repartition(h) exchange below, so no reuse hazard, and at corpus
    // scale the scan is already wide and the spread is the identity.
    // FENCED (the ppjoin lesson): the dup-count branch prunes the gram
    // stream to (h) while the join branch keeps (id, pos, h) — two
    // different projections below the shared h-exchange make the stage
    // subtrees canonically unequal and the explode + md5 runs once per
    // branch. The fence pins one subtree; the exchange reuses.
    val grams = graft.plans.Fence.wrap(
      graft.util.Scans.spread(df, col(idCol))
        .select(col(idCol), split(col(textCol), " ").as("w"))
        .filter(size(col("w")) >= n) // sequence(0, negative) would descend
        .select(col(idCol), posexplode(expr(
          s"transform(sequence(0, size(w) - $n)," +
            s" i -> concat_ws(' ', slice(w, i + 1, $n)))")).as(Seq("pos", "gram")))
        .select(col(idCol), col("pos"), h60(col("gram")).as("h"))
        .repartition(col("h")))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount).select(col("h"))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    grams.join(dup, Seq("h")) // inner: only duplicated windows survive
      .withColumn("e", col("pos") + lit(n))
      .withColumn("prevMaxE",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      // new island when this window starts past everything seen so far
      // (strictly after: touching windows share a duplicated region)
      .withColumn("isl", sum(
        when(col("prevMaxE").isNull || col("pos") > col("prevMaxE"), 1)
          .otherwise(0)).over(byDoc))
      .groupBy(col(idCol), col("isl"))
      .agg(min(col("pos")).as("s"), max(col("e")).as("e"))
      .select(col(idCol),
        col("s").cast("long").as("span_start"),
        col("e").cast("long").as("span_end"),
        (col("e") - col("s")).cast("long").as("span_words"))
  }

  /** Span EXCISION — the deliverable of Lee et al. 2021's ExactSubstr
    * operator: cut every duplicated span [[substringSpans]] finds out of
    * its document and reassemble the surviving text. Returns one row per
    * input document: (idCol, clean_text, n_words_kept, n_words_cut) —
    * `clean_text` empty when the whole document was duplicated text.
    *
    * Scale shape: the spans fold to ONE array row per affected doc
    * (islands are disjoint, their count is bounded by doc length / n),
    * so the cut is an equi-join on the doc id — never a per-word range
    * join — followed by a map-side indexed `filter` lambda over the
    * word array and one `array_join`. Docs with no duplicated span pass
    * through the left join unchanged. Word offsets follow
    * [[substringSpans]]: 0-based, span_end exclusive.
    */
  def substringCut(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, minCount: Int = 2): DataFrame = {
    val spans = substringSpans(df, idCol, textCol, n, minCount)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("__spans"))
    df.select(col(idCol), split(col(textCol), " ").as("__w"))
      .join(spans, Seq(idCol), "left_outer")
      .withColumn("__sp", coalesce(col("__spans"),
        expr("CAST(array() AS array<struct<s:BIGINT,e:BIGINT>>)")))
      .withColumn("__kept", filter(col("__w"), (w, i) =>
        !exists(col("__sp"), sp =>
          i.cast("long") >= sp.getField("s") && i.cast("long") < sp.getField("e"))))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__kept")).cast("long").as("n_words_kept"),
        (size(col("__w")) - size(col("__kept"))).cast("long").as("n_words_cut"))
  }

  /** Benchmark decontamination (the n-gram-overlap check every
    * pretraining pipeline runs before training): corpus documents that
    * share at least one word n-gram with any document of `bench` are
    * flagged with their overlapping-shingle count. The join is on the
    * 60-BIT shingle hash ([[h60]]) — 32 bits is measurably wrong at
    * scale: the false-flag floor is benchShingles/2^32 per corpus
    * shingle, and a 200k-doc bench (12M distinct shingles) already
    * false-flags ~17 % of a clean 10M-doc synthetic corpus (PERF.md,
    * "Decontamination"); at
    * 2^60 the same bench's floor is ~1e-10. Benchmarks are normally
    * tiny (eval sets), so the distinct-shingle set broadcasts and the
    * corpus makes ONE pass with a hash probe; no pairwise document
    * comparison exists in the plan.
    *
    * The broadcast is SIZE-GATED, not assumed: the gate measures the
    * bench's TOTAL shingle count — `Σ max(0, n_words-n+1)` per doc, a
    * narrow map-side sum over the bench with no shuffle, an upper
    * bound on the distinct count (so the gate errs toward the safe
    * side) — and a bench above `broadcastMaxShingles` (default 50M ≈
    * 400 MB of hashed longs) falls back to a shuffle join on the
    * shingle hash: the spill path for a "benchmark" that is really a
    * second corpus. The exact distinct count is deliberately NOT used
    * — it would cost a wide shuffle over the bench and a second
    * execution of the bench-shingle DAG exactly when the bench is
    * huge. The gate job runs when the frame is CONSTRUCTED (one small
    * aggregate; benchmarks are eval sets). The two paths are
    * flag-identical (spec-pinned); only the exchange strategy differs.
    */
  def contaminationFlags(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      broadcastMaxShingles: Long = 50000000L): DataFrame = {
    // hash BEFORE the distinct on both sides (the [[hashedShingles]]
    // argument, at h60's ~never collision odds): every corpus-side
    // exchange carries 8-byte hashes instead of ~n-word shingle STRINGS
    // (guide §2.3 "narrower types").
    val benchSh = rawShingles(bench, idCol, textCol, shingleN)
      .select(h60(col("shingle")).as("s")).distinct()
    val benchShinglesUpper = bench.select(coalesce(
      sum(greatest(size(split(col(textCol), " ")) - (shingleN - 1), lit(0))),
      lit(0L))).head().getLong(0)
    // the corpus text spreads to executor width BEFORE the shingle
    // explode (guide §2.5 — the explode+md5 otherwise runs at the scan's
    // partition count, a serial stage at bench scale; width-gated
    // identity on a corpus-scale scan), keyed by the doc id so the
    // spread exchange carries each (id, text) row once — FEWER bytes
    // than the post-explode (id, hash) shuffle it replaces (~6 B/word of
    // text vs 16 B/shingle of hash pairs).
    val corpusSh = rawShingles(
      graft.util.Scans.spread(corpus.select(col(idCol), col(textCol)),
        col(idCol)),
      idCol, textCol, shingleN)
      .select(col(idCol), h60(col("shingle")).as("s"))
    if (benchShinglesUpper <= broadcastMaxShingles) {
      // broadcast path: the bench probe FILTERS in the explode stage, so
      // the id-keyed exchange ahead of the distinct+count carries ONLY
      // matching (id, s) pairs — on a clean corpus nearly nothing
      // (guide §2.3 "shuffle fewer bytes": filter before the exchange).
      // distinct ≡ join-then-distinct because the bench side is a set.
      // The count's groupBy reuses the distinct's id-clustering (§2.4).
      corpusSh.join(broadcast(benchSh), "s")
        .repartition(col(idCol))
        .distinct()
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_overlap"))
    } else {
      // shuffle fallback (a "benchmark" that is really a second corpus):
      // dedup (id, s) BEFORE the s-keyed join shuffle — repeated
      // shingles inside a doc must not pay the join exchange twice.
      // Flag-identical to the broadcast path (spec-pinned); only the
      // exchange strategy differs.
      corpusSh
        .repartition(col(idCol))
        .distinct()
        .join(benchSh, "s")
        .groupBy(col(idCol))
        .agg(count(lit(1)).as("n_overlap"))
    }
  }

  /** Connected components over a near-dup pair list: every doc gets
    * `comp` = the smallest doc id in its transitive near-dup cluster —
    * the canonical-representative assignment a dedup pipeline applies
    * after pair verification (keep `comp`, drop the rest).
    *
    * The distributed path is alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond"): each round rewires every node's larger neighbors
    * (large-star) and then its smaller neighbors plus itself
    * (small-star) to the minimum of the neighborhood, halving the
    * effective diameter — O(log n) rounds on ANY component shape. The
    * earlier min-label propagation needed O(diameter) rounds, which is
    * fine for the common pair/triple near-dup clusters but degenerate
    * on a chain-shaped component (template drift over time — real in
    * web corpora): a 10k-long chain meant 10k Spark jobs. Convergence
    * is a count+hash signature of the edge multiset going stable (one
    * small aggregate per round). The driver loop schedules Spark jobs;
    * no data is collected.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // Integral ids are the API contract — BOTH paths need them (the
    // driver union-find collects ids as longs; the distributed loop's
    // label-sum convergence check needs a numeric comp). Checked here
    // so the two paths cannot silently diverge on exotic id types: a
    // string id used to NPE in the driver path only.
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    Seq(aCol, bCol).foreach { c =>
      val dt = pairs.schema(c).dataType
      require(integral.contains(dt),
        s"connectedComponents requires integral id columns; '$c' is $dt — " +
          "map ids to longs (e.g. hash or dense-rank) before calling")
    }
    // Canonical ORIENTED edge set (src > dst, self-loop-free, distinct):
    // exactly what both paths consume — the driver union-find is
    // direction-agnostic and [[starContraction]] wants this orientation.
    // The earlier form materialized the DOUBLED (both-direction) set and
    // re-oriented it for the star path: one distinct over 2|E| rows plus
    // a vestigial `repartition(dst)` exchange left over from the retired
    // min-label loop — both gone (guide §2.4: a repartition nobody's key
    // needs is a pure extra shuffle). Self-loop-only nodes drop out of
    // BOTH paths exactly as before (the union-find never created a
    // parent entry for them; the star path filtered src > dst).
    val oriented = pairs
      .select(greatest(col(aCol), col(bCol)).as("src"),
        least(col(aCol), col(bCol)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().cache()
    // The verified-pair list is the SMALL product of near-dup detection
    // (LSH already pruned the corpus² space), so an edge list that fits
    // the driver budget runs union-find at the driver — the same
    // size-based reasoning as broadcasting a small join side. An edge
    // is charged as a two-value row, which covers the map entry, id and
    // output row it adds. Above the budget the distributed
    // star-contraction loop takes over on the cached set.
    val edges = oriented.select(col("src").cast("long"), col("dst").cast("long"))
    try graft.util.DriverBudget.collect(edges, graft.util.DriverBudget.fixedRowBytes(2)) match {
      case Some(probe) =>
        val spark = pairs.sparkSession
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        probe.foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { // smaller root wins → comp = min id of cluster
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val ids = (parent.keySet ++ parent.values).toSeq
        import spark.implicits._
        ids.map(id => (id, find(id))).toDF("id", "comp")
      case None => starContraction(oriented, maxIter)._1
    } finally oriented.unpersist()
  }

  /** Alternating large-star/small-star contraction over an ORIENTED
    * (src > dst, self-loop-free) edge list; returns the `(id, comp)`
    * labeling (comp = min id of the component; nodes that appear in at
    * least one edge) and the number of rounds executed.
    *
    * Per round (Kiveris et al. 2014):
    *   - large-star(u): with m = min(Γ(u) ∪ {u}), rewire every STRICTLY
    *     LARGER neighbor v > u to m — emitted edges stay oriented since
    *     m ≤ u < v;
    *   - small-star(u): over the rewired list (grouped by the larger
    *     endpoint), with m = min of u's smaller neighbors, rewire those
    *     neighbors and u itself to m.
    * Both halves are one groupBy-min + one key-partitioned join each, so
    * a round is a fixed number of shuffles whose volume SHRINKS as stars
    * form; total rounds are O(log n) on any component shape (measured
    * ≤ log₂(n)+2 on a pure chain, the worst case for the min-label
    * propagation this replaced). Convergence = the (count, hash-sum)
    * signature of the edge multiset repeating — one tiny aggregate per
    * round, no per-row compare pass.
    *
    * Each round's output is an EAGER localCheckpoint, not a cache: the
    * round's plan references the previous round's subtree four times
    * (two neighbor directions × join + groupBy), so a cached-but-lazy
    * lineage grows ~4^rounds — at seven rounds Spark OOMs just
    * RENDERING the plan string for the cache name. The checkpoint
    * flattens the logical plan to the materialized rows; superseded
    * round RDDs are freed by the context cleaner, and round outputs
    * shrink geometrically as stars form, so peak block storage is a
    * small multiple of the input edge list.
    */
  def starContraction(oriented: DataFrame, maxIter: Int = 30): (DataFrame, Int) = {
    // xor-fold, not sum: order-independent over the distinct edge set
    // and immune to ANSI long-overflow, which a 64-bit hash sum trips
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edges = oriented.select(col("src"), col("dst")).localCheckpoint(true)
    var s = sig(edges)
    var rounds = 0
    var done = false
    while (!done && rounds < maxIter) {
      rounds += 1
      // large-star over FULL neighborhoods (both directions of the
      // oriented list)
      val nbrs = edges.select(col("src").as("u"), col("dst").as("v"))
        .union(edges.select(col("dst").as("u"), col("src").as("v")))
      val mins = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      // small-star: ls is oriented (src > dst) by construction
      val smins = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val ss0 = ls.join(smins, "src")
        .select(col("dst").as("node"), col("m"))
        .union(smins.select(col("src").as("node"), col("m")))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("src"), col("m").as("dst"))
        .distinct()
      val next = ss0.localCheckpoint(true)
      val s2 = sig(next)
      edges = next
      if (s2 == s) done = true else s = s2
    }
    val labels = edges.select(col("src").as("id"), col("dst").as("comp"))
      .union(edges.select(col("dst").as("id"), col("dst").as("comp")))
      .distinct()
    (labels, rounds)
  }

  /** Canonical-representative reduction over a component labeling (the
    * step after [[connectedComponents]] that actually SHRINKS the
    * corpus): per near-dup cluster, the representative is the minimum
    * member id — which IS the component label, by the min-label
    * construction — and the rest of the cluster is accounted as pruned
    * weight (chars, tokens, bytes — whatever `weightCol` carries).
    * One key-partitioned aggregate over the labeling joined to the
    * per-doc attributes; the labeling is pair-bounded (only docs in
    * verified pairs appear), so the join's left side is tiny relative
    * to the corpus and the attributes side prunes to the join keys.
    */
  def componentReps(comps: DataFrame, attrs: DataFrame, idCol: String,
      compCol: String, weightCol: String): DataFrame =
    comps.join(attrs, idCol)
      .groupBy(col(compCol).as("rep_doc"))
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col(idCol) =!= col(compCol), col(weightCol)).otherwise(lit(0L)))
          .cast("long").as(s"${weightCol}_pruned"))

  /** Component representatives chosen by QUALITY, not by id — the
    * keep-best-duplicate policy a training-data pipeline actually ships
    * (of a near-dup cluster, keep the highest-`scoreCol` member; ties
    * broken by lowest id so the choice is deterministic). ONE
    * aggregation per component: `min_by` over (−score, id) picks the
    * rep, its score and its weight in the same partial-aggregated pass
    * that counts members and sums weights — no second join back, no
    * window. Same 100 TB shape as [[componentReps]]: the only shuffle
    * is the groupBy on the component key.
    *
    * The tiebreak negates the SCORE (numeric by contract — it is a
    * quality score), never the id, so `idCol` may be any orderable type
    * (Long doc ids, string DIDs/URIs alike): a negated STRING id would
    * cast to a null double under non-ANSI SQL and silently
    * de-determinize the choice (ADVICE r11).
    */
  def componentRepsBy(comps: DataFrame, attrs: DataFrame, idCol: String,
      compCol: String, scoreCol: String, weightCol: String): DataFrame = {
    def pref = struct((-col(scoreCol)).as("ns"), col(idCol))
    comps.join(attrs, idCol)
      .groupBy(col(compCol))
      .agg(
        min_by(col(idCol), pref).as("rep_doc"),
        max(col(scoreCol)).as(s"rep_$scoreCol"),
        count(lit(1)).as("n_members"),
        (sum(col(weightCol)) - min_by(col(weightCol), pref))
          .cast("long").as(s"${weightCol}_pruned"))
      .drop(compCol)
  }

  /** SimHash near-pairs within Hamming distance `maxDist` (< 4):
    * pigeonhole banding over the 60-bit signature — a pair differing in
    * ≤3 of the 4 15-bit pieces must agree on at least one piece, so
    * candidates come from an equi-join on (piece index, piece value)
    * and only candidates pay the `bit_count(xor)` verify. No all-pairs
    * stage: cost is Σ bucket² over a 4×32,768-key bucket space (the
    * earlier 32-bit/byte banding had a FIXED 4×256 keys, making even
    * uniform data n²/64 — structurally quadratic).
    *
    * `maxBucket` is the hot-bucket cap: (piece, value) buckets holding
    * more than this many docs are skipped entirely. Hot buckets are
    * boilerplate clusters — k docs sharing a piece contribute k²
    * candidates while the piece carries no discriminating signal, the
    * same reason search engines drop stopwords from posting-list
    * intersection. The cap bounds worst-case candidate volume at
    * n·maxBucket regardless of corpus skew; the recall trade (a pair
    * whose ONLY agreeing piece is hot is missed) is the standard
    * production LSH posture. The cap is part of the operator's
    * semantics and reproduced exactly by the oracle SQL.
    */
  def simhashHammingPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucket: Long = 1000L): DataFrame = {
    require(maxDist >= 0 && maxDist < 4, "4-piece banding covers hamming < 4")
    import org.apache.spark.sql.expressions.Window
    val banded = simhash(df, idCol, textCol)
      .select(col(idCol), col("simhash"), explode(expr("sequence(0, 3)")).as("b"))
      .withColumn("piece", expr("(simhash >> (b * 15)) & 32767"))
      // bucket size via a window aggregate: partitions on the SAME key
      // as the self-join below, so the exchange is planned once
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("b"), col("piece"))))
      .filter(col("bsz") <= maxBucket)
    banded.as("x")
      .join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.piece") === col("y.piece") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(
        col(s"x.$idCol").as(s"${idCol}_a"),
        col(s"y.$idCol").as(s"${idCol}_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** 60-bit SimHash signature per document (word-count weighted; see
    * [[h60]] for why 60 bits and not 64). The 60 per-bit contribution
    * sums run as PARALLEL aggregates in one pass over the word
    * OCCURRENCES — not an explode(0..59) that would push 60× the rows
    * through an extra shuffle (same restructuring that took MinHash
    * from 2.6 s to 1.1 s in round 1), and not the earlier
    * per-(id, word) count pass either: the bit sums are INTEGER
    * arithmetic, so Σ_distinct cnt_w·sign_w(b) ≡ Σ_occurrence sign(b)
    * exactly, and the (id, word) exchange vanishes (guide §2.4) — ONE
    * id-keyed exchange carrying 60 partial longs per doc is the whole
    * shuffle at any scale. Bit math identical to the oracle's CASE-sum
    * form.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bitSums = (0 until 60).map { b =>
      sum(expr(s"shiftright(h, $b) % 2") * 2 - 1).as(s"s$b")
    }
    df.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .select(col(idCol), h60(col("word")).as("h"))
      .groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 60).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }
}
