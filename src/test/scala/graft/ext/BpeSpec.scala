package graft.ext

import graft.SparkSpec

/** BPE merge learning + encoding against hand-computed expectations
  * (the Sennrich et al. 2016 worked-example corpus shape).
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def toyDocs = Seq(
    (1L, "low low low low low"),
    (2L, "lower lower widest"),
    (3L, "newest newest newest widest")).toDF("doc_id", "text")

  test("learnMerges reproduces the hand-computed merge sequence with deterministic ties") {
    // vocab: low:5 lower:2 widest:2 newest:3
    // r1: (l,o)=7 ties (o,w)=7 → lexicographically smaller (l,o)
    // r2: (lo,w)=7
    // r3: (e,s)=5 ties (s,t)=5, (w,e)=5 → (e,s)
    // r4: (es,t)=5
    // r5: (e,w)=3 (from n-e-w-est) ties nothing higher
    // r6: (ew,est)=3
    val merges = Bpe.learnMerges(toyDocs, "text", 6)
    assert(merges == Seq(
      Bpe.Merge(1, "l", "o", 7), Bpe.Merge(2, "lo", "w", 7),
      Bpe.Merge(3, "e", "s", 5), Bpe.Merge(4, "es", "t", 5),
      Bpe.Merge(5, "e", "w", 3), Bpe.Merge(6, "ew", "est", 3)))
  }

  test("encode applies merges greedily left-to-right per word") {
    val merges = Bpe.learnMerges(toyDocs, "text", 6)
    val out = Bpe.encode(toyDocs, "doc_id", "text", merges)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, "low low low low low", 5L)))
    // lower → low+e+r ('e r' never merged); widest → w i d est
    assert(out(1) == ((2L, "low e r low e r w i d est", 10L)))
    assert(out(2) == ((3L, "n ewest n ewest n ewest w i d est", 10L)))
  }

  test("overlapping pair runs merge with exact greedy semantics (two-pass replace)") {
    // 'aaaa' must tokenize a a a a → aa aa → aaaa, never aa a a
    val docs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", 2)
    assert(merges.map(m => (m.lhs, m.rhs)) == Seq(("a", "a"), ("aa", "aa")))
    // pair (a,a) appears 3× per word × 2 words = 6 (overlaps counted,
    // Sennrich get_stats semantics)
    assert(merges.head.pairCount == 6L)
    val enc = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, String, Long)].head()
    assert(enc == ((1L, "aaaa aaaa", 2L)))
  }

  test("self-pair merges pair runs strictly left-to-right (ADVICE r12: n>=5 runs)") {
    // The two-pass replace mispaired odd runs: 'aaaaa' → [aa, a, aa]
    // (pass 1's scan resumes past the consumed sentinel space). Greedy
    // is [aa, aa, a]; n=6 greedy is [aa, aa, aa] (3 tokens, not 4).
    val docs = Seq((5L, "aaaaa"), (6L, "aaaaaa"), (7L, "aaaaaaa")).toDF("doc_id", "text")
    val m = Seq(Bpe.Merge(1, "a", "a", 0L))
    val out = Bpe.encode(docs, "doc_id", "text", m)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(out(0) == ((5L, "aa aa a", 3L)))
    assert(out(1) == ((6L, "aa aa aa", 3L)))
    assert(out(2) == ((7L, "aa aa aa a", 4L)))
  }

  test("learnMerges on an odd run learns the greedy-consistent merge sequence") {
    // vocab {aaaaa:1}: r1 (a,a)=4 → [aa,aa,a]; r2 ties (aa,a)=1 vs
    // (aa,aa)=1 → lexicographic (aa,a) → [aa,aaa]; r3 (aa,aaa) → 1 token.
    // The buggy application produced [aa,a,aa] after r1, whose r2
    // tiebreak picks (a,aa) instead — a learned-merge divergence.
    val docs = Seq((1L, "aaaaa")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", 3)
    assert(merges.map(m => (m.lhs, m.rhs)) == Seq(("a", "a"), ("aa", "a"), ("aa", "aaa")))
    val enc = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, String, Long)].head()
    assert(enc == ((1L, "aaaaa", 1L)))
  }

  test("encode matches a scan-greedy reference on random words (self and ordinary pairs)") {
    def greedy(toks: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) { out += (l + r); i += 2 }
        else { out += toks(i); i += 1 }
      }
      out.toList
    }
    val merges = Seq(
      Bpe.Merge(1, "a", "a", 0L), Bpe.Merge(2, "a", "b", 0L),
      Bpe.Merge(3, "b", "b", 0L), Bpe.Merge(4, "aa", "aa", 0L),
      Bpe.Merge(5, "aa", "ab", 0L))
    val rnd = new scala.util.Random(13)
    val words = (1 to 60).map(i =>
      (i.toLong, (1 to (1 + rnd.nextInt(12))).map(_ => if (rnd.nextBoolean()) "a" else "b").mkString))
    val expected = words.map { case (id, w) =>
      val toks = merges.foldLeft(w.split("").toList)((t, m) => greedy(t, m.lhs, m.rhs))
      id -> ((toks.mkString(" "), toks.length.toLong))
    }.toMap
    val got = Bpe.encode(words.toDF("doc_id", "text"), "doc_id", "text", merges)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected)
  }

  test("learnMerges is checkpoint-cadence-invariant (production-k path)") {
    // materialization only changes where the applied fold is evaluated,
    // never its value: a cadence of 2 must learn the identical sequence.
    // Forced onto the DISTRIBUTED twin — the gated entry point takes the
    // driver path at fixture size, where cadence doesn't exist.
    val vocab = Bpe.spacedVocab(toyDocs, "text")
    val base = Bpe.learnMergesDistributed(vocab, 6)
    val ck = Bpe.learnMergesDistributed(vocab, 6, checkpointEvery = 2)
    assert(ck == base)
    val run = Bpe.spacedVocab(Seq((1L, "aaaaa bbbb")).toDF("doc_id", "text"), "text")
    assert(Bpe.learnMergesDistributed(run, 5, checkpointEvery = 1) ==
      Bpe.learnMergesDistributed(run, 5))
  }

  test("driver-gated learn is merge-for-merge identical to the distributed loop") {
    // the round-18 size gate (graft.util.DriverBudget): under it the whole
    // merge loop runs in-memory over the collected vocabulary; the two
    // paths must agree on EVERY fixture family — count ties, self-pair
    // runs (the greedy-application trap), and astral-plane symbols,
    // where Spark's UTF-8-byte string order diverges from Java's UTF-16
    // compareTo (U+FFFD sorts AFTER U+1D11E in UTF-16 but BEFORE it in
    // UTF-8 — the driver tiebreak must reproduce Spark's order)
    val astral = Seq(
      (1L, "𝄞z �z"),
      (2L, "𝄞z �z aaaa")).toDF("doc_id", "text")
    val fixtures = Seq(
      (toyDocs, 6),
      (Seq((1L, "aaaaa"), (2L, "aaaaaa bb ab")).toDF("doc_id", "text"), 5),
      (astral, 4))
    fixtures.foreach { case (df, k) =>
      val vocab = Bpe.spacedVocab(df, "text")
      val dist = Bpe.learnMergesDistributed(vocab, k)
      val drv = Bpe.learnMergesDriver(
        vocab.collect().map(r => (r.getString(0), r.getLong(1))), k)
      assert(drv == dist, s"driver/distributed divergence on $dist vs $drv")
      // and the gated entry point (fixture-sized → driver path) agrees
      assert(Bpe.learnMerges(df, "text", k) == dist)
    }
  }

  test("iterative encoder is path-equivalent to the column fold") {
    val rnd = new scala.util.Random(7)
    val docs = (1 to 40).map { i =>
      val words = (1 to (1 + rnd.nextInt(6))).map(_ =>
        (1 to (1 + rnd.nextInt(10))).map(_ => "abc".charAt(rnd.nextInt(3))).mkString)
      (i.toLong, words.mkString(" "))
    } :+ ((41L, "aaaaa!! 𝄞𝄞 x9"))
    val df = docs.toDF("doc_id", "text")
    val merges = Bpe.learnMerges(df, "text", 10)
    def run(iterative: Boolean) =
      Bpe.withEncodedPath(df, "text", merges, iterative)
        .select($"doc_id", $"tokens", $"n_tokens")
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(run(iterative = true) == run(iterative = false))
  }

  test("withEncoded auto-switches to the iterative path above FoldEncodeMaxMerges") {
    val df = Seq((1L, "low lower aaaa")).toDF("doc_id", "text")
    val real = Bpe.learnMerges(df, "text", 4)
    // pad with never-applying merges to cross the fold ceiling: the
    // switched path must still produce the fold result
    val padded = real ++ (1 to (Bpe.FoldEncodeMaxMerges + 10)).map(i =>
      Bpe.Merge(real.length + i, s"zz$i", s"qq$i", 0L))
    assert(padded.length > Bpe.FoldEncodeMaxMerges)
    val viaSwitch = Bpe.withEncoded(df, "text", padded)
      .select($"doc_id", $"tokens", $"n_tokens").as[(Long, String, Long)].head()
    val viaFold = Bpe.withEncodedPath(df, "text", real, iterative = false)
      .select($"doc_id", $"tokens", $"n_tokens").as[(Long, String, Long)].head()
    assert(viaSwitch == viaFold)
  }

  test("iterative encode plan size is independent of merge count") {
    // the fold plan grows with k; the iterative plan must not — this is
    // the bounded-depth contract for production merge tables
    val df = Seq((1L, "low lower")).toDF("doc_id", "text")
    def pad(k: Int) = (1 to k).map(i => Bpe.Merge(i, s"z$i", s"q$i", 0L))
    def planLen(k: Int) =
      Bpe.withEncodedPath(df, "text", pad(k), iterative = true)
        .queryExecution.optimizedPlan.toString.length
    val p100 = planLen(100)
    val p400 = planLen(400)
    assert(p400 <= p100 * 1.2, s"iterative plan grew with k: $p100 -> $p400")
  }

  test("learnMerges stops early when every word is a single symbol") {
    val docs = Seq((1L, "ab ab cd")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", 10)
    assert(merges.map(m => (m.lhs, m.rhs)) == Seq(("a", "b"), ("c", "d")))
  }

  test("withEncoded keeps the input columns; sequencePackBy packs by the real counts") {
    val docs = Seq(
      (1L, "s1", "low low low low low"), // 5 words → 5 tokens post-merge
      (2L, "s1", "low low low"), // 3 tokens
      (3L, "s1", "low low low"), // 3 tokens: cum-before = 8 → pack 1 at budget 8
      (4L, "s2", "low")).toDF("doc_id", "source", "text")
    val merges = Bpe.learnMerges(docs, "text", 2) // (l,o), (lo,w)
    val enc = Bpe.withEncoded(docs, "text", merges)
    assert(enc.columns.toSeq == Seq("doc_id", "source", "text", "tokens", "n_tokens"))
    val packed = TextStats.sequencePackBy(enc, "doc_id", "source", "n_tokens", budget = 8L)
      .as[(String, Long, Long, Long)].collect()
      .map { case (s, id, n, p) => id -> ((s, n, p)) }.toMap
    assert(packed == Map(
      1L -> (("s1", 5L, 0L)), // cum-before 0
      2L -> (("s1", 3L, 0L)), // cum-before 5
      3L -> (("s1", 3L, 1L)), // cum-before 8 → second pack
      4L -> (("s2", 1L, 0L)))) // own group restarts
  }

  test("merge table and single-char/empty-doc encode edges") {
    val docs = Seq((1L, "x"), (2L, "")).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", 3)
    assert(merges.isEmpty)
    val enc = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(enc(0) == ((1L, "x", 1L)))
    assert(enc(1) == ((2L, "", 0L)))
    assert(Bpe.mergeTable(spark, merges).columns.toSeq ==
      Seq("merge_rank", "lhs", "rhs", "pair_count"))
  }
}
