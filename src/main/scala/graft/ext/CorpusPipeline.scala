package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** End-to-end assembly of the training-data preprocessing DAG — the
  * corpus-side twin of [[graft.tools.Service]] (which assembles the
  * event side). Chains the extension operators in the order a pretraining
  * pipeline runs them, with per-stage accounting:
  *
  *   1. quality gates: Gopher rules ∧ per-language percentile gate —
  *      cheap row-local signals first, so later (join-heavy) stages see
  *      the smallest surviving corpus;
  *   2. exact dedup: one doc per content digest (hash-groupBy) —
  *      BEFORE boilerplate removal: chunk frequencies must be counted
  *      over unique documents, or a document duplicated ≥ the
  *      boilerplate threshold turns its OWN chunks into "boilerplate"
  *      and every copy is annihilated instead of deduplicated to one;
  *   3. boilerplate removal: corpus-frequent word chunks dropped from
  *      every surviving document (chunkDedup — frequency ≥ k across
  *      DISTINCT docs is template/header text), all-boilerplate docs
  *      removed;
  *   4. near-dup prune: MinHash-LSH candidates → exact-Jaccard verify →
  *      connected components → keep each cluster's representative;
  *   5. decontamination: drop docs sharing any 3-gram with the held-out
  *      benchmark set (broadcast probe);
  *   6. DSIR selection (Xie 2023): keep a Gumbel-drawn exp(w)-weighted
  *      share of the clean corpus against the curated target slice —
  *      percentile-gated, never a driver top-k;
  *   7. PII scrubbing: typed redaction over the surviving corpus (run
  *      late — no cycles spent scrubbing docs other stages drop);
  *   8. mixture construction: each source trimmed to its token budget
  *      (corpus-average mass × `mixShare`) in deterministic hash order;
  *   9. sequence packing: per-source contiguous token packing into
  *      fixed budgets;
  *   10. deterministic hash-shard export with a manifest.
  *
  * Stage ORDER is the scale argument: stages 1-2 are narrow scans /
  * single-shuffle aggregates that typically drop most of a web corpus,
  * so the pair-generating stage 3 runs over the survivors only. Every
  * stage is the library operator, not a reimplementation — the pipeline
  * is pure composition.
  */
object CorpusPipeline {

  /** One stage's accounting row. */
  final case class Stage(stage: String, docsIn: Long, docsOut: Long)

  /** Run the full DAG over `dir`'s documents table; shards + manifest
    * are written under `outDir`. Returns per-stage accounting.
    *
    * Accounting is SINGLE-PASS: each stage's output is persisted
    * (memory, spilling to disk) and its `count()` materializes that
    * cache — the one and only execution of the stage's DAG. Every
    * stage's `docsIn` is by definition the previous stage's `docsOut`,
    * so inputs are never recounted, and the previous stage's cache is
    * released as soon as its successor has materialized — peak
    * footprint is two adjacent stage outputs, not the whole chain.
    * (An `observe()` design can't produce these counts: stages
    * reference their input several times — LSH candidates AND the
    * verify anti-join both read the survivor set — so an observed
    * node's metric would double-count. The cache is also what keeps
    * those multi-references from re-executing the upstream DAG.)
    * The export count comes from the WRITTEN parquet, not a re-run of
    * the lineage behind the write.
    *
    * `checkpointDir`: opt-in durable materialization for corpora that
    * exceed executor storage. Each stage's output is WRITTEN to
    * parquet under `checkpointDir/<stage>` and read back — the
    * re-read truncates lineage (a stage failure recomputes from the
    * last checkpoint, never from the raw corpus) and the footprint
    * moves from executor memory/disk to the durable store, where a
    * 100 TB intermediate is routine. The materializing count is the
    * columnless scan of the written files (row-group metadata, no
    * data pass). A stage's checkpoint is deleted as soon as its
    * successor is durably written, so the dir holds at most two
    * adjacent stage outputs and is empty when the run returns —
    * identical to the cache discipline, swap-in replaceable
    * (accounting is pinned equal by CorpusPipelineSpec). A FAILED run
    * deliberately leaves its last durable checkpoint (plus the failed
    * partial) in place: that is the recovery point, and a
    * delete-on-failure finally would destroy exactly what a 100 TB
    * retry wants to resume from. Re-running with the same
    * `checkpointDir` reclaims the space stage-by-stage through the
    * overwrite-mode writes, so nothing accumulates across retries.
    */
  def run(spark: SparkSession, dir: String, outDir: String,
      packBudget: Long = 512L, nShards: Int = 16,
      checkpointDir: Option[String] = None): Seq[Stage] =
    runOn(spark, Tables.documents(spark, dir), outDir, packBudget, nShards,
      checkpointDir)

  /** [[run]] over an already-loaded documents frame (same columns as
    * the documents table: doc_id, text, lang, source, n_chars).
    */
  def runOn(spark: SparkSession, docs: DataFrame, outDir: String,
      packBudget: Long = 512L, nShards: Int = 16,
      checkpointDir: Option[String] = None,
      dsirTarget: org.apache.spark.sql.Column =
        col("source").isin("src0", "src1", "src2", "src3"),
      dsirKeep: Double = 0.8,
      mixShare: Double = 1.0,
      // per-stage wall-clock callback (name, seconds) — the 100×-shape
      // rehearsal derives per-stage growth exponents from it; a timing
      // stays out of [[Stage]] so the accounting-equality pins hold
      onStage: (String, Double) => Unit = (_, _) => ()): Seq[Stage] = {
    val acc = scala.collection.mutable.ListBuffer.empty[Stage]
    // the raw input is counted once; it is deliberately NOT cached — at
    // corpus scale the source parquet re-scan (column-pruned, pushed
    // down) is cheaper than caching 100 TB, and only stage 1 and the
    // decontam benchmark filter read it
    var prevCount = docs.count()
    // the PREVIOUS stage's materialized checkpoint blocks, freed
    // explicitly once its successor is materialized: Dataset.unpersist
    // is a cache-manager call and a NO-OP for localCheckpoint blocks
    // (RDD-level storage), and the stage vals live until runOn returns
    // — without this every stage's blocks stay resident for the whole
    // run instead of the intended ~2 stages
    var prevBlocks: Option[org.apache.spark.rdd.RDD[_]] = None
    var prevCkpt: Option[String] = None
    def rmCkpt(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
    }
    def staged(name: String, in: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val (out, n) = checkpointDir match {
        case Some(cp) =>
          val path = s"$cp/$name"
          f(in).write.mode("overwrite").parquet(path)
          val written = spark.read.parquet(path) // lineage ends HERE
          (written, written.count()) // columnless scan: metadata only
        case None =>
          // persist AND truncate lineage: a stage's logical plan embeds
          // every upstream stage once PER REFERENCE to its input, and
          // self-referencing stages (the LSH verify anti-join, DSIR's
          // bucket-count joins) multiply the tree — by stage 10 the
          // analyzed plan is exponential (measured: OOM just building a
          // plan string at fixture scale). localCheckpoint materializes
          // the stage once into executor storage (memory, spilling to
          // disk) and RE-ROOTS the plan there — the cached-mode twin of
          // the durable checkpoint's parquet read-back below. Tradeoff
          // (cached mode only): checkpoint blocks are non-replicated
          // and non-recomputable, so an executor loss mid-pipeline is
          // fail-fatal — route large multi-tenant runs through the
          // durable `checkpointDir` branch, which recovers from the
          // written parquet.
          val cached = f(in).localCheckpoint(true)
          (cached, cached.count()) // reads the materialized blocks
      }
      acc += Stage(name, prevCount, n)
      onStage(name, (System.nanoTime() - t0) / 1e9)
      prevBlocks.foreach(_.unpersist(false))
      prevCkpt.foreach(rmCkpt)
      if (checkpointDir.isDefined) prevCkpt = Some(s"${checkpointDir.get}/$name")
      else
        // the checkpointed RDD itself (the LogicalRDD the re-rooted
        // plan reads) — the handle unpersist must be called on
        prevBlocks = out.queryExecution.analyzed.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        }
      prevCount = n
      out
    }

    // 1. quality gates — row-local signals, no shuffle of the corpus
    val gated = staged("quality_gates", docs) { d =>
      val keep = TextStats.gopherRules(d, "doc_id", "text")
        .filter(col("keep")).select(col("doc_id"))
      val scored = TextStats.qualityScore(d, "doc_id", "text")
        .join(d.select(col("doc_id"), col("lang")), "doc_id")
      val topPerLang = TextStats.percentileGate(scored, "lang", "quality", q = 0.3)
        .select(col("doc_id"))
      d.join(keep, Seq("doc_id"), "left_semi")
        .join(topPerLang, Seq("doc_id"), "left_semi")
    }

    // 2. exact dedup — keep the canonical (min id) of each digest.
    // MUST precede boilerplate removal: chunk frequency counted over
    // duplicate copies would turn a >=k-times-duplicated document's
    // own chunks into "boilerplate" and delete every copy
    val exactDeduped = staged("exact_dedup", gated) { d =>
      d.join(
        Dedup.exact(d, "doc_id", "text")
          .select(col("canonical_doc_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
    }

    // 3. boilerplate removal — rewrite each unique doc to its
    // non-boilerplate chunks (frequency >= k across DISTINCT docs =
    // template text); docs that were ALL boilerplate drop out
    val deboiled = staged("boilerplate", exactDeduped) { d =>
      d.drop("text")
        .join(Dedup.chunkDedup(d, "doc_id", "text")
          .select(col("doc_id"), col("clean_text").as("text")), "doc_id")
        .filter(col("text") =!= "")
    }

    // 4. near-dup prune — LSH→verify→components; drop non-representatives
    val nearDeduped = staged("neardup_prune", deboiled) { d =>
      val comps = Dedup.connectedComponents(
        Dedup.verifyCandidates(d, "doc_id", "text", threshold = 0.8),
        "doc_id_a", "doc_id_b")
      val dropped = comps.filter(col("id") =!= col("comp"))
        .select(col("id").as("doc_id"))
      d.join(dropped, Seq("doc_id"), "left_anti")
    }

    // 5. decontamination — held-out set = doc_id % 50 == 0 (the same
    // convention as the decontam_flags oracle query)
    val decontaminated = staged("decontam", nearDeduped) { d =>
      val corpus = d.filter(col("doc_id") % 50 =!= 0)
      val contaminated = Dedup.contaminationFlags(
        corpus, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text")
        .select(col("doc_id"))
      corpus.join(contaminated, Seq("doc_id"), "left_anti")
    }

    // 6. DSIR selection — keep the `dsirKeep` share of the clean corpus
    // drawn ∝ exp(importance weight) against the curated target slice
    // (Xie 2023): the "make the crawl look like the curated corpus"
    // step, run BEFORE scrubbing so PII cycles are spent on keepers
    // only. The share gate is a percentile threshold, not a limit — no
    // driver TakeOrdered at corpus scale.
    val selected = staged("dsir_select", decontaminated) { d =>
      val w = Dsir.weights(d, dsirTarget, "doc_id", "text")
      d.join(Dsir.sampleByShare(w, "doc_id", "dsir_w", keep = dsirKeep)
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    }

    // 7. PII scrubbing — typed redaction on the survivors only
    val scrubbed = staged("pii_redact", selected) { d =>
      d.drop("text")
        .join(TextStats.redactPii(d, "doc_id", "text")
          .select(col("doc_id"), col("redacted").as("text")), "doc_id")
    }

    // 8. mixture construction — each source trimmed to `mixShare` × the
    // corpus-average token mass (the Dolma/RedPajama mixing step): an
    // over-crawled source cannot dominate the final mix, small sources
    // keep everything. Budget derives from the corpus itself — two
    // scalars off one aggregate — so the stage is self-scaling.
    val mixed = staged("mixture", scrubbed) { d =>
      val st = d.agg(
        sum(size(split(col("text"), " ")).cast("long")).as("t"),
        countDistinct(col("source")).as("s")).head()
      val budget = math.max(1L,
        (st.getLong(0) * mixShare / math.max(1L, st.getLong(1))).toLong)
      d.join(Sampling.mixtureByBudget(
        d.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks")),
        "source", "doc_id", col("toks"), lit(budget))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    }

    // 9. sequence packing — contiguous per-source fixed-budget packs
    val packed = staged("sequence_pack", mixed) { d =>
      d.join(
        TextStats.sequencePack(d, "doc_id", "text", groupCol = "source",
          budget = packBudget)
          .select(col("doc_id"), col("n_tokens"), col("pack_id")),
        "doc_id")
    }

    // 10. shard export — hash-sharded parquet + manifest. Writers are
    // per-shard independent; placement is a pure row-local function.
    // Both writes read the cached `packed`; the export count is taken
    // from the WRITTEN shards (footer row counts, no data scan), never
    // by re-running the lineage behind the write.
    // timed through the same onStage callback as every other stage —
    // the rehearsal's growth table previously reported shard_export as
    // untimed (-1.0) because only the staged() helper fired the callback
    val tExport = System.nanoTime()
    val sharded = packed.withColumn("shard",
      Dedup.h32(col("doc_id").cast("string")) % nShards)
    sharded.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/shards")
    Sampling.shardStats(packed, "doc_id", "n_chars", nShards)
      .write.mode("overwrite").parquet(s"$outDir/manifest")
    acc += Stage("shard_export", prevCount,
      spark.read.parquet(s"$outDir/shards").count())
    onStage("shard_export", (System.nanoTime() - tExport) / 1e9)
    prevBlocks.foreach(_.unpersist(false))
    prevCkpt.foreach(rmCkpt)

    acc.toList
  }

  /** Usage: runMain graft.ext.CorpusPipeline [sfDir] [outDir] */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption
      .getOrElse(java.nio.file.Files.createTempDirectory("graft-corpus").toString)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, dir, out).foreach { s =>
      println(f"[corpus] ${s.stage}%-15s ${s.docsIn}%7d → ${s.docsOut}%7d docs")
    }
    println(s"[corpus] shards + manifest at $out")
    spark.stop()
  }
}
