package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Portable.pround
import graft.util.{DriverBudget, SmallParquet}
import Similarity.{cosineTo, dot, l2Norm, toDoubleArr}

/** The ANN engine: every index is one [[Codec]] × one [[Layout]].
  *
  * A codec says what a row's code is and how a query scores it: PQ (with
  * the optional OPQ rotation or the residual form), SQ8 and BQ, plus
  * [[Exact]] for the uncompressed IVF rung. A layout says which rows a
  * probe scores: [[Flat]] scores every code row and reranks against the
  * caller's vectors; [[Ivf]] persists K centroids plus cell-partitioned
  * vectors and codes, and a probe ranks the cells, scores only its
  * `nprobe` best cells' codes (a partition-pruned read) and reranks the
  * candidates exactly against the same cells' vectors — one pruned, scored
  * pass over partitioned data (EDBT 2019, distributed partitioned
  * similarity search). Build, per-part build, merge, the incremental
  * lifecycle, the single probe and the batch probe are each written once
  * over that pair.
  *
  * Index layout under a root: the codec's params (`codebooks` [+
  * `rotation` | `quantizer`], SQ8 `params`, BQ `params`), its code table
  * (`codes`, BQ `words`) and, for IVF, `centroids` + `vectors`. Probes read
  * the codec back off the root ([[read]]), so callers name only the layout.
  *
  * Every score keeps the arithmetic its oracle SQL re-derives (see the
  * `*OracleSql` builders in [[Similarity]]): the same expressions, the same
  * IEEE addition order, 1e-6-rounded scores, ties to the lower id.
  */
object Ann {
  import org.apache.spark.sql.graft.Bridge.{column => ecol, expression => eexpr}

  type Vecs = Seq[Seq[Double]]

  // ------------------------------------------------------------------
  // Codecs
  // ------------------------------------------------------------------

  /** What [[build]] learns. */
  sealed trait Spec

  /** Product quantization (Jégou et al. 2011): `m` contiguous subspaces,
    * `ksub` quantized-L2 codewords each, `iters` k-means rounds.
    * `opqIters` > 0 first learns the OPQ rotation (Ge et al. CVPR 2013,
    * [[Similarity.learnOpqRotation]]) and codes the rotated vectors — an
    * IVF layout then also ranks its cells in rotated space. `residual`
    * codes v − c(v) against the row's coarse cell (IVFADC; IVF only).
    */
  final case class PQ(dim: Int, m: Int, ksub: Int, iters: Int = 3,
      opqIters: Int = 0, residual: Boolean = false) extends Spec

  /** Per-dim affine 8-bit codes (FAISS QT_8bit): one exact min/max pass. */
  final case class SQ8(dim: Int) extends Spec

  /** Mean-centred sign bits packed 32 per word; Hamming first pass. */
  final case class BQ(dim: Int) extends Spec

  /** A learned codec: its params and every expression that reads them. */
  sealed trait Codec {
    /** The per-row code table under the index root. */
    def table: String = "codes"
    /** Name of the candidate score ([[candidates]]' output column). */
    def scoreCol: String = "adc_cos"
    /** BQ's Hamming distance ranks ascending, every cosine estimate
      * descending. */
    def ascending: Boolean = false
    def dim: Int
    def write(spark: SparkSession, path: String): Unit
    /** The map-only encode projection: id, the code columns, the exact
      * ‖v‖ the cosine estimate divides by, then `keep`. */
    def encode(df: DataFrame, idCol: String, vecCol: String,
        keep: Seq[String]): DataFrame
    /** The query in coded space (OPQ rotates it), dimension-checked. */
    def prep(q: Seq[Double]): Seq[Double] = {
      require(q.size == dim, s"dim $dim != query ${q.size}")
      q
    }
    /** Single-probe score of a code row against the prepared query;
      * `base` is the residual q·c term (lit 0.0 otherwise). */
    def score(q: Seq[Double], digits: Int, base: Column): Column
    /** Per-query columns a collected batch folds on the driver and ships
      * on every probed (query, cell) row. */
    def payload: Seq[(StructField, Array[Double] => Any)] = Nil
    /** Values [[payload]] adds to each probed row — the literal-query
      * gate counts them, not just the query vector. */
    def payloadValues: Long = 0L
    /** Per-query columns the distributed batch derives in-plan from
      * `__qe` (the distributed twin of [[payload]]), by name. */
    def queryCols: Seq[(String, Column)] = Nil
    /** Batch score; `literal` means [[payload]] rides the probe rows. */
    def batchScore(literal: Boolean, digits: Int, base: Column): Column
    /** Whether the scored stream needs the query frame (`__qe`, `__qn`). */
    def needsQuery(literal: Boolean): Boolean
  }

  /** The codebooks, m × ksub × (dim/m); `rotation` marks OPQ, `quantizer`
    * the residual form (its K-row encode-time coarse centroids). */
  final case class PqCodec(cbs: Seq[Vecs], rotation: Option[Vecs] = None,
      quantizer: Option[Vecs] = None) extends Codec {
    private def sub: Int = cbs.head.head.size
    def dim: Int = cbs.size * sub

    def write(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      writeParams(cbs.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.map { case (c, j) => (s, j, c) }
      }.toDF("s", "j", "c"), s"$path/codebooks")
      rotation.foreach(r => writeParams(
        r.zipWithIndex.map { case (row, i) => (i, row) }.toDF("i", "r"), s"$path/rotation"))
      quantizer.foreach(qz => writeParams(
        qz.zipWithIndex.map { case (c, j) => (j, c) }.toDF("j", "c"), s"$path/quantizer"))
    }

    /** argmin-L2 codeword per subspace of the coded vector (v, R·v or
      * v − c(v)); the stored norm is always ‖v‖ of the original. */
    def encode(df: DataFrame, idCol: String, vecCol: String,
        keep: Seq[String]): DataFrame = {
      val v = toDoubleArr(col(vecCol))
      val coded = rotation.map(Similarity.rotateExpr(col(vecCol), _))
        .orElse(quantizer.map(Similarity.residualOf(col(vecCol), col("label"), _)))
        .getOrElse(v)
      val codeCols = cbs.zipWithIndex.map { case (cb, s) =>
        Similarity.assignCellL2(slice(coded, lit(s * sub + 1), lit(sub)), cb)
          .cast("long").as(s"code_$s")
      }
      df.select((col(idCol) +: codeCols) ++
        (pround(sqrt(dot(v, v)), 9).as("vnorm") +: keep.map(col)): _*)
    }

    override def prep(q: Seq[Double]): Seq[Double] = {
      val checked = super.prep(q)
      rotation.fold(checked)(Similarity.rotateQuery(checked, _))
    }

    /** Per subspace, the query slice's dot with every codeword — the
      * sequential fold VecDot and the oracle share. */
    def tables(q: Seq[Double]): Seq[Seq[Double]] =
      cbs.zipWithIndex.map { case (cb, s) =>
        val qs = q.slice(s * sub, (s + 1) * sub)
        cb.map(cw => cw.zip(qs).foldLeft(0.0) { case (a, (c, x)) => a + c * x })
      }

    /** ADC: approx q·v = base + Σₘ table_m[code_m], over ‖v‖·‖q‖. */
    def score(q: Seq[Double], digits: Int, base: Column): Column = {
      val approxDot = tables(q).zipWithIndex.map { case (t, s) =>
        element_at(array(t.map(lit): _*), (col(s"code_$s") + 1).cast("int"))
      }.foldLeft(base)(_ + _)
      pround(approxDot / (col("vnorm") * lit(safeNorm(q))), digits)
    }

    override def payload: Seq[(StructField, Array[Double] => Any)] = Seq(
      StructField("__tab", ArrayType(ArrayType(DoubleType))) ->
        ((qe: Array[Double]) => tables(qe.toSeq)),
      StructField("__qn", DoubleType) -> ((qe: Array[Double]) => batchNorm(qe)))
    override def payloadValues: Long = cbs.map(_.size.toLong).sum + 1L

    /** Literal: m lookups into the row's dot tables. Distributed: m dots
      * of the query slice against the codeword literal the code picks. */
    def batchScore(literal: Boolean, digits: Int, base: Column): Column = {
      val approxDot = cbs.zipWithIndex.map { case (cb, s) =>
        if (literal) element_at(element_at(col("__tab"), lit(s + 1)),
          (col(s"code_$s") + 1).cast("int"))
        else dot(slice(col("__qe"), lit(s * sub + 1), lit(sub)),
          element_at(array(cb.map(cw => array(cw.map(lit): _*)): _*),
            (col(s"code_$s") + 1).cast("int")))
      }.foldLeft(base)(_ + _)
      pround(approxDot / (col("vnorm") * col("__qn")), digits)
    }
    def needsQuery(literal: Boolean): Boolean = !literal
  }

  object PqCodec {
    def read(spark: SparkSession, path: String): PqCodec =
      Ann.read(spark, path).asInstanceOf[PqCodec]
  }

  /** Per-dim (i, min, max), 1e-9-quantized; step = (max − min)/255. */
  final case class Sq8Codec(prm: Seq[(Int, Double, Double)]) extends Codec {
    private lazy val mns = prm.map(_._2)
    private lazy val sts = prm.map(r => (r._3 - r._2) / 255.0)
    def dim: Int = prm.size

    def write(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      writeParams(prm.toDF("i", "mn", "mx"), s"$path/params")
    }

    /** Floor-then-clamp affine codes, binary-packed one byte per dim
      * ([[graft.functions.Sq8Pack]]); code values read back unsigned. */
    def encode(df: DataFrame, idCol: String, vecCol: String,
        keep: Seq[String]): DataFrame = {
      val v = toDoubleArr(col(vecCol))
      val codes = array(prm.indices.map { d =>
        if (sts(d) == 0.0) lit(0L)
        else greatest(lit(0.0), least(lit(255.0),
          floor((element_at(v, d + 1) - lit(mns(d))) / lit(sts(d)) + lit(0.5))))
          .cast("long")
      }: _*)
      df.select(Seq(col(idCol), ecol(graft.functions.Sq8Pack(eexpr(codes))).as("codes"),
        pround(sqrt(dot(v, v)), 9).as("vnorm")) ++ keep.map(col): _*)
    }

    /** Σ_d q_d·(mn_d + code_d·step_d) in dim order (the native loop). */
    def score(q: Seq[Double], digits: Int, base: Column): Column =
      pround(ecol(graft.functions.Sq8AdcBytes(eexpr(col("codes")), q, mns, sts)) /
        (col("vnorm") * lit(safeNorm(q))), digits)
    def batchScore(literal: Boolean, digits: Int, base: Column): Column =
      pround(ecol(graft.functions.Sq8AdcVec(eexpr(col("codes")), eexpr(col("__qe")),
        mns, sts)) / (col("vnorm") * col("__qn")), digits)
    def needsQuery(literal: Boolean): Boolean = true
  }

  /** Per-dim decimal-exact mean thresholds, 1e-9-quantized. */
  final case class BqCodec(thr: Seq[Double]) extends Codec {
    override def table: String = "words"
    override def scoreCol: String = "hamming"
    override def ascending: Boolean = true
    def dim: Int = thr.size
    private def nWords: Int = (thr.size + 31) / 32

    def write(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      writeParams(thr.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "thr"),
        s"$path/params")
    }

    /** (v_d > thr_d) bits packed 32 per long — a codegen'd integer fold. */
    private def words(v: Column): Column =
      array((0 until nWords).map { w =>
        (0 until 32).filter(b => w * 32 + b < thr.size).foldLeft(lit(0L)) { (acc, b) =>
          val d = w * 32 + b
          acc + when(element_at(v, d + 1) > lit(thr(d)), lit(1L << b)).otherwise(lit(0L))
        }
      }: _*)

    /** Driver-side packing of a query — the literal twin of [[words]]. */
    def pack(q: Seq[Double]): Seq[Long] =
      (0 until nWords).map { w =>
        (0 until 32).filter(b => w * 32 + b < thr.size).foldLeft(0L) { (acc, b) =>
          val d = w * 32 + b
          if (q(d) > thr(d)) acc | (1L << b) else acc
        }
      }

    def encode(df: DataFrame, idCol: String, vecCol: String,
        keep: Seq[String]): DataFrame =
      df.select(Seq(col(idCol), words(toDoubleArr(col(vecCol))).as("words")) ++
        keep.map(col): _*)

    /** Σ_w popcount(word_w ⊕ qword_w) — integer-exact, no FP. */
    def score(q: Seq[Double], digits: Int, base: Column): Column = {
      val qw = pack(q)
      qw.indices.foldLeft(lit(0L)) { (acc, w) =>
        acc + bit_count(element_at(col("words"), w + 1).bitwiseXOR(lit(qw(w))))
      }
    }

    override def payload: Seq[(StructField, Array[Double] => Any)] = Seq(
      StructField("__qw", ArrayType(LongType)) -> ((qe: Array[Double]) => pack(qe.toSeq)))
    override def payloadValues: Long = nWords
    override def queryCols: Seq[(String, Column)] = Seq("__qw" -> words(col("__qe")))
    def batchScore(literal: Boolean, digits: Int, base: Column): Column =
      aggregate(zip_with(col("words"), col("__qw"), (a, b) => bit_count(a.bitwiseXOR(b))),
        lit(0L), (acc, x) => acc + x)
    def needsQuery(literal: Boolean): Boolean = false
  }

  /** No code: the IVF layout alone, its probed cells scored exactly. */
  case object Exact extends Codec with Spec {
    def dim: Int = 0
    def write(spark: SparkSession, path: String): Unit = ()
    override def prep(q: Seq[Double]): Seq[Double] = q
    private def none = throw new UnsupportedOperationException("Exact has no codes")
    def encode(df: DataFrame, idCol: String, vecCol: String,
        keep: Seq[String]): DataFrame = none
    def score(q: Seq[Double], digits: Int, base: Column): Column = none
    def batchScore(literal: Boolean, digits: Int, base: Column): Column = none
    def needsQuery(literal: Boolean): Boolean = none
  }

  /** The codec persisted under `path`, recognized by its tables — driver
    * reads of m·ksub-, d- or K-row param tables (parquet doubles
    * roundtrip exactly, so values are bit-identical to the learn). */
  def read(spark: SparkSession, path: String): Codec = {
    val root = new org.apache.hadoop.fs.Path(path)
    val names = root.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(root).map(_.getPath.getName).toSet
    def rows(t: String, cols: String*) = SmallParquet.rows(spark, s"$path/$t", cols)
    def keyed(t: String, key: String, v: String): Option[Vecs] =
      if (!names(t)) None
      else Some(rows(t, key, v).map(r => SmallParquet.int(r(0)) -> SmallParquet.darr(r(1)))
        .sortBy(_._1).map(_._2.toSeq))
    if (names("words"))
      BqCodec(rows("params", "i", "thr").map(r => (SmallParquet.int(r(0)), SmallParquet.dbl(r(1))))
        .sortBy(_._1).map(_._2))
    else if (names("params"))
      Sq8Codec(rows("params", "i", "mn", "mx").map(r => (SmallParquet.int(r(0)),
        SmallParquet.dbl(r(1)), SmallParquet.dbl(r(2)))).sortBy(_._1))
    else if (names("codebooks"))
      PqCodec(rows("codebooks", "s", "j", "c")
        .map(r => (SmallParquet.int(r(0)), SmallParquet.int(r(1)), SmallParquet.darr(r(2))))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3.toSeq).toSeq),
        keyed("rotation", "i", "r"), keyed("quantizer", "j", "c"))
    else Exact
  }

  private def learn(spec: Spec, df: DataFrame, labeled: DataFrame, idCol: String,
      vecCol: String, rot: Option[Vecs], cents: Vecs): Codec = spec match {
    case Exact => Exact
    case SQ8(dim) => Sq8Codec(Similarity.sq8Params(df, idCol, vecCol, dim))
    case BQ(dim) => BqCodec(Similarity.bqThresholds(df, idCol, vecCol, dim))
    case p: PQ =>
      require(!p.residual || cents.nonEmpty, "residual PQ codes against IVF cells")
      val quant = if (p.residual) Some(cents) else None
      val (src, v) = quant.map(c => labeled -> Similarity.residualOf(col(vecCol), col("label"), c))
        .orElse(rot.map(r => df -> Similarity.rotateExpr(col(vecCol), r)))
        .getOrElse(df -> toDoubleArr(col(vecCol)))
      PqCodec(Similarity.pqCodebooksOf(src, idCol, v, p.dim, p.m, p.ksub, p.iters), rot, quant)
  }

  // ------------------------------------------------------------------
  // Layouts
  // ------------------------------------------------------------------

  sealed trait Layout

  /** One codes table, every row a candidate. `vectors` is the raw corpus
    * a probe reranks against (unused by builds). */
  final case class Flat(vectors: DataFrame = null) extends Layout

  /** Cell-partitioned. Builds take their cells from `k` learned k-means
    * cells (`coarseIters` rounds, [[Similarity.kmeansCentroids]]), else
    * frozen `centroids`, else the corpus' existing `labelCol`; a build with
    * `vectorsDir` adds its codec to the IVF base already at that root
    * (shared-base deployments: one corpus-heavy vectors table, several
    * codecs). Probes rank cells and score the `nprobe` best, reranking
    * against `vectorsDir`'s vectors (default: the index's own).
    */
  final case class Ivf(k: Int = 0, coarseIters: Int = 3, centroids: Vecs = Nil,
      nprobe: Int = 2, labelCol: String = "label",
      vectorsDir: Option[String] = None) extends Layout

  /** Learn the codec (and, for IVF, the coarse cells) and write the index
    * at `path`. Pay once per corpus snapshot: wrap in [[IndexStore.ensure]].
    */
  def build(df: DataFrame, idCol: String, vecCol: String, path: String,
      spec: Spec, layout: Layout): Unit = {
    val spark = df.sparkSession
    val rot = spec match {
      case p: PQ if p.opqIters > 0 => Some(Similarity.learnOpqRotation(
        df, idCol, vecCol, p.dim, p.m, p.ksub, p.iters, p.opqIters))
      case _ => None
    }
    layout match {
      case _: Flat =>
        val codec = learn(spec, df, df, idCol, vecCol, rot, Nil)
        codec.write(spark, path)
        writeIdx(codec.encode(df, idCol, vecCol, Nil), s"$path/${codec.table}")
      case l: Ivf if l.vectorsDir.isDefined =>
        val base = l.vectorsDir.get
        val corpus = spark.read.parquet(s"$base/vectors")
        val codec = learn(spec, corpus, corpus, idCol, vecCol, rot, Nil)
        codec.write(spark, path)
        writeIdx(codec.encode(corpus, idCol, vecCol, Seq(l.labelCol)),
          s"$path/${codec.table}", Some(l.labelCol))
        if (base != path) copyTable(spark, s"$base/centroids", s"$path/centroids")
      case l: Ivf =>
        val (src, cv) = coarseSpace(df, vecCol, rot)
        val cents =
          if (l.centroids.nonEmpty) l.centroids
          else if (l.k > 0) Similarity.kmeansCentroids(src, idCol, cv, l.k, l.coarseIters)
          else Nil
        val lc = if (cents.isEmpty) l.labelCol else "label"
        val labeled =
          if (cents.isEmpty) src else Similarity.withCellLabels(src, idCol, cv, cents)
        writeCentroids(labeled, lc, cv, path)
        writeIdx(labeled.select(col(idCol), col(vecCol), col(lc)), s"$path/vectors", Some(lc))
        val codec = learn(spec, df, labeled, idCol, vecCol, rot, cents)
        codec.write(spark, path)
        if (codec != Exact)
          writeIdx(codec.encode(labeled, idCol, vecCol, Seq(lc)), s"$path/${codec.table}", Some(lc))
    }
  }

  /** The space cells live in: OPQ's rotated vectors (`__rv`), so ranking
    * and codes share one geometry; the raw column otherwise. */
  private def coarseSpace(df: DataFrame, vecCol: String,
      rot: Option[Vecs]): (DataFrame, String) =
    rot.fold((df, vecCol))(r =>
      (df.withColumn("__rv", Similarity.rotateExpr(col(vecCol), r)), "__rv"))

  /** Served centroids: per-cell means of the (coarse-space) vectors as
    * laid out, so probes rank the cells exactly as written. K rows, one
    * footer per probe. */
  private def writeCentroids(labeled: DataFrame, labelCol: String, v: String,
      path: String): Unit =
    writeIdx(Similarity.centroidComponents(labeled, labelCol, v)
      .groupBy(col(labelCol))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("centroid"))
      .coalesce(1), s"$path/centroids")

  /** The IVF base (centroids + cell-partitioned vectors) of a shared-base
    * deployment with the vectors write CHUNKED over the cell range: a
    * one-shot partitionBy writer sorts the whole corpus by cell per task —
    * a transient spill doubling the vectors' footprint on local disk (the
    * wall that capped the 100×-ANN rehearsal at 4M×768 on a 76 GB box).
    * The assignment runs once into a narrow (id, label) table
    * (`$path/assign`), then each of `ranges` passes joins its cell range's
    * labels and writes only chunk-sized data. Attach codecs with
    * `build(..., Ivf(vectorsDir = Some(path)))`; the served index is
    * probe-identical to a one-shot build (the learners are
    * order-independent).
    */
  def buildBaseChunked(df: DataFrame, idCol: String, vecCol: String,
      path: String, cents: Vecs, ranges: Int = 8): Unit = {
    require(ranges >= 1)
    val spark = df.sparkSession
    val k = cents.size
    writeIdx(Similarity.withCellLabels(df, idCol, vecCol, cents)
      .select(col(idCol), col("label")), s"$path/assign")
    (0 until ranges).foreach { ri =>
      val (lo, hi) = (ri * k / ranges, (ri + 1) * k / ranges)
      if (lo < hi) {
        val chunkLabels = spark.read.parquet(s"$path/assign")
          .filter(col("label") >= lo && col("label") < hi)
        // narrow the corpus FIRST: a source carrying its own `label`
        // column must not collide with the assignment's
        df.select(col(idCol), col(vecCol))
          .join(broadcast(chunkLabels), idCol)
          .select(col(idCol), col(vecCol), col("label"))
          .write.mode("append").partitionBy("label").parquet(s"$path/vectors")
      }
    }
    forget(s"$path/vectors")
    writeCentroids(spark.read.parquet(s"$path/vectors"), "label", vecCol, path)
  }

  /** Per-partition build against a FROZEN codec (and, for IVF, frozen
    * `centroids`) — the incremental refresh unit: an appended hour is
    * assigned and encoded alone (map-only projections); the learners move
    * only on a periodic full rebuild. IVF parts also write the exactly
    * mergeable centroid form, per-cell (count, dim-sums).
    */
  def buildPart(df: DataFrame, idCol: String, vecCol: String, codec: Codec,
      layout: Layout, path: String): Unit = layout match {
    case _: Flat => writeIdx(codec.encode(df, idCol, vecCol, Nil), s"$path/${codec.table}")
    case l: Ivf =>
      val (src, cv) = coarseSpace(df, vecCol, codec match {
        case p: PqCodec => p.rotation
        case _ => None
      })
      val labeled = Similarity.withCellLabels(src, idCol, cv, l.centroids)
      writeIdx(labeled.select(col(idCol), col(vecCol), col("label")),
        s"$path/vectors", Some("label"))
      writeIdx(labeled
        .select(col("label"), posexplode(toDoubleArr(col(cv))).as(Seq("i", "v")))
        .groupBy(col("label"), col("i"))
        // order-deterministic partials (Portable.dsum): the merged
        // centroids are bit-identical however the corpus was split
        .agg(graft.util.Portable.dsum(col("v")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n"), // rows per (cell, dim) are the cell size
          transform(array_sort(collect_list(struct(col("i"), col("s")))),
            x => x.getField("s")).as("sums"))
        .coalesce(1), s"$path/centroid_partial")
      if (codec != Exact)
        writeIdx(codec.encode(labeled, idCol, vecCol, Seq("label")),
          s"$path/${codec.table}", Some("label"))
  }

  /** Merge committed parts into a probe-ready index: the corpus-heavy
    * tables by FILE COPY into `<table>/part=N` (zero reads; the probe's
    * cell filter prunes across every part), IVF centroids re-derived from
    * the K-row partials as Σsums/Σcount — the true combined-corpus means —
    * and the frozen codec written once.
    */
  def merge(spark: SparkSession, codec: Codec, layout: Layout,
      partPaths: Seq[String], path: String): Unit = {
    if (layout.isInstanceOf[Ivf]) {
      copyIndexParts(spark, partPaths, "vectors", path)
      writeIdx(spark.read.parquet(partPaths.map(_ + "/centroid_partial"): _*)
        .select(col("label"), col("n"), posexplode(col("sums")).as(Seq("i", "s")))
        .groupBy(col("label"), col("i"))
        .agg(graft.util.Portable.dsum(col("s")).as("s"), sum(col("n")).as("n"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("s"), col("n")))),
          x => x.getField("s") / x.getField("n")).as("centroid"))
        .coalesce(1), s"$path/centroids")
    }
    if (codec != Exact) copyIndexParts(spark, partPaths, codec.table, path)
    codec.write(spark, path)
  }

  /** The incremental index for an append-only partitioned corpus:
    * [[buildPart]] per committed partition, [[merge]] via
    * [[IndexStore.ensureIncremental]]. A probe over the merged index
    * equals one over a monolithic build under the same frozen learners.
    */
  def ensureIncremental(spark: SparkSession, kind: String, sourceDir: String,
      idCol: String, vecCol: String, codec: Codec, layout: Layout): String =
    IndexStore.ensureIncremental(kind, spark, sourceDir) { (part, tmp) =>
      buildPart(spark.read.parquet(part), idCol, vecCol, codec, layout, tmp)
    } { (parts, tmp) => merge(spark, codec, layout, parts, tmp) }

  // ------------------------------------------------------------------
  // Probes
  // ------------------------------------------------------------------

  /** The codec's candidate pass over a code table: (id, score) for the
    * best `n` rows by (score, id). `q` is the prepared query
    * ([[Codec.prep]]); with `cells`, a residual codec adds each row's q·c
    * back as a literal CASE over those cells' labels.
    */
  def candidates(codes: DataFrame, codec: Codec, idCol: String, q: Seq[Double],
      n: Int, digits: Int = 6, cells: Seq[Any] = Nil,
      labelCol: String = "label"): DataFrame = {
    val base = codec match {
      case PqCodec(_, _, Some(quant)) if cells.nonEmpty =>
        val lt = codes.schema(labelCol).dataType
        coalesce((cells.map(c => when(col(labelCol) === lit(c).cast(lt),
          lit(qDot(quant, c, q)))) :+ lit(0.0)): _*)
      case _ => lit(0.0)
    }
    val s = col(codec.scoreCol)
    codes.select(col(idCol), codec.score(q, digits, base).as(codec.scoreCol))
      .orderBy(if (codec.ascending) s.asc else s.desc, col(idCol))
      .limit(n)
  }

  /** One query: (IVF) rank the cells against the K-row centroids, score
    * the codes of the `nprobe` best (a pruned read), take `rerank`
    * candidates, and rank the final `k` by exact cosine of the original
    * query against the original vectors — an id-equi-join on the
    * candidates, never a corpus scan. [[Exact]] skips the code pass. */
  def probe(spark: SparkSession, indexPath: String, layout: Layout, idCol: String,
      vecCol: String, query: Seq[Double], k: Int = 10, rerank: Int = 50,
      digits: Int = 6): DataFrame = {
    require(rerank >= k)
    val codec = read(spark, indexPath)
    val q = codec.prep(query)
    val (vecs, cand) = layout match {
      case Flat(vectors) =>
        require(vectors != null, "a flat probe reranks against the caller's vectors")
        require(codec != Exact, "a flat index needs a codec")
        (vectors, () => candidates(readIdx(spark, s"$indexPath/${codec.table}"),
          codec, idCol, q, rerank, digits))
      case l: Ivf =>
        require(l.nprobe >= 1)
        val cells = rankIndexCells(spark, indexPath, q, digits).take(l.nprobe)
        def pruned(root: String, table: String): DataFrame =
          cellUnionPruned(readIdx(spark, s"$root/$table"), l.labelCol, cells)
        (pruned(l.vectorsDir.getOrElse(indexPath), "vectors"), () => candidates(
          pruned(indexPath, codec.table), codec, idCol, q, rerank, digits, cells, l.labelCol))
    }
    if (codec == Exact) exactTop(vecs, idCol, vecCol, query, k, digits)
    else Ann.rerank(vecs, cand(), idCol, vecCol, query, k, digits)
  }

  /** The exact rerank: only the candidates' original vectors (a broadcast
    * id-equi-join), ranked by exact cosine against the original query. */
  def rerank(vectors: DataFrame, cand: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int = 10, digits: Int = 6): DataFrame =
    exactTop(vectors.join(broadcast(cand.select(col(idCol))), idCol), idCol, vecCol,
      query, k, digits)

  private def exactTop(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, digits: Int): DataFrame =
    df.select(col(idCol), cosineTo(query, vecCol, digits).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /** `nprobe` derived from the index's cell count
    * ([[Similarity.nprobeFor]]) — a K-row footer count, zero Spark jobs. */
  def autoNprobe(spark: SparkSession, indexPath: String,
      targetRecall: Double = 0.9): Int =
    Similarity.nprobeFor(parquetRowCount(spark, s"$indexPath/centroids").toInt,
      targetRecall)

  /** N queries in ONE distributed pass — `queries` is (qid, vector);
    * returns (qid, id, cos), top-`k` per qid, equal row for row to a loop
    * of single probes. Plan shape:
    *   - below the literal-query gate ([[literalQueryFrame]]) the batch is
    *     collected once: the probe set is driver arithmetic and the
    *     codec's per-query [[Codec.payload]] rides each probed row; above
    *     it the probe set is a qid-partitioned window plan and payloads
    *     are derived in-plan ([[Codec.queryCols]]);
    *   - IVF scans only the batch's probed-cell union (a literal partition
    *     filter, which the [[spreadForScore]] repartition cannot block the
    *     way it blocks dynamic pruning) and joins codes to probes on the
    *     cell; flat pairs every code with every query;
    *   - a bounded per-(partition, qid) heap keeps `rerank` candidates
    *     ([[topKPerQid]]), then the exact rerank.
    * Every join is size-gated (broadcast when its rows fit the
    * [[DriverBudget]], shuffle above); every window is qid-partitioned.
    * Offered for the IVF layout with PQ (plain or residual), SQ8 and BQ,
    * and flat SQ8 and BQ.
    */
  def probeBatch(spark: SparkSession, indexPath: String, layout: Layout,
      idCol: String, vecCol: String, queries: DataFrame, qidCol: String,
      qVecCol: String, k: Int = 10, rerank: Int = 50, digits: Int = 6): DataFrame = {
    require(rerank >= k)
    val codec = read(spark, indexPath)
    val ivf = layout match {
      case l: Ivf => require(l.nprobe >= 1); Some(l)
      case _ => None
    }
    val quant = codec match {
      case p: PqCodec =>
        require(ivf.isDefined && p.rotation.isEmpty, "batch PQ serves the unrotated IVF layout")
        p.quantizer
      case Exact => throw new IllegalArgumentException("a batch probe needs a codec")
      case _ => None
    }
    // driver bytes per row: a query (qid, vector, norm) and a probed
    // (query, cell) row carrying the codec's per-query payload (PQ's
    // m×ksub dot tables and the norm) and the residual q·c
    val qBytes = DriverBudget.fixedRowBytes(2L + codec.dim)
    val pBytes = DriverBudget.fixedRowBytes(2L + codec.payloadValues + quant.size)
    val (qn, nq, qrows) = literalQueryFrame(queries, qidCol, qVecCol, codec.dim,
      qBytes + ivf.fold(1)(_.nprobe) * pBytes)
    val qnP = qn.select(col("*") +: codec.queryCols.map { case (n, c) => c.as(n) }: _*)
    val qcols = col("__qid") +: codec.queryCols.map(nc => col(nc._1))
    val (stream, literal, vecs, cellKey) = ivf match {
      case None =>
        val vectors = layout.asInstanceOf[Flat].vectors
        require(vectors != null, "a flat probe reranks against the caller's vectors")
        val (rows, sizes) = parquetCensus(spark, s"$indexPath/${codec.table}")
        FlatBatchGuard.check(codec.getClass.getSimpleName, rows, nq)
        val codes = spreadForScore(readIdx(spark, s"$indexPath/${codec.table}"),
          rows * nq, sizes)
        (codes.crossJoin(sizeGated(if (codec.needsQuery(false)) qnP else qnP.select(qcols: _*),
          nq, DriverBudget.fixedRowBytes(2L + codec.dim + codec.payloadValues))),
          false, vectors, None)
      case Some(l) =>
        val driver = qrows.flatMap(rows => driverCellProbeSet(spark, indexPath, rows,
          l.nprobe, digits, qn.schema("__qid").dataType, codec, quant))
        val (probe, cells) = driver.getOrElse {
          val raw = batchCellProbeSet(spark, indexPath, l.labelCol, qnP, l.nprobe, digits)
          // residual: q·c(cell) per probed (query, cell) — a broadcast
          // join against the K-row quantizer, VecDot's dim-order fold
          val withQc = quant.fold(raw)(_ => raw
            .join(broadcast(readIdx(spark, s"$indexPath/quantizer")
              .select(col("j").cast("long").as("__qj"), toDoubleArr(col("c")).as("__qcv"))),
              col("__cell").cast("long") === col("__qj"))
            .withColumn("__qc", dot(col("__qcv"), col("__qe"))))
          literalProbeSet(withQc.select(qcols ++ (col("__cell") +:
            quant.map(_ => col("__qc")).toSeq): _*), nq * l.nprobe, pBytes)
        }
        val (cRows, cSizes) = parquetCensus(spark, s"$indexPath/${codec.table}", l.labelCol, cells)
        val codes = spreadForScore(
          cellUnionPruned(readIdx(spark, s"$indexPath/${codec.table}"), l.labelCol, cells),
          if (cells.isEmpty) 0L else cRows * nq * l.nprobe / cells.size, cSizes)
        val joined = codes.join(sizeGated(probe, nq * l.nprobe, pBytes),
          codes(l.labelCol) === probe("__cell"))
        (if (codec.needsQuery(driver.isDefined)) joined.join(sizeGated(qn, nq, qBytes), "__qid")
         else joined,
          driver.isDefined,
          cellUnionPruned(readIdx(spark, s"${l.vectorsDir.getOrElse(indexPath)}/vectors"),
            l.labelCol, cells),
          Some(l.labelCol))
    }
    // the top-k cut carries only (qid, score, [cell], id) — never the
    // dim-wide query vector, which re-attaches after the cut. The
    // residual base comes FIRST in the score's fold, as in the single
    // probe (IEEE addition order is part of the oracle contract)
    val cellCol = cellKey.map(_ => "__cell").toSeq
    val score = codec.batchScore(literal, digits,
      if (quant.isDefined) col("__qc") else lit(0.0))
    val cand = topKPerQid(
      stream.select(Seq(col("__qid"), score.as("__s")) ++ cellCol.map(col) :+ col(idCol): _*),
      col("__s"), keyDesc = !codec.ascending, rerank, idCol, cellCol)
    heapScoped(batchExactRerank(vecs, cand, qn, idCol, vecCol, k, digits, nq, rerank,
      qBytes, cellKey))
  }

  /** Every cell of a persisted index ranked best-first against the query
    * — a driver read of the K-row centroids, never a data collect. */
  def rankIndexCells(spark: SparkSession, indexPath: String,
      query: Seq[Double], digits: Int = 6): Seq[Any] =
    rankCellsOf(SmallParquet.rows(spark, s"$indexPath/centroids", Nil), query, digits)

  /** [[rankIndexCells]] over pre-read centroid rows (one read serves a
    * whole batch): score = rounded dot/|c| (the query norm cancels),
    * score desc then label asc; `java.lang.Double.compare` is a total
    * order with NaN greatest — Spark's sort semantics for a zero-norm
    * centroid. Positional (label, centroid): the label's name varies by
    * build, its position does not. */
  private def rankCellsOf(centRows: Seq[IndexedSeq[Any]],
      query: Seq[Double], digits: Int): Seq[Any] =
    centRows.map { r =>
      val c = SmallParquet.darr(r(1))
      var dot = 0.0; var nn = 0.0; var i = 0
      while (i < c.length) { dot += c(i) * query(i); nn += c(i) * c(i); i += 1 }
      (r(0), graft.util.Portable.proundD(dot / math.sqrt(nn), digits))
    }.sortWith { case ((la, sa), (lb, sb)) =>
      val c = java.lang.Double.compare(sb, sa)
      if (c != 0) c < 0
      else (la, lb) match {
        case (x: Number, y: Number) => x.doubleValue < y.doubleValue
        case (x, y) => String.valueOf(x) < String.valueOf(y)
      }
    }.map(_._1)

  // ------------------------------------------------------------------
  // Shared plumbing
  // ------------------------------------------------------------------

  /** q·c of a residual cell — the sequential dim-order fold of the cell's
    * quantizer row against the query (VecDot's order). */
  private def qDot(quant: Vecs, cell: Any, q: Seq[Double]): Double =
    quant(cell.toString.toInt).zip(q).foldLeft(0.0) { case (a, (c, x)) => a + c * x }

  private def safeNorm(q: Seq[Double]): Double = {
    val n = math.sqrt(q.map(x => x * x).sum)
    if (n > 0) n else 1.0
  }

  /** Zero-guarded ‖q‖ — sqrt of VecDot's sequential self-dot, the batch
    * frames' `__qn`. */
  private def batchNorm(qe: Array[Double]): Double = {
    var d = 0.0; var i = 0
    while (i < qe.length) { d += qe(i) * qe(i); i += 1 }
    val n = math.sqrt(d)
    if (n == 0.0) 1.0 else n
  }

  /** Memoized-schema read of an index table: a schemaless read runs a
    * footer-inference job per call, so each probe construction paid 1-3
    * ~50 ms driver jobs re-learning an unchanged schema. Every index
    * write goes through [[writeIdx]], which drops the entries under the
    * path it writes, so a rebuild at the same path is never read with
    * the old structure. */
  private val idxSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, StructType]()

  private def readIdx(spark: SparkSession, path: String): DataFrame = {
    val cached = idxSchemaCache.get(path)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      idxSchemaCache.putIfAbsent(path, df.schema)
      df
    }
  }

  private def forget(path: String): Unit =
    idxSchemaCache.keySet.removeIf(key => key.startsWith(path) || path.startsWith(key))

  /** The one index-table write: overwrite `path`, optionally partitioned
    * by the cell label, and drop the schema memo under it. */
  private def writeIdx(df: DataFrame, path: String, partitionCol: Option[String] = None): Unit = {
    val w = df.write.mode("overwrite")
    partitionCol.fold(w)(w.partitionBy(_)).parquet(path)
    forget(path)
  }

  /** m×ksub-, d- or K-row param tables: one file, one footer per probe. */
  private def writeParams(df: DataFrame, path: String): Unit = writeIdx(df.coalesce(1), path)

  /** File-copy merge of one table from each part into `$path/$sub/part=N`. */
  private def copyIndexParts(spark: SparkSession, partPaths: Seq[String], sub: String,
      path: String): Unit = {
    partPaths.zipWithIndex.foreach { case (pp, i) =>
      copyTable(spark, s"$pp/$sub", s"$path/$sub/part=$i")
    }
    forget(s"$path/$sub")
  }

  private def copyTable(spark: SparkSession, from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    val fs = src.getFileSystem(conf)
    fs.delete(dst, true)
    fs.mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
    forget(to)
  }

  /** The size gate every batch join goes through: broadcast when `rows`
    * (exact at plan time) of `rowBytes` each fit the driver budget,
    * shuffle on the same keys above. */
  private def sizeGated(df: DataFrame, rows: Long, rowBytes: Long): DataFrame =
    if (DriverBudget.fits(df.sparkSession, rows, rowBytes)) broadcast(df) else df

  /** Spread a compressed code table across the executor cores before the
    * batch scoring stage, SIZED TO THE WORK: a broadcast probe join keeps
    * the (tiny, 1 B/dim or 1 bit/dim) codes read's partitioning, which can
    * funnel billions of scored rows through one or two scan partitions.
    * One task absorbs [[SpreadRowsPerTask]] scored rows; the repartition
    * is skipped whenever the pruned scan is already that wide (width
    * estimated from the census' file sizes, no planning pass).
    */
  private def spreadForScore(df: DataFrame, scoredRows: Long,
      fileSizes: Seq[Long]): DataFrame = {
    val target = math.min(df.sparkSession.sparkContext.defaultParallelism.toLong,
      scoredRows / SpreadRowsPerTask + 1).toInt
    if (target <= graft.util.Scans.estimateScanPartitions(df.sparkSession, fileSizes)) df
    else df.repartition(target)
  }

  /** ~0.2-2 s of ADC/Hamming work per scoring task. */
  private val SpreadRowsPerTask = 2000000L

  /** Collect the NARROW distributed probe set once and re-enter it as a
    * literal frame, deriving the probed-cell union from the same rows (one
    * execution instead of two). Above the driver budget nothing is
    * collected: the lazy frame and a separate distinct-cell collect are
    * kept. */
  private def literalProbeSet(probeNarrow: DataFrame, rows: Long,
      rowBytes: Long): (DataFrame, Seq[Any]) =
    if (DriverBudget.fits(probeNarrow.sparkSession, rows, rowBytes)) {
      val collected = probeNarrow.collect()
      val ci = probeNarrow.schema.fieldIndex("__cell")
      (probeNarrow.sparkSession.createDataFrame(
        java.util.Arrays.asList(collected: _*), probeNarrow.schema),
        collected.map(_.get(ci)).distinct.toIndexedSeq)
    } else (probeNarrow, probeNarrow.select(col("__cell")).distinct()
      .collect().map(_.get(0)).toIndexedSeq)

  /** Collect the query batch ONCE under the driver budget and re-enter it
    * as a LITERAL frame (qid, double vector, zero-guarded norm): every
    * downstream broadcast of it is then a LocalTableScan (zero jobs) and
    * the dim guard runs on the same rows. `rowBytes` per query counts the
    * query AND what the probe set will carry for it (PQ's m×ksub dot
    * tables per probed cell). Above the budget, or when a vector
    * carries null elements, the distributed [[batchQueryFrame]] +
    * [[requireQueryDim]] path runs instead; both are result-identical.
    */
  private def literalQueryFrame(queries: DataFrame, qidCol: String,
      qVecCol: String, dim: Int, rowBytes: Long):
      (DataFrame, Long, Option[IndexedSeq[(Any, Array[Double])]]) = {
    val narrow = queries.select(col(qidCol).as("__qid"), toDoubleArr(col(qVecCol)).as("__qe"))
    DriverBudget.collect(narrow, rowBytes).filterNot(_.exists(r =>
        !r.isNullAt(1) && r.getSeq[Any](1).contains(null))) match {
      case None =>
        val nq = requireQueryDim(queries, qVecCol, dim)
        (batchQueryFrame(queries, qidCol, qVecCol), nq, None)
      case Some(head) =>
        // the driver-side twin of requireQueryDim: same checks, same order
        val nNull = head.count(_.isNullAt(1))
        require(nNull == 0, s"query batch contains $nNull null vectors in $qVecCol")
        val rows = head.map(r => (r.get(0), r.getSeq[Double](1).toArray)).toIndexedSeq
        val lens = rows.map(_._2.length)
        require(rows.isEmpty || (lens.min == dim && lens.max == dim),
          s"query vectors must all be dim $dim, got [${lens.min}, ${lens.max}]")
        val schema = StructType(Seq(StructField("__qid", narrow.schema("__qid").dataType),
          StructField("__qe", ArrayType(DoubleType)), StructField("__qn", DoubleType)))
        (queries.sparkSession.createDataFrame(java.util.Arrays.asList(rows.map {
          case (qid, qe) => Row(qid, qe.toSeq, batchNorm(qe)) }: _*), schema),
          rows.size.toLong, Some(rows))
    }
  }

  /** The distributed query frame: (qid, double vector, zero-guarded norm). */
  private def batchQueryFrame(queries: DataFrame, qidCol: String,
      qVecCol: String): DataFrame =
    queries.select(col(qidCol).as("__qid"), toDoubleArr(col(qVecCol)).as("__qe"))
      .withColumn("__qn", {
        val n = sqrt(dot(col("__qe"), col("__qe")))
        when(n === 0.0, lit(1.0)).otherwise(n)
      })

  /** One narrow aggregate: no null vectors, every vector the index's
    * dimension (a mismatched batch would otherwise score null or
    * zero-padded garbage silently). Returns the batch row count from the
    * same pass — the size gates need it. */
  private def requireQueryDim(queries: DataFrame, qVecCol: String, dim: Int): Long = {
    val row = queries
      .agg(min(size(col(qVecCol))), max(size(col(qVecCol))),
        count(when(col(qVecCol).isNull, lit(1))), count(lit(1))).head()
    require(row.getLong(2) == 0L,
      s"query batch contains ${row.getLong(2)} null vectors in $qVecCol")
    require(row.isNullAt(0) || (row.getInt(0) == dim && row.getInt(1) == dim),
      s"query vectors must all be dim $dim, got [${row.get(0)}, ${row.get(1)}]")
    row.getLong(3)
  }

  /** Spark literal type of a collected cell label; None for a label class
    * the builders never write (the caller keeps the distributed set). */
  private def litDataType(v: Any): Option[DataType] = v match {
    case _: java.lang.Integer => Some(IntegerType)
    case _: java.lang.Long => Some(LongType)
    case _: java.lang.Short => Some(ShortType)
    case _: java.lang.Byte => Some(ByteType)
    case _: String => Some(StringType)
    case _ => None
  }

  /** The probe set of a COLLECTED batch as driver arithmetic: one read of
    * the K-row centroids ranks every query's cells with
    * [[rankIndexCells]]' exact arithmetic, so the set costs zero Spark
    * jobs. Columns: __qid, __cell, [__qc] (residual q·c per probed cell),
    * then the codec's per-query [[Codec.payload]], folded once per query
    * row (qids need not be unique). Returns the frame and the probed-cell
    * union, or None for a label class with no literal type.
    */
  private def driverCellProbeSet(spark: SparkSession, indexPath: String,
      rows: Seq[(Any, Array[Double])], nprobe: Int, digits: Int, qidType: DataType,
      codec: Codec, quant: Option[Vecs]): Option[(DataFrame, Seq[Any])] = {
    val centRows = SmallParquet.rows(spark, s"$indexPath/centroids", Nil)
    val probe = rows.flatMap { case (qid, qe) =>
      val q = scala.collection.immutable.ArraySeq.unsafeWrapArray(qe)
      val pay = codec.payload.map(_._2(qe))
      rankCellsOf(centRows, q, digits).take(nprobe).map(c =>
        (c, Row.fromSeq(Seq(qid, c) ++ quant.map(qDot(_, c, q)) ++ pay)))
    }
    val cells = probe.map(_._1).distinct
    cells.headOption.fold[Option[DataType]](Some(LongType))(litDataType).map { cellType =>
      val fields = Seq(StructField("__qid", qidType), StructField("__cell", cellType)) ++
        quant.map(_ => StructField("__qc", DoubleType)) ++ codec.payload.map(_._1)
      (spark.createDataFrame(java.util.Arrays.asList(probe.map(_._2): _*),
        StructType(fields)), cells)
    }
  }

  /** Literal `isin` partition filter over a cell set, cast to the
    * partition column's inferred type so pruning applies; an empty set
    * filters everything. */
  private def cellUnionPruned(df: DataFrame, labelCol: String,
      cells: Seq[Any]): DataFrame =
    if (cells.isEmpty) df.filter(lit(false))
    else {
      val t = df.schema(labelCol).dataType
      df.filter(col(labelCol).isin(cells.map(c => lit(c).cast(t)): _*))
    }

  /** Row count of a parquet table from its file footers — driver
    * metadata, never a Spark job. */
  private def parquetRowCount(spark: SparkSession, path: String): Long =
    parquetCensus(spark, path)._1

  /** Row count plus the matching files' byte sizes from one listing pass;
    * with `cells`, only files under their `label=<cell>` dirs (at any
    * depth: monolithic `codes/label=N/` and merged `codes/part=M/label=N/`). */
  private def parquetCensus(spark: SparkSession, path: String,
      labelCol: String = null, cells: Seq[Any] = Nil): (Long, Seq[Long]) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val wanted = cells.map(c => s"/$labelCol=$c/").toArray
    var total = 0L
    val sizes = Seq.newBuilder[Long]
    val it = root.getFileSystem(conf).listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      if (!p.getName.startsWith("_") && !p.getName.startsWith(".") &&
          (wanted.isEmpty || wanted.exists(p.toString.contains))) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try total += r.getRecordCount finally r.close()
        sizes += st.getLen
      }
    }
    (total, sizes.result())
  }

  /** Sort-free per-query top-`k`: a bounded per-(partition, qid) heap
    * ([[graft.functions.TopKScoreAgg]]) combined map-side, so only
    * n_q × k survivors shuffle — a row_number window would fully sort the
    * scored stream. (key, id) is a strict total order, so the kept set
    * equals the window's rank cut; key ties break on ascending id in both
    * directions. Id and payload must be integral (the heap holds
    * primitive longs). */
  private def topKPerQid(scored: DataFrame, key: Column, keyDesc: Boolean,
      k: Int, idCol: String, payload: Seq[String]): DataFrame = {
    (idCol +: payload).foreach { c =>
      val t = scored.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"topKPerQid needs an integral $c column (the heap carries " +
          s"primitive longs); got $t — map non-numeric ids to a " +
          "surrogate long first")
    }
    val topk = udaf(new graft.functions.TopKScoreAgg(k, keyDesc))
    scored
      .groupBy(col("__qid"))
      .agg(topk(key.cast("double"), col(idCol).cast("long"),
        payload.headOption.map(col).getOrElse(lit(-1L)).cast("long")).as("__topk"))
      .select(col("__qid"), explode(col("__topk")).as("__e"))
      .select(col("__qid") +: col("__e._1").as(idCol) +:
        payload.headOption.map(n => col("__e._2").as(n)).toSeq: _*)
  }

  /** Scope the heap aggregate's conf to THIS probe: [[topKPerQid]]'s heap
    * only engages while the object-hash aggregate stays hash-based, and
    * the default sort fallback triggers at 128 distinct groups. The
    * finished plan rebinds to a cloned session carrying the override, so
    * the caller's session is never touched. */
  private def heapScoped(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.withConfOverride(df,
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      (1 << 20).toString)

  /** Distributed per-query cell ranking — the twin of [[rankIndexCells]]:
    * rounded dot/|c|, NaN greatest, ties to the lower label. Output: the
    * query frame's columns plus __cell, ≤ nprobe cells per query. */
  private def batchCellProbeSet(spark: SparkSession, indexPath: String,
      labelCol: String, qn: DataFrame, nprobe: Int, digits: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = readIdx(spark, s"$indexPath/centroids")
      .select(col(labelCol).as("__cell"), toDoubleArr(col("centroid")).as("__c"))
    qn.join(broadcast(cents))
      .withColumn("__s", pround(dot(col("__c"), col("__qe")) / l2Norm(col("__c")), digits))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__qid"))
        .orderBy(col("__s").desc, col("__cell").asc)))
      .filter(col("__rn") <= nprobe)
      .select(qn.columns.map(col).toSeq :+ col("__cell"): _*)
  }

  /** The exact-rerank tail of every batch probe: candidates (__qid,
    * [__cell], id) join the vectors (on the cell too, for IVF), the query
    * vector re-attaches through its own per-qid broadcast (a fat
    * candidate broadcast weighs n_q × rerank × dim×8 B), exact cosine,
    * top-`k` per qid. */
  private def batchExactRerank(vecs: DataFrame, cand: DataFrame, qn: DataFrame,
      idCol: String, vecCol: String, k: Int, digits: Int, nq: Long, rerank: Int,
      qBytes: Long, cellKey: Option[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val onId = vecs(idCol) === cand(idCol)
    // a candidate is (qid, score, [cell], id)
    vecs.join(sizeGated(cand, nq * rerank, DriverBudget.fixedRowBytes(3L + cellKey.size)),
        cellKey.fold(onId)(l => vecs(l) === cand("__cell") && onId))
      .join(sizeGated(qn.select(col("__qid"), col("__qe")), nq, qBytes), "__qid")
      .withColumn("cos", pround(
        dot(col("__qe"), toDoubleArr(vecs(vecCol))) /
          (l2Norm(toDoubleArr(vecs(vecCol))) * l2Norm(col("__qe"))), digits))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__qid"))
        .orderBy(col("cos").desc, vecs(idCol).asc)))
      .filter(col("__rn") <= k)
      .select(col("__qid").as("qid"), vecs(idCol).as(idCol), col("cos"))
  }

  /** A flat batch scores corpus × n_q rows by contract; above the
    * threshold (default 10⁹, `graft.flatbatch.warn.rows` overrides) log a
    * steer to the IVF layout. The counter lets a spec pin that it fires. */
  private[ext] object FlatBatchGuard extends org.apache.spark.internal.Logging {
    val fired = new java.util.concurrent.atomic.AtomicLong
    def check(codec: String, corpusRows: Long, nq: Long): Unit = {
      val threshold =
        sys.props.get("graft.flatbatch.warn.rows").map(_.toLong).getOrElse(1000000000L)
      if (corpusRows * nq > threshold) {
        fired.incrementAndGet()
        logWarning(s"flat $codec batch will score ~${corpusRows * nq} rows " +
          s"($corpusRows codes x $nq queries) — the IVF layout serves the " +
          "same batch over <= nprobe cells per query")
      }
    }
  }
}
