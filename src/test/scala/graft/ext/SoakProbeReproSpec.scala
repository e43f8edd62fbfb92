package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The soak's index-refresh probe pair, pinned at spec scale (VERDICT
  * r14 #7): a positional index and an IVF-PQ index refreshed over an
  * appended corpus part must both surface a marker doc that arrived in
  * the append. Also documents the PQ lesson the first soak run taught:
  * the marker must be IN the corpus value distribution (PQ codes can't
  * represent an out-of-range magnitude — an all-100s marker's stored
  * norm crushes its ADC cosine and it never reaches the rerank) while
  * taking a DIRECTION no hash-uniform vector takes, so exact rerank
  * ranks it top-1.
  */
class SoakProbeReproSpec extends SparkSpec {
  import spark.implicits._

  test("soak-shaped refreshers + probes see the marker doc") {
    val corpusDir = tmpDir("soak-probe-corpus")
    val MarkerId = 999999999L
    def docs(n: Int, off: Int) = spark.range(off, off + n).select(
      col("id").as("doc_id"),
      concat_ws(" ", lit("did:plc:x"), lit("app.graft.doc"), concat(lit("k"), col("id"))).as("text"),
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        i => pmod(xxhash64(col("id"), i), lit(1000L)) / 1000.0).as("embedding"))
    docs(2000, 0).write.parquet(s"$corpusDir/part=0")
    val part0 = spark.read.parquet(s"$corpusDir/part=0")
    val cents = Similarity.kmeansCentroids(part0, "vec_id", "embedding", 4, 2)
    val cbs = Similarity.pqCodebooksOf(
      Similarity.withCellLabels(part0, "vec_id", "embedding", cents),
      "vec_id", Similarity.toDoubleArr(col("embedding")),
      dim = 16, m = 4, ksub = 8)

    def refresh(): (String, String) = (
      Retrieval.ensureIncrementalPositionalIndex(spark, "sprt", corpusDir, "doc_id", "text"),
      Ann.ensureIncremental(spark, "sprv", corpusDir, "vec_id", "embedding",
        Ann.PqCodec(cbs), Ann.Ivf(centroids = cents)))

    val (p1, v1) = refresh()
    info(s"tick1: pos=$p1 ivf=$v1")

    val marker = spark.range(1).select(
      lit(MarkerId).as("doc_id"),
      lit("soakzebra soakquagga").as("text"),
      lit(MarkerId).as("vec_id"),
      array((0 until 16).map(i => lit(if (i % 2 == 0) 0.95 else 0.05)): _*).as("embedding"))
    docs(1000, 10000).unionByName(marker).write.parquet(s"$corpusDir/part=1")

    val (p2, v2) = refresh()
    info(s"tick2: pos=$p2 ivf=$v2")

    val posIds = Retrieval.phraseProbe(spark, p2, "doc_id",
      Seq("soakzebra", "soakquagga"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    info(s"posIds=$posIds")
    val ivf = Ann.probe(spark, v2, Ann.Ivf(nprobe = 4), "vec_id", "embedding",
      (0 until 16).map(i => if (i % 2 == 0) 0.95 else 0.05), k = 5, rerank = 2000)
      .collect().map(_.getLong(0)).toSet
    info(s"ivfIds=$ivf")
    assert(posIds.contains(MarkerId), s"positional probe missed marker: $posIds")
    assert(ivf.contains(MarkerId), s"ivf probe missed marker: $ivf")
  }
}
