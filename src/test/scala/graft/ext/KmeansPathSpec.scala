package graft.ext

import graft.SparkSpec
import graft.util.DriverBudget

/** Round-18 driver-gated k-means: vectors that fit the
  * [[graft.util.DriverBudget]] learn in-memory over one collected pass
  * (a zero budget forces the distributed loop); these pins
  * hold the gate's contract — the driver loop is BIT-IDENTICAL to the
  * distributed loop on both metrics, including the deterministic tie and
  * empty-cell-carry rules, so every consumer (the kmeans_centroids oracle
  * gate, the census quantizer learns, DeterminismSpec's repartitioning
  * pin) sees one result regardless of which side of the gate ran.
  */
class KmeansPathSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def fixture = {
    // 3 loose clusters + exact-duplicate vectors (score ties hit the
    // higher-cell rule) + a zero vector (safe-norm path)
    val rnd = new scala.util.Random(42)
    val rows = (0 until 120).map { i =>
      val c = i % 3
      val base = Array.fill(8)(c * 2.0)
      val v =
        if (i == 119) Array.fill(8)(0.0)
        else if (i % 10 == 0) base // exact duplicates across rows
        else base.map(_ + rnd.nextGaussian() * 0.3)
      (i.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("cosine k-means: driver-gated loop is bit-identical to the distributed loop") {
    val df = fixture
    val driver = Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 3)
    val dist = DriverBudget.withBytes(0L)(Similarity.kmeansCentroids(df, "vec_id", "embedding",
      k = 4, iters = 3))
    assert(driver == dist)
  }

  test("L2 k-means (the PQ sub-quantizer learner): driver ≡ distributed, incl. slices") {
    val df = fixture
    val slice = org.apache.spark.sql.functions.slice(
      Similarity.toDoubleArr(col("embedding")), 1, 4)
    val driver = Similarity.kmeansCentroidsL2(df, "vec_id", slice, k = 5, iters = 3)
    val dist = DriverBudget.withBytes(0L)(Similarity.kmeansCentroidsL2(df, "vec_id", slice,
      k = 5, iters = 3))
    assert(driver == dist)
  }

  test("driver loop carries empty cells exactly like the distributed loop") {
    // k = rows: most cells empty after assignment; the carry must agree
    val df = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.1)), (3L, Seq(0.9, 0.0)),
      (4L, Seq(1.1, 0.0)), (5L, Seq(1.0, 0.05))).toDF("vec_id", "embedding")
    val driver = Similarity.kmeansCentroids(df, "vec_id", "embedding", k = 5, iters = 2)
    val dist = DriverBudget.withBytes(0L)(Similarity.kmeansCentroids(df, "vec_id", "embedding",
      k = 5, iters = 2))
    assert(driver == dist)
  }
}
