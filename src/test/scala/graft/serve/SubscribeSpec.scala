package graft.serve

import scala.util.Random

import graft.SparkSpec
import graft.serve.Subscribe._

/** Filter algebra (server.go:118-136) + parameter validation
  * (server.go:250-287) properties.
  */
class SubscribeSpec extends SparkSpec {
  import spark.implicits._

  private def sample = (1 to 300).map { i =>
    (s"did:plc:u${i % 10}", i.toLong * 10, s"app.bsky.c${i % 5}.rec")
  }.toDF("did", "time_us", "collection")

  test("empty wanted sets pass all events (server.go:119-129)") {
    val spec = SubscriberSpec()
    assert(sample.filter(filterFor(spec)).count() == 300)
  }

  test("collection and did filters are conjunctive set-membership") {
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val colls = rnd.shuffle((0 until 5).toList).take(rnd.nextInt(5))
        .map(i => s"app.bsky.c$i.rec")
      val dids = rnd.shuffle((0 until 10).toList).take(rnd.nextInt(10))
        .map(i => s"did:plc:u$i")
      val hwm = rnd.nextInt(3000).toLong
      val spec = SubscriberSpec(colls, dids, hwm)
      val got = sample.filter(filterFor(spec)).count()
      val want = sample.collect().count { r =>
        val (d, t, c) = (r.getString(0), r.getLong(1), r.getString(2))
        (colls.isEmpty || colls.contains(c)) &&
          (dids.isEmpty || dids.contains(d)) && t > hwm
      }
      assert(got == want, s"seed=$seed")
    }
  }

  test("a missing collection passes any wanted-set; a missing did fails one (server.go:119,125)") {
    // identity/account events carry no collection — the reference's
    // `collection != ""` guard delivers them through collection filters;
    // the did check has no such guard
    val mixed = Seq(
      ("did:plc:u1", 10L, "app.bsky.feed.post"),
      ("did:plc:u1", 20L, null: String), // identity event
      ("did:plc:u1", 30L, ""), // empty-string form
      ("did:plc:u2", 40L, null: String),
      (null: String, 50L, "app.bsky.feed.post"))
      .toDF("did", "time_us", "collection")

    val collSpec = SubscriberSpec(wantedCollections = Seq("app.bsky.feed.post"))
    assert(mixed.filter(filterFor(collSpec)).count() == 5,
      "collection filter passes commits of the set AND every no-collection event")
    val otherColl = SubscriberSpec(wantedCollections = Seq("app.bsky.graph.follow"))
    assert(mixed.filter(filterFor(otherColl)).select("time_us").as[Long].collect().toSet
      == Set(20L, 30L, 40L), "only the no-collection events pass a non-matching set")
    val bothSpec = SubscriberSpec(Seq("app.bsky.graph.follow"), Seq("did:plc:u1"))
    assert(mixed.filter(filterFor(bothSpec)).select("time_us").as[Long].collect().toSet
      == Set(20L, 30L), "no-collection events still face the did filter")
    val didSpec = SubscriberSpec(wantedDids = Seq("did:plc:u9"))
    assert(mixed.filter(filterFor(didSpec)).count() == 0,
      "a null did fails a non-empty did set")

    // the JVM twin agrees frame by frame
    for (spec <- Seq(collSpec, otherColl, bothSpec, didSpec)) {
      val viaCol = mixed.filter(filterFor(spec)).select("time_us").as[Long].collect().toSet
      val viaJvm = mixed.collect().filter { r =>
        admits(spec, WireFrame(r.getLong(1),
          if (r.isNullAt(2)) null else r.getString(2),
          if (r.isNullAt(0)) null else r.getString(0), ""))
      }.map(_.getLong(1)).toSet
      assert(viaCol == viaJvm, s"admits parity for $spec")
    }
  }

  test("NSID/DID validation accepts reference examples, rejects garbage") {
    // FIXTURES.md §A: valid/invalid subscription parameters
    assert(validate(SubscriberSpec(Seq("app.bsky.feed.post"),
      Seq("did:plc:q6gjnaw2blty4crticxkmujt"))).isRight)
    assert(validate(SubscriberSpec(Seq("not a nsid"), Nil)).isLeft)
    assert(validate(SubscriberSpec(Nil, Seq("bogus"))).isLeft)
    assert(validate(SubscriberSpec(Seq("app.bsky.graph.follow"), Nil)).isRight)
    assert(validate(SubscriberSpec(Seq("nodots"), Nil)).isLeft)
  }

  test("fan-out serializes once, filters per subscriber (server.go:62-116)") {
    import org.apache.spark.sql.functions._
    val wire = sample.withColumn("wire",
      to_json(struct(col("did"), col("time_us"), col("collection"))))
    def view(spec: SubscriberSpec) = wire.filter(filterFor(spec))
    assert(view(SubscriberSpec()).count() == 300)
    assert(view(SubscriberSpec(wantedCollections = Seq("app.bsky.c0.rec"))).count() == 60)
    assert(view(SubscriberSpec(hwmUs = 2000)).count() == 100)
  }
}
