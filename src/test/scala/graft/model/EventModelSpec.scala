package graft.model

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden-event tests (SURVEY §5.2): the four documented reference events
  * (README.md:60-129) must round-trip through our wire schema.
  */
class EventModelSpec extends SparkSpec {
  import spark.implicits._

  private def golden(name: String): String = {
    val src = scala.io.Source.fromResource(s"golden/$name.json")
    try src.mkString.trim finally src.close()
  }

  private def parse(name: String) =
    Seq(golden(name)).toDF("value")
      .select(from_json(col("value"), Event.wireSchema).as("e"))
      .select("e.*")

  test("golden commit/create parses with nested record kept as raw JSON") {
    val row = parse("commit_create_like").head()
    assert(row.getAs[String]("did") == "did:plc:eygmaihciaxprqvxpfvl6flk")
    assert(row.getAs[Long]("time_us") == 1725911162329308L)
    assert(row.getAs[String]("type") == Event.TypeCommit)
    val commit = row.getStruct(row.fieldIndex("commit"))
    assert(commit.getAs[String]("collection") == "app.bsky.feed.like")
    assert(commit.getAs[String]("type") == Event.CommitCreate)
    assert(commit.getAs[String]("rkey") == "3l3qo2vuowo2b")
    // schemaless record payload survives as raw JSON text (models.go:23)
    val record = commit.getAs[String]("record")
    assert(record.contains("\"$type\":\"app.bsky.feed.like\""))
    assert(record.contains("at://did:plc:wa7b35aakoll7hugkrjtf3xf"))
  }

  test("golden commit/delete has null record and cid") {
    val row = parse("commit_delete_follow").head()
    val commit = row.getStruct(row.fieldIndex("commit"))
    assert(commit.getAs[String]("type") == Event.CommitDelete)
    assert(commit.getAs[String]("record") == null)
    assert(commit.getAs[String]("cid") == null)
    assert(row.isNullAt(row.fieldIndex("account")))
    assert(row.isNullAt(row.fieldIndex("identity")))
  }

  test("golden identity event parses") {
    val row = parse("identity_update").head()
    assert(row.getAs[String]("type") == Event.TypeIdentity)
    val id = row.getStruct(row.fieldIndex("identity"))
    assert(id.getAs[String]("handle") == "yohenrique.bsky.social")
    assert(id.getAs[Long]("seq") == 1409752997L)
  }

  test("golden account event parses") {
    val row = parse("account_active").head()
    assert(row.getAs[String]("type") == Event.TypeAccount)
    val acc = row.getStruct(row.fieldIndex("account"))
    assert(acc.getAs[Boolean]("active"))
    assert(acc.getAs[Long]("seq") == 1409753013L)
  }

  test("per-collection record view parses golden like record (README.md:60-81)") {
    import org.apache.spark.sql.functions._
    val src = scala.io.Source.fromResource("golden/commit_create_like.json")
    val golden = try src.mkString.trim finally src.close()
    val events = Seq(golden).toDF("value")
      .select(from_json(col("value"), graft.model.Event.wireSchema).as("e"))
      .select("e.*")
    val view = Collections.recordView(events, Collections.Like)
    val rec = view.select("record.*").head()
    assert(rec.getAs[String]("$type") == "app.bsky.feed.like")
    assert(rec.getAs[String]("createdAt") == "2024-09-09T19:46:02.102Z")
    val subject = rec.getStruct(rec.fieldIndex("subject"))
    assert(subject.getAs[String]("uri").startsWith("at://did:plc:wa7b35"))
    // unknown collection rejected explicitly, raw passthrough preserved
    intercept[IllegalArgumentException] {
      Collections.recordView(events, "com.example.unknown")
    }
  }
}
