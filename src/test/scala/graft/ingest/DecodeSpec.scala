package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Event

/** Op-explode / op-kind-switch semantics (reference
  * pkg/consumer/consumer.go:106-109,194-305).
  */
class DecodeSpec extends SparkSpec {
  import spark.implicits._

  private val frames = Seq(
    // 3 ops in one frame: create (cid ok), delete, update with CID mismatch
    """{"did":"did:plc:alice","rev":"r1","seq":1,"time":"2024-09-05T06:11:04.870Z","tooBig":false,
       "ops":[
         {"action":"create","path":"app.bsky.feed.post/k1","cid":"c1","recordCid":"c1","record":{"text":"hi"}},
         {"action":"delete","path":"app.bsky.graph.follow/k2"},
         {"action":"update","path":"app.bsky.feed.post/k3","cid":"c3","recordCid":"DIFFERENT","record":{"text":"nope"}}
       ]}""".replaceAll("\n\\s*", ""),
    // tooBig frame: dropped entirely (consumer.go:106-109)
    """{"did":"did:plc:bob","rev":"r2","seq":2,"time":"2024-09-05T06:12:00.000Z","tooBig":true,
       "ops":[{"action":"create","path":"app.bsky.feed.post/k4","cid":"c4","recordCid":"c4","record":{}}]}"""
      .replaceAll("\n\\s*", ""),
    // unknown op kind: dropped (consumer.go:298-301)
    """{"did":"did:plc:carol","rev":"r3","seq":3,"time":"2024-09-05T06:13:00.000Z","tooBig":false,
       "ops":[{"action":"frobnicate","path":"app.bsky.feed.post/k5"}]}""".replaceAll("\n\\s*", ""))

  private lazy val decoded =
    Decode.explodeOps(Decode.parseFrames(frames.toDF("value"))).cache()

  test("op explode emits one event per valid op; invalid ops dropped") {
    // of 5 ops total: create ok, delete ok; cid-mismatch, tooBig, unknown → dropped
    assert(decoded.count() == 2)
  }

  test("create op keeps raw record JSON and splits path") {
    val create = decoded.filter(col("commit.type") === Event.CommitCreate).head()
    val commit = create.getStruct(create.fieldIndex("commit"))
    assert(commit.getAs[String]("collection") == "app.bsky.feed.post")
    assert(commit.getAs[String]("rkey") == "k1")
    assert(commit.getAs[String]("record").contains("\"text\":\"hi\""))
    assert(commit.getAs[String]("cid") == "c1")
  }

  test("delete op carries no record or cid") {
    val del = decoded.filter(col("commit.type") === Event.CommitDelete).head()
    val commit = del.getStruct(del.fieldIndex("commit"))
    assert(commit.getAs[String]("collection") == "app.bsky.graph.follow")
    assert(commit.getAs[String]("record") == null)
    assert(commit.getAs[String]("cid") == null)
  }

  test("mixed stream decodes commit + identity + account envelopes (consumer.go:99-161)") {
    val mixed = Seq(
      // commit frame (1 valid create op)
      """{"t":"#commit","did":"did:plc:alice","rev":"r1","seq":1,"time":"2024-09-05T06:11:04.870Z","tooBig":false,
         "ops":[{"action":"create","path":"app.bsky.feed.post/k1","cid":"c1","recordCid":"c1","record":{"text":"hi"}}]}"""
        .replaceAll("\n\\s*", ""),
      // identity frame (fields per golden/identity_update.json payload)
      """{"t":"#identity","did":"did:plc:ufbl4k27gp6kzas5glhz7fim","seq":1409752997,
         "time":"2024-09-05T06:11:04.870Z","handle":"yohenrique.bsky.social"}""".replaceAll("\n\\s*", ""),
      // account frame (fields per golden/account_active.json payload)
      """{"t":"#account","did":"did:plc:ufbl4k27gp6kzas5glhz7fim","seq":1409753013,
         "time":"2024-09-05T06:11:04.870Z","active":true}""".replaceAll("\n\\s*", ""),
      // bad RFC3339 time: dropped like the reference's log-and-return (consumer.go:116-119)
      """{"t":"#identity","did":"did:plc:bad","seq":9,"time":"not-a-time","handle":"x"}""")
    val out = Decode.decodeFrames(Decode.parseMixedFrames(mixed.toDF("value"))).cache()

    assert(out.count() == 3)
    assert(out.select("type").as[String].collect().toSet == Set("com", "id", "acc"))
    // RFC3339 → µs (consumer.go:115,138)
    assert(out.select("event_time_us").as[Long].collect().toSet == Set(1725516664870000L))

    val id = out.filter(col("type") === Event.TypeIdentity).head()
    val idp = id.getStruct(id.fieldIndex("identity"))
    assert(idp.getAs[String]("handle") == "yohenrique.bsky.social")
    assert(idp.getAs[Long]("seq") == 1409752997L)
    assert(id.isNullAt(id.fieldIndex("commit")) && id.isNullAt(id.fieldIndex("account")))

    val acc = out.filter(col("type") === Event.TypeAccount).head()
    val accp = acc.getStruct(acc.fieldIndex("account"))
    assert(accp.getAs[Boolean]("active"))
    assert(accp.getAs[String]("status") == null) // omitted on wire like Go omitempty
    assert(acc.isNullAt(acc.fieldIndex("commit")) && acc.isNullAt(acc.fieldIndex("identity")))

    // wire serialization of decoded acc/id matches the golden envelope payloads
    val wires = Decode.toWire(out, exclude = Set("event_hour", "time", "event_time_us"))
      .select("wire").as[String].collect()
    val goldenId = """"identity":{"did":"did:plc:ufbl4k27gp6kzas5glhz7fim","handle":"yohenrique.bsky.social","seq":1409752997,"time":"2024-09-05T06:11:04.870Z"}"""
    assert(wires.exists(_.contains(goldenId)))
    assert(wires.exists(w => w.contains(""""account":{"active":true""") && w.contains(""""type":"acc"""")))
  }

  test("garbage and unknown-kind frames are dropped, never crash the stream") {
    val out = Decode.decodeFrames(Decode.parseMixedFrames(Seq(
      "not json at all",
      """{"t":"#weird","did":"did:plc:x","seq":1,"time":"2024-09-05T06:11:04.870Z"}""",
      """{"no":"discriminator"}""").toDF("value")))
    assert(out.count() == 0) // error-frame arm: log-and-drop (consumer.go:156-159)
  }

  /** The shipped decode (`decodeFrames(parseMixedFrames(…))`, what the
    * WebSocket ingest runs) over one commit frame per (tooBig, ops JSON)
    * pair, frame `i` from `did:plc:f<i>`: the (did, rkey) of each row
    * it keeps.
    */
  private def shipped(commits: (Boolean, String)*): Set[(String, String)] =
    Decode.decodeFrames(Decode.parseMixedFrames(commits.zipWithIndex.map { case ((tooBig, ops), i) =>
      s"""{"t":"#commit","did":"did:plc:f$i","rev":"r$i","seq":$i,"time":"2024-09-05T06:11:04.870Z",""" +
        s""""tooBig":$tooBig,"ops":[$ops]}"""
    }.toDF("value")))
      .select(col("did"), col("commit.rkey")).as[(String, String)].collect().toSet

  private def op(action: String, rkey: String, cid: String = "c", recordCid: String = "c") =
    s"""{"action":"$action","path":"app.bsky.feed.post/$rkey","cid":"$cid","recordCid":"$recordCid","record":{"text":"t"}}"""

  test("shipped decode: a tooBig commit is dropped whole (consumer.go:106-109)") {
    assert(shipped(
      false -> op("create", "kept"),
      true -> Seq(op("create", "big1"), op("delete", "big2")).mkString(",")) ==
      Set("did:plc:f0" -> "kept"))
  }

  test("shipped decode: a create or update whose CIDs differ is dropped, its siblings kept (consumer.go:227-231)") {
    assert(shipped(false -> Seq(
      op("create", "ok"),
      op("create", "bad1", cid = "c1", recordCid = "c2"),
      op("update", "bad2", cid = "c3", recordCid = "c4"),
      op("delete", "del", cid = "c5", recordCid = "c6")).mkString(",")) ==
      Set("did:plc:f0" -> "ok", "did:plc:f0" -> "del"))
  }

  test("shipped decode: an op of unknown kind is dropped, its siblings kept (consumer.go:298-301)") {
    assert(shipped(false -> Seq(op("frobnicate", "odd"), op("update", "ok")).mkString(",")) ==
      Set("did:plc:f0" -> "ok"))
  }

  test("wire serialization omits null fields like Go omitempty") {
    val wire = Decode.toWire(decoded.filter(col("commit.type") === Event.CommitDelete))
      .select("wire").as[String].head()
    assert(!wire.contains("\"record\""))
    assert(wire.contains("\"type\":\"com\""))
    assert(wire.contains("\"collection\":\"app.bsky.graph.follow\""))
  }
}
