package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Event

/** S3 router, S29 cursor precedence. */
class RouterSpec extends SparkSpec {
  import spark.implicits._

  test("route splits the golden event mix into payload branches (consumer.go:99-161)") {
    val lines = Seq("commit_create_like", "commit_delete_follow",
      "identity_update", "account_active").map { n =>
      val src = scala.io.Source.fromResource(s"golden/$n.json")
      try src.mkString.trim finally src.close()
    } :+ """{"did":"did:plc:x","time_us":1,"type":"weird"}"""
    val events = lines.toDF("value")
      .select(from_json(col("value"), Event.wireSchema).as("e")).select("e.*")
    val branches = Decode.route(events)
    assert(branches(Event.TypeCommit).count() == 2)
    assert(branches(Event.TypeIdentity).count() == 1)
    assert(branches(Event.TypeAccount).count() == 1)
    // unknown type lands in no branch (drop semantics)
    assert(branches.values.map(_.count()).sum == 4)
  }

  test("cursor precedence: override > stored > live (main.go:280-297)") {
    import IngestJob.resolveStartCursor
    assert(resolveStartCursor(Some(5L), Some(9L)) == Some(5L))
    assert(resolveStartCursor(Some(-1L), Some(9L)) == Some(9L)) // negative override ignored
    assert(resolveStartCursor(None, Some(9L)) == Some(9L))
    assert(resolveStartCursor(None, Some(-3L)) == None)
    assert(resolveStartCursor(None, None) == None)
  }
}
