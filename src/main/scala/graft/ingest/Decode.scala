package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Event

/** Ingest-side decode: raw firehose commit frames → flat event rows
  * (reference pipeline: pkg/consumer/consumer.go:99-305, SURVEY §2.1
  * S3-S8). All steps are narrow (no shuffle) — the whole decode chain is
  * one map-side stage that fuses into a single WholeStageCodegen span, so
  * it scales linearly with input splits.
  *
  * Steps, each cited to the reference behavior it reproduces:
  *   1. too-big drop          (consumer.go:106-109)        → filter
  *   2. op explode, 1→N       (consumer.go:194, `for _, op`) → explode
  *   3. path split            (consumer.go:195-196)        → split '/'
  *   4. op-kind switch        (consumer.go:215-301):
  *        create/update keep record, verify CID; delete has no record;
  *        unknown kinds dropped                            → when/filter
  *   5. CID-mismatch drop     (consumer.go:227-231)        → filter
  *   6. envelope build        (consumer.go:210-213,245-297) → struct()
  */
object Decode {

  /** Raw JSON lines of commit frames → parsed frames. */
  def parseFrames(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw.select(from_json(col(jsonCol), Event.rawCommitSchema).as("f"))
      .select(col("f.*"))

  private def opKindToType: Column =
    when(col("op.action") === "create", Event.CommitCreate)
      .when(col("op.action") === "update", Event.CommitUpdate)
      .when(col("op.action") === "delete", Event.CommitDelete)

  /** Parsed frames → one row per op, with the jetstream commit-event
    * envelope columns. Deletes carry null record/cid; creates/updates
    * with a CID mismatch between the op and the fetched record are
    * dropped (at-least-once upstream ⇒ safe to drop corrupt frames).
    */
  def explodeOps(frames: DataFrame): DataFrame =
    frames
      .filter(!coalesce(col("tooBig"), lit(false))) // S4
      .select(col("did"), col("rev"), col("time"), explode(col("ops")).as("op")) // S6
      .withColumn("opType", opKindToType) // S7
      .filter(col("opType").isNotNull) // unknown kind → drop (consumer.go:298-301)
      .filter( // CID check only applies when a record was fetched (consumer.go:227-231)
        col("opType") === Event.CommitDelete ||
          col("op.cid") === col("op.recordCid"))
      .select(
        col("did"),
        col("time"),
        lit(Event.TypeCommit).as("type"),
        struct(
          col("rev"),
          col("opType").as("type"),
          split(col("op.path"), "/").getItem(0).as("collection"), // S6 path split
          split(col("op.path"), "/").getItem(1).as("rkey"),
          when(col("opType") =!= Event.CommitDelete, col("op.record")).as("record"), // S8
          when(col("opType") =!= Event.CommitDelete, col("op.cid")).as("cid"))
          .as("commit"))

  /** Raw JSON lines of MIXED firehose frames (commit + identity +
    * account) → parsed frames with the `t` discriminator
    * (pkg/consumer/consumer.go:99-161's XRPCStreamEvent switch input).
    */
  def parseMixedFrames(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    // the parse projection is FENCED: downstream filters/projections
    // reference the parsed struct attribute instead of having the
    // from_json alias substituted into each of them by pushdown/
    // collapse — one JSON parse per row, not one per operator
    // (graft.plans.Fence has the full why)
    graft.plans.Fence.wrap(
      raw.select(from_json(col(jsonCol), Event.rawFrameSchema).as("f")))
      .select(col("f.*"))

  /** Mixed frames → envelope events (the full HandleStreamEvent switch,
    * consumer.go:102-155): commit frames run the op-explode chain;
    * identity/account frames each become one envelope event carrying
    * their payload struct (consumer.go:122-126, 145-149). The RFC3339
    * `time` is parsed to `event_time_us` (consumer.go:115,138); frames
    * whose time fails to parse are dropped, matching the reference's
    * log-and-return-nil.
    *
    * SINGLE-PASS: one scan, one explode (identity/account carry one
    * pseudo-op), one conditional projection — not a 3-branch union,
    * which would re-read (and re-JSON-parse) the source once per
    * branch. The whole chain is narrow and fuses into one
    * WholeStageCodegen stage; measured 3× cheaper at sf0.1.
    */
  def decodeFrames(frames: DataFrame): DataFrame = {
    val opElemType = Event.rawFrameSchema("ops").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val isCommit = col("t") === "#commit"
    frames
      .filter( // S4 too-big drop applies to commit frames only
        (isCommit && !coalesce(col("tooBig"), lit(false))) ||
          col("t") === "#identity" || col("t") === "#account")
      .select(col("t"), col("did"), col("seq"), col("time"), col("rev"),
        col("handle"), col("active"), col("status"),
        explode(when(isCommit, col("ops"))
          .otherwise(array(lit(null).cast(opElemType)))).as("op"))
      .withColumn("opType", opKindToType) // null on the non-commit pseudo-op
      .filter(!isCommit || (col("opType").isNotNull && // unknown kind → drop
        (col("opType") === Event.CommitDelete || // CID check (consumer.go:227-231)
          col("op.cid") === col("op.recordCid"))))
      .select(
        col("did"),
        col("time"),
        when(isCommit, lit(Event.TypeCommit))
          .when(col("t") === "#identity", lit(Event.TypeIdentity))
          .otherwise(lit(Event.TypeAccount)).as("type"),
        when(isCommit, struct(
          col("rev"),
          col("opType").as("type"),
          split(col("op.path"), "/").getItem(0).as("collection"),
          split(col("op.path"), "/").getItem(1).as("rkey"),
          when(col("opType") =!= Event.CommitDelete, col("op.record")).as("record"),
          when(col("opType") =!= Event.CommitDelete, col("op.cid")).as("cid")))
          .as("commit"),
        when(col("t") === "#account",
          struct(col("active"), col("did"), col("seq"), col("time"), col("status")))
          .as("account"),
        when(col("t") === "#identity",
          struct(col("did"), col("handle"), col("seq"), col("time")))
          .as("identity"))
      // try_to_timestamp: ANSI-safe — a malformed RFC3339 yields null (then
      // dropped), not a query-killing cast error
      .withColumn("event_time_us", unix_micros(try_to_timestamp(col("time"))))
      .filter(col("event_time_us").isNotNull) // RFC3339 parse failure → drop
  }

  /** S3 — event-type router: split a mixed event stream into the three
    * payload branches (reference: the `switch` in `HandleStreamEvent`,
    * pkg/consumer/consumer.go:99-161). Each branch is a filtered view of
    * the same scan — Catalyst reuses the source; unknown types fall into
    * no branch (the reference logs-and-drops them).
    */
  def route(events: DataFrame): Map[String, DataFrame] = Map(
    Event.TypeCommit   -> events.filter(col("type") === Event.TypeCommit),
    Event.TypeAccount  -> events.filter(col("type") === Event.TypeAccount),
    Event.TypeIdentity -> events.filter(col("type") === Event.TypeIdentity))

  /** Wire-format serialization: one event row → one JSON text column,
    * field order/naming per the reference examples (README.md:60-129).
    * `to_json` drops null struct fields like Go's `omitempty`, and the
    * raw-JSON `record` payload is re-inlined as a nested object (not an
    * escaped string) via Spark 4's variant type — the `json.RawMessage`
    * passthrough on the way out. This is the serialize-once half of S17 —
    * callers fan the single `wire` column out to N subscribers.
    * Storage-layout columns (`event_hour`) are excluded from the wire.
    */
  def toWire(events: DataFrame, exclude: Set[String] = Set("event_hour")): DataFrame =
    events.withColumn("wire", wire(events, exclude))

  /** The [[toWire]] JSON of one row of `events`, as a column. */
  def wire(events: DataFrame, exclude: Set[String] = Set("event_hour")): Column = {
    val withInlineRecord = events.columns.filterNot(exclude).toIndexedSeq.map {
      case "commit" =>
        when(col("commit").isNotNull, struct(
          col("commit.rev").as("rev"),
          col("commit.type").as("type"),
          col("commit.collection").as("collection"),
          col("commit.rkey").as("rkey"),
          try_parse_json(col("commit.record")).as("record"),
          col("commit.cid").as("cid"))).as("commit")
      case name => col(name)
    }
    to_json(struct(withInlineRecord: _*), Map("ignoreNullFields" -> "true"))
  }
}
