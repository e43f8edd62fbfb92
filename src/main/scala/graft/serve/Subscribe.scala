package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The serving-layer predicate model (reference:
  * cmd/jetstream/server.go:118-136 `emitToSubscriber`, and the parameter
  * validation at server.go:250-287).
  *
  * A subscription is three independent predicates ANDed, each with
  * "empty ⇒ pass-all" semantics:
  *   - wantedCollections (S14, server.go:119-123) — applies ONLY to
  *     events that carry a collection: the reference guards the check
  *     with `collection != ""`, so non-commit events (identity/account,
  *     whose collection is empty) pass every collection filter
  *   - wantedDids        (S15, server.go:125-129) — applies to ALL events
  *   - time_us > hwm     (S16, server.go:131-134 — the per-subscriber
  *                        high-water mark that dedups the replay/live
  *                        overlap)
  *
  * `filterFor` builds one Column so Catalyst can reorder/push all
  * conjuncts into the scan; for very large wanted-sets callers should
  * join a broadcast keyed DataFrame instead (same semantics, hash lookup
  * instead of linear isin).
  */
object Subscribe {

  final case class SubscriberSpec(
      wantedCollections: Seq[String] = Nil,
      wantedDids: Seq[String] = Nil,
      hwmUs: Long = Long.MinValue)

  /** S2 — parameter validation at the query boundary: NSID and DID
    * syntax (the reference's `syntax.ParseNSID`/`ParseDID` at
    * server.go:253-271), one rule shared with the SQL `nsid_valid`/
    * `did_valid` checks ([[graft.functions.SyntaxCheck]]).
    */
  def validate(spec: SubscriberSpec): Either[String, SubscriberSpec] = {
    val badNsid = spec.wantedCollections.filterNot(graft.functions.SyntaxCheck.isNsidStr)
    val badDid = spec.wantedDids.filterNot(graft.functions.SyntaxCheck.isDidStr)
    if (badNsid.nonEmpty) Left(s"invalid NSIDs: ${badNsid.mkString(",")}")
    else if (badDid.nonEmpty) Left(s"invalid DIDs: ${badDid.mkString(",")}")
    else Right(spec)
  }

  /** One serialized live event at the serving edge: the routing columns
    * the subscriber predicates need plus the wire JSON — the in-process
    * shape of the reference's emit-loop event (server.go:62-73: marshal
    * once, keep the bytes plus the envelope fields for per-subscriber
    * predicate checks).
    */
  final case class WireFrame(timeUs: Long, collection: String, did: String, wire: String)

  /** JVM twin of [[filterFor]] for the driver-side emit loop — same
    * three conjuncts. A missing (null/empty) collection PASSES any
    * wanted-set (the reference's `collection != ""` guard,
    * server.go:119: collection filters only filter commits; identity/
    * account events flow to every subscriber). A null did still fails a
    * non-empty did set — the reference's did check has no such guard.
    */
  def admits(spec: SubscriberSpec, f: WireFrame): Boolean =
    (spec.wantedCollections.isEmpty || f.collection == null || f.collection.isEmpty ||
      spec.wantedCollections.contains(f.collection)) &&
    (spec.wantedDids.isEmpty ||
      (f.did != null && spec.wantedDids.contains(f.did))) &&
    f.timeUs > spec.hwmUs

  /** Resolve the event's collection for a concrete frame shape: the
    * flat `collection` column (the fixture/bench table shape) or the
    * envelope's `commit.collection` (the wire event shape — the
    * reference reads `event.Commit.Collection`, server.go:119-123).
    * Null when neither exists: identity/account events carry no
    * collection and PASS every wanted-set (the reference's
    * `collection != ""` guard at server.go:119).
    */
  def resolvedCollection(df: DataFrame): Column = {
    import org.apache.spark.sql.types.{StringType, StructType}
    if (df.columns.contains("collection")) col("collection")
    else df.schema.fields.find(_.name == "commit").map(_.dataType) match {
      case Some(s: StructType) if s.fieldNames.contains("collection") =>
        col("commit.collection")
      case _ => lit(null).cast(StringType)
    }
  }

  /** The event's `did` column, or null for a shape without one. */
  def resolvedDid(df: DataFrame): Column = {
    import org.apache.spark.sql.types.StringType
    if (df.columns.contains("did")) col("did") else lit(null).cast(StringType)
  }

  /** [[filterFor]] with the collection/did conjuncts resolved against
    * `df`'s actual shape — flat fixture columns or the nested wire
    * envelope. Use at any serving boundary that must accept both.
    */
  def filterForDf(spec: SubscriberSpec, df: DataFrame): Column = {
    val collOk: Column =
      if (spec.wantedCollections.isEmpty) lit(true)
      else {
        val c = resolvedCollection(df)
        c.isNull || c === "" || c.isin(spec.wantedCollections: _*)
      }
    val didOk: Column =
      if (spec.wantedDids.isEmpty) lit(true)
      else resolvedDid(df).isin(spec.wantedDids: _*)
    collOk && didOk && (col("time_us") > spec.hwmUs)
  }

  /** The compound subscriber predicate (empty set ⇒ pass-all; a
    * missing collection passes any wanted-set — server.go:119's
    * `collection != ""` guard).
    */
  def filterFor(spec: SubscriberSpec,
      collectionCol: String = "collection",
      didCol: String = "did",
      timeCol: String = "time_us"): Column = {
    val collOk: Column =
      if (spec.wantedCollections.isEmpty) lit(true)
      else col(collectionCol).isNull || col(collectionCol) === "" ||
        col(collectionCol).isin(spec.wantedCollections: _*)
    val didOk: Column =
      if (spec.wantedDids.isEmpty) lit(true)
      else col(didCol).isin(spec.wantedDids: _*)
    collOk && didOk && (col(timeCol) > spec.hwmUs)
  }
}
