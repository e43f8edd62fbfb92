package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** S2 — AT-proto syntax validation (reference:
  * cmd/jetstream/server.go:250-287, indigo `syntax.ParseNSID` /
  * `syntax.ParseDID`) as native Catalyst expressions.
  *
  * Why an Expression and not a UDF (SURVEY §4 "candidate custom
  * pieces"): a ScalaUDF crosses the codegen boundary per row (boxing +
  * null-handling wrapper + closure call); a native UnaryExpression with
  * `doGenCode` stays inside WholeStageCodegen — the generated code calls
  * one static method on a precompiled Pattern. This sits on the serving
  * hot path (every subscribe parameter / ingest collection passes
  * through it).
  */
object SyntaxCheck {
  // conservative approximations of the atproto specs, the one rule for
  // subscribe validation (Subscribe.validate) and SQL: an NSID is dotted,
  // ≥3 segments, last segment a name (indigo `syntax.ParseNSID`); a DID
  // is `did:<method>:<id>` (indigo `syntax.ParseDID`)
  private val Nsid = java.util.regex.Pattern.compile(
    "[a-zA-Z]([a-zA-Z0-9-]*)(\\.[a-zA-Z0-9-]+)+\\.[a-zA-Z]([a-zA-Z0-9]*)")
  private val Did = java.util.regex.Pattern.compile(
    "did:[a-z]+:[a-zA-Z0-9._:%-]*[a-zA-Z0-9._-]")

  def isNsidStr(s: String): Boolean = s != null && Nsid.matcher(s).matches()
  def isDidStr(s: String): Boolean = s != null && Did.matcher(s).matches()
  def isNsid(s: UTF8String): Boolean = s != null && isNsidStr(s.toString)
  def isDid(s: UTF8String): Boolean = s != null && isDidStr(s.toString)
}

abstract class SyntaxValidExpression extends UnaryExpression {
  override def dataType: DataType = BooleanType
  protected def checkMethod: String

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    checkMethod match {
      case "isNsid" => SyntaxCheck.isNsid(input.asInstanceOf[UTF8String])
      case _        => SyntaxCheck.isDid(input.asInstanceOf[UTF8String])
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SyntaxCheck.$checkMethod($c)")
}

/** `nsid_valid(str)` — true iff str is a syntactically valid NSID. */
case class NsidValid(child: Expression) extends SyntaxValidExpression {
  override protected def checkMethod: String = "isNsid"
  override def prettyName: String = "nsid_valid"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `did_valid(str)` — true iff str is a syntactically valid DID. */
case class DidValid(child: Expression) extends SyntaxValidExpression {
  override protected def checkMethod: String = "isDid"
  override def prettyName: String = "did_valid"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
