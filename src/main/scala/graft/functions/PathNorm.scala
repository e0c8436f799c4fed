package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-able path normalization for the Delta scan/DML paths.
  *
  * The partition-value-injection join and the DML affected-file probe
  * normalize `input_file_name()` / `_metadata.file_path` (a possibly
  * percent-encoded URI string) to the decoded scheme-less absolute path.
  * Doing that with a Scala `udf(...)` puts a ScalaUDF node in every scan's
  * hot path — each row pays closure dispatch + String boxing and the node
  * blocks whole-stage codegen fusion. This expression emits ONE static call
  * inside generated code instead (same pattern as [[SrpBands]]), keeping
  * the scan inside a single WholeStageCodegen span.
  */
case class NormUriPath(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"norm_uri_path expects string, got ${dt.sql}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "norm_uri_path"

  override def nullSafeEval(s: Any): Any =
    PathNorm.normUri(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${PathNorm.cls}.normUri($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PathNorm {

  private[functions] val cls: String =
    PathNorm.getClass.getName.stripSuffix("$") + "$.MODULE$"

  /** UTF8String-native wrapper so generated code makes one static call. */
  def normUri(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.delta.DeltaActions.normUriPath(s.toString))

  private val uriInfo = new ExpressionInfo(
    NormUriPath.getClass.getName.stripSuffix("$"), null, "norm_uri_path",
    "_FUNC_(s) - decoded scheme-less absolute path of a scan-side file URI", "")

  /** Idempotently register the expression in the session registry. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("norm_uri_path"), uriInfo, exprs => NormUriPath(exprs.head))
  }
}
