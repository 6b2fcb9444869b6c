package graft.near

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native string expressions: one virtual call per row beats a Scala
  * UDF's encoder round-trip, and the function stays inside the
  * Catalyst plan (pushdown/pruning survive).
  */
object Strings {

  /** graft_escape_default(s): Rust `char::escape_default` parity
    * (`database/src/models/serializers.rs:137-152`, applied to event
    * fields by the FT/NFT models) — delegates to the single shared
    * implementation in BlockParser so parser and events paths cannot
    * drift.
    */
  case class EscapeDefault(child: Expression) extends UnaryExpression
      with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"graft_escape_default requires string, got ${other.catalogString}")
      }
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(graft.near.BlockParser.escapeDefault(
        input.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): EscapeDefault =
      copy(c)
  }

  /** graft_embed_args_json(args): the 2021-05-07 args_json backfill's
    * per-row conversion (see BlockParser.embedArgsJson).
    */
  case class EmbedArgsJson(child: Expression) extends UnaryExpression
      with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"graft_embed_args_json requires string, got ${other.catalogString}")
      }
    override def dataType: DataType = StringType
    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(graft.near.BlockParser.embedArgsJson(
        input.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): EmbedArgsJson =
      copy(c)
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "graft_escape_default", exprs => EscapeDefault(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_embed_args_json", exprs => EmbedArgsJson(exprs.head), "scala_udf")
  }

  def escapeDefault(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("graft_escape_default", c)
  }

  def embedArgsJson(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("graft_embed_args_json", c)
  }
}
