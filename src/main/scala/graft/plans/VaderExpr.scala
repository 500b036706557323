package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** VADER compound score as a native Catalyst expression (SURVEY.md §2.9 D1).
  *
  * A codegen'd `Expression` rather than a Scala UDF: the generated code calls
  * the static scorer directly inside whole-stage codegen — no
  * serialization, no closure capture, no per-row analyzer construction (the
  * reference rebuilds its analyzer every row, redditProcessor.py:24).
  */
case class VaderCompound(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(v: Any): Any =
    graft.functions.VaderSentiment.compound(v.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VaderSentiment.compound($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): VaderCompound =
    copy(child = newChild)

  override def prettyName: String = "vader_compound"
}

object VaderExpr {
  /** Registers the custom functions the session lacks, `vader_compound`
    * among them. Sessions built with `GraftExtensions` already carry them;
    * this stays only because the perfbench harness calls it. */
  def register(spark: SparkSession): Unit = GraftExtensions.install(spark)

  /** Column API: requires a session built with `GraftExtensions`. */
  def vaderCompound(c: Column): Column =
    org.apache.spark.sql.functions.call_function("vader_compound", c)
}
