package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** A per-query constant that generated code reads from the references
  * array instead of inlining it as a Java literal.
  *
  * `child` must be foldable (e.g. `unix_timestamp(current_timestamp())`);
  * this node is not, so constant folding stops at it. A streaming query
  * re-plans every micro-batch with a new batch timestamp. Inlined, the
  * timestamp makes every trigger generate new source that Janino compiles
  * again; read through `ctx.addReferenceObj`, the source is the same for
  * every trigger and hits the codegen cache.
  *
  * The streaming engine checks the plan again after it swaps
  * `current_timestamp()` for the non-foldable `current_batch_timestamp`,
  * which it turns into a literal only after optimization, so the type
  * check binds that node to its literal first.
  */
case class ConstantRef(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.transform { case t: CurrentBatchTimestamp => t.toLiteral }.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a foldable argument, got ${child.sql}")
  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "constant_ref"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.eval() match {
      case null =>
        ev.copy(code = EmptyBlock, isNull = TrueLiteral,
          value = JavaCode.defaultLiteral(dataType))
      case v =>
        val ref = ctx.addReferenceObj("constant", v, CodeGenerator.boxedType(dataType))
        ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
          isNull = FalseLiteral)
    }

  override protected def withNewChildInternal(newChild: Expression): ConstantRef =
    copy(child = newChild)
}

object ConstantRef {
  def constant_ref(c: Column): Column = Bridge.column(ConstantRef(Bridge.expression(c)))
}
