package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, TimestampType}

/** One non-null `TimestampType` value (microseconds since the epoch)
  * that generated code reads through `ctx.addReferenceObj`, never inlines.
  *
  * `current_timestamp()` is folded by the optimizer into a timestamp
  * `Literal`, and `Literal` codegen writes the value into the Java
  * source (`…L`). A stage stamping with it is new source on every query,
  * so Janino compiles it again and the stage starts cold in a new class.
  * Here the value lives in the stage's `references` array: two plans
  * that differ only in the stamp generate byte-identical source and
  * share one compiled class from the codegen cache.
  *
  * Not foldable, so constant folding leaves it alone; deterministic, so
  * every row of one query reads the same value — the `current_timestamp()`
  * contract. */
case class ReferencedTimestamp(micros: Long) extends LeafExpression {

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "graft_stamp"

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stamp", java.lang.Long.valueOf(micros), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}
