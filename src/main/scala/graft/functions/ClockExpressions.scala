package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** RaQL `now` on a stream: the wall clock in seconds, read each time a row
  * is evaluated, as ramen's `now` is read when its tuple is.
  *
  * Not foldable: Spark's `current_timestamp()` is folded into a new literal
  * by each micro-batch's optimizer, and a stage holding that literal is
  * compiled anew every trigger. This expression's generated code is the
  * same every batch, so the compiled stage is reused. */
case class WallClockSeconds() extends LeafExpression with Nondeterministic {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "wall_clock_seconds"
  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any =
    System.currentTimeMillis() / 1000.0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ev.copy(code = code"final double ${ev.value} = System.currentTimeMillis() / 1000.0;",
      isNull = FalseLiteral)
}
