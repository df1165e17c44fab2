package graft.expr

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** A BINARY value held in a Spark broadcast variable, as a plan leaf.
  * A large constant (the bloom screen's 8 MiB blob) enters the plan as
  * this handle instead of a `Literal`: the plan holds the broadcast id,
  * not the bytes, so explain strings, plan-info copies and expression
  * hashing never walk the array, and executors fetch it once per
  * broadcast rather than once per task closure.
  *
  * Deterministic but not foldable, so ConstantFolding cannot turn it
  * back into a Literal. Generated code reads `bc.value()` once per
  * generated-class instance (a mutable-state init), not once per row.
  * Equality is the broadcast's identity. */
case class BroadcastBinary(bc: Broadcast[Array[Byte]]) extends LeafExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = bc.value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bc", bc, classOf[Broadcast[_]].getName)
    val v = ctx.addMutableState("byte[]", "bcValue",
      v => s"$v = (byte[]) $ref.value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(v, BinaryType))
  }

  override def toString: String = s"broadcast#${bc.id}"
  override def sql: String = toString
}
