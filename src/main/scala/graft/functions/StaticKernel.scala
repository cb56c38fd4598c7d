package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** What a stateless kernel declares: its SQL name, one input type per
  * child, the result type, whether the function itself may return null
  * (a boxed result; a null input gives null either way), and the static
  * function `fn` of the Scala object `obj`, called with the children
  * followed by `args` as literals. */
final case class Kernel(name: String, inputs: Seq[DataType], result: DataType,
    nullable: Boolean = false, obj: AnyRef = TextKernelObjs)(val fn: String, val args: Any*)

object Kernel {
  val LongArray: DataType = ArrayType(LongType, containsNull = false)
}

/** The one shape of a stateless kernel, Spark's own for `base64`: the
  * expression exists for analysis — its SQL name and strict input types
  * (a wrong type fails, nothing is cast) — and the optimizer replaces it
  * by one [[StaticInvoke]] of its [[Kernel]], so whole-stage codegen
  * calls the static function directly. Kernels that carry a model built
  * on the driver keep their own eval and `addReferenceObj` codegen. */
trait StaticKernel extends RuntimeReplaceable with ExpectsInputTypes {
  def kernel: Kernel
  override def prettyName: String = kernel.name
  override def inputTypes: Seq[DataType] = kernel.inputs
  override lazy val replacement: Expression = {
    val k = kernel
    StaticInvoke(k.obj.getClass, k.result, k.fn, children ++ k.args.map(Literal(_)),
      returnNullable = k.nullable)
  }
  // the copies Catalyst makes when it rewrites a kernel's children
  protected def withNewChildInternal(c: Expression): Expression = legacyWithNewChildren(Seq(c))
  protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    legacyWithNewChildren(Seq(l, r))
}

object StaticKernel {
  /** The Column form of a kernel over one input column. */
  def on(input: Column)(kernel: Expression => Expression): Column =
    ColumnBridge.column(kernel(ColumnBridge.expression(input)))
}
