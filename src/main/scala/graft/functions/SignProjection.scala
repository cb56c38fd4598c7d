package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** All sign-random-projection LSH table signatures for one vector, in ONE
  * kernel: output[t] packs `bits` hyperplane signs into a long
  * (`bit j set ⇔ dot(vec, planes[t*bits+j]) ≥ 0`).
  *
  * Why an expression and not `numTables × bits` [[DotProduct]] columns: a
  * 8-table × 16-bit signature needs 128 dot products per row; expanded as
  * separate expressions the generated code blows past whole-stage
  * codegen's size limits and Spark silently falls back to interpreted
  * per-expression eval — measured ~100× slower on the banded-LSH stage
  * (round 3). Here the plane matrix rides along as ONE
  * reference object and the kernel is three tight primitive loops: a
  * single pass per plane with no boxing, no intermediate arrays, and
  * codegen output whose size is INDEPENDENT of numTables/bits.
  *
  * Null/length semantics are lenient, matching [[DotProduct]]'s default:
  * null elements contribute 0, a short vector dots over its prefix, a
  * null vector yields a null signature array.
  */
case class SignProjection(child: Expression, planes: Array[Array[Double]],
                          numTables: Int, bits: Int) extends UnaryExpression {

  require(numTables > 0 && bits > 0 && bits <= 63,
    s"need 1..63 signature bits per table and ≥1 table, got $numTables×$bits")
  require(planes.length == numTables * bits,
    s"plane matrix has ${planes.length} rows, expected numTables*bits = ${numTables * bits}")

  override def prettyName: String = "graft_sign_projection"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemType: Option[DataType] = child.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case Some(_) => TypeCheckResult.TypeCheckSuccess
    case None => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> input, got ${child.dataType.sql}")
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val float = elemType.contains(FloatType)
    val sigs = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var sig = 0L
      var j = 0
      while (j < bits) {
        val p = planes(t * bits + j)
        val n = math.min(a.numElements(), p.length)
        var s = 0.0
        var i = 0
        while (i < n) {
          if (!a.isNullAt(i))
            s += (if (float) a.getFloat(i).toDouble else a.getDouble(i)) * p(i)
          i += 1
        }
        if (s >= 0) sig |= 1L << j
        j += 1
      }
      sigs(t) = sig
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sigs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mat = ctx.addReferenceObj("planes", planes, "double[][]")
    val getter = if (elemType.contains(FloatType)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, a => {
      val sigs = ctx.freshName("sigs")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val sig = ctx.freshName("sig")
      s"""
         |long[] $sigs = new long[$numTables];
         |for (int $t = 0; $t < $numTables; $t++) {
         |  long $sig = 0L;
         |  for (int $j = 0; $j < $bits; $j++) {
         |    double[] $p = $mat[$t * $bits + $j];
         |    int $n = java.lang.Math.min($a.numElements(), $p.length);
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      if (!$a.isNullAt($i)) $s += (double) $a.$getter($i) * $p[$i];
         |    }
         |    if ($s >= 0) $sig |= 1L << $j;
         |  }
         |  $sigs[$t] = $sig;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sigs);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignProjection {
  def apply(vec: Column, planes: Array[Array[Double]],
            numTables: Int, bits: Int): Column =
    ColumnBridge.column(SignProjection(
      ColumnBridge.expression(vec), planes, numTables, bits))
}
