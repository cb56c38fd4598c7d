package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Shared interpreted/codegen kernel: 64-bit SimHash of a token array.
  * Per-token hash is Spark's own `xxhash64(token)` (XxHash64Function,
  * seed 42) so values are bit-identical to the SQL formulation; each
  * token occurrence votes +1/−1 per bit position and bit j of the result
  * is set iff its vote sum is positive (ties → 0, matching
  * `when(sum > 0, ...)`). Null elements are skipped. */
object SimHashKernel {
  val Seed = 42L // xxhash64's default seed — keep in lockstep with Spark

  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, Seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }
}

/** 64-bit SimHash of an `array<string>` token column as ONE narrow
  * expression — SimHash is a pure per-document function, so the
  * explode → 64-vote-lane groupBy formulation it replaces was paying a
  * full shuffle of the token stream (and 64 aggregate buffer lanes) for
  * something a projection computes in place. At 100 TB that turns the
  * signature stage of [[graft.llm.Dedup.simHashNearDups]] from the
  * dominant shuffle into a free map; only the banding join shuffles.
  *
  * One behavioral delta vs the aggregate formulation, by design: a
  * document whose token array is empty still yields a row (simhash 0)
  * where explode() silently dropped it. */
case class SimHash64(child: Expression) extends UnaryExpression with StaticKernel {
  def kernel: Kernel = Kernel("graft_simhash64", Seq(ArrayType(StringType)), LongType,
    obj = SimHashKernel)("compute")
}

object SimHash64 {
  def apply(tokens: Column): Column = StaticKernel.on(tokens)(SimHash64(_))
}
