package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** [[TextKernelObjs.ngramBuckets]] as a narrow codegen kernel: the DSIR
  * hashed-n-gram feature map (Xie et al. 2023) — one bucket id in
  * [0, buckets) per k-gram of the document, sharing [[TextKernelObjs]]'s
  * cross-engine polynomial hash chain with the winnowing kernel (one
  * definition, oracle-replayable in SQL). Empty/token-free text → empty
  * array, so a distribution scan's explode simply contributes no rows. */
case class HashedNgramBuckets(child: Expression, k: Int, buckets: Int)
    extends UnaryExpression with StaticKernel {
  require(k > 0, s"gram size k must be positive, got $k")
  require(buckets >= 2 && buckets <= (1 << 20),
    s"buckets must be in [2, 2^20], got $buckets")
  def kernel: Kernel = Kernel("graft_ngram_buckets", Seq(StringType), Kernel.LongArray)(
    "ngramBuckets", k, buckets)
}

object HashedNgramBuckets {
  def apply(text: Column, k: Int, buckets: Int): Column =
    StaticKernel.on(text)(HashedNgramBuckets(_, k, buckets))
}

/** [[TextKernelObjs.ngramScoreBoxed]] as a narrow codegen kernel: the
  * per-document DSIR importance score — 1024·Σ weights[bucket] over the
  * doc's k-grams, truncating-divided by the gram count (length
  * normalization, so selection ranks distributional fit rather than
  * document length). The bucket-weight table rides with the plan via
  * `addReferenceObj` (the static-kernel discipline — no model join, no
  * shuffle); at a production 2²⁰ buckets that is 8 MB shipped once.
  * NULL for token-free documents (no features → no score). */
case class HashedNgramScore(child: Expression, k: Int, buckets: Int,
                            weights: Array[Long]) extends UnaryExpression {

  require(k > 0, s"gram size k must be positive, got $k")
  require(buckets >= 2 && buckets <= (1 << 20),
    s"buckets must be in [2, 2^20], got $buckets")
  require(weights.length == buckets,
    s"weights must have one entry per bucket: ${weights.length} vs $buckets")

  override def prettyName: String = "graft_ngram_score"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${t.sql}")
  }

  def score(text: UTF8String): java.lang.Long =
    TextKernelObjs.ngramScoreBoxed(text, k, buckets, weights)

  // The Array field would otherwise compare by reference identity, so two
  // structurally identical score expressions never canonicalize equal
  // (defeating semanticEquals / exchange reuse). Compare contents.
  override def equals(other: Any): Boolean = other match {
    case that: HashedNgramScore =>
      child == that.child && k == that.k && buckets == that.buckets &&
        java.util.Arrays.equals(weights, that.weights)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(k), Int.box(buckets),
      Int.box(java.util.Arrays.hashCode(weights)))

  override def nullSafeEval(input: Any): Any =
    score(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("ngramScore", this,
      classOf[HashedNgramScore].getName)
    val r = ctx.freshName("dsirScore")
    nullSafeCodeGen(ctx, ev, s => s"""
      java.lang.Long $r = $self.score($s);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.longValue(); }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedNgramScore {
  def apply(text: Column, k: Int, buckets: Int, weights: Array[Long]): Column =
    ColumnBridge.column(
      HashedNgramScore(ColumnBridge.expression(text), k, buckets, weights))
}
