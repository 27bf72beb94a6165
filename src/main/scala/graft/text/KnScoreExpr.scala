package graft.text

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** [[Vocabulary.knSurprisal]]'s per-model-row score — Q40 probability
  * floor + [[Vocabulary.KnMantBits]]-bit log chain — as ONE codegen'd
  * scalar: `s = log2fp(2^40, max(1, (pnum·2^40) div pden))`.
  *
  * The Column formulation of the same arithmetic (DECIMAL(34,0) multiply
  * + 40 exponent indicators + [[Vocabulary.FracBits]] chained squaring
  * projections) is exact but costs ~66 µs/row on a bigram-type-scale
  * relation — KN's model is the FULL type table (continuation counts need
  * every type), so unlike the vocab-bounded unigram/BM25/drift chains the
  * unrolled plan runs at corpus scale. This expression computes the
  * IDENTICAL integer op sequence (BigInteger exact floor division ≡
  * DECIMAL `DIV` ≡ HUGEINT `//` on positive operands; then the same
  * compare/shift/multiply loop as the unrolled columns) in one compiled
  * method — the gated oracle hashes are unchanged, measured 162.8 → 48.3 s
  * at 1.06M docs (TUNING, `KN model` row).
  */
case class KnScoreExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_kn_score"

  override def nullSafeEval(pnum: Any, pden: Any): Any =
    KnScoreExpr.knScore(pnum.asInstanceOf[Long], pden.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.text.KnScoreExpr.knScore($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object KnScoreExpr {

  def knScoreCol(pnum: Column, pden: Column): Column =
    GraftColumnBridge.column(KnScoreExpr(
      GraftColumnBridge.expression(pnum), GraftColumnBridge.expression(pden)))

  private val Q = Vocabulary.KnProbScale // 2^40

  /** Static entry point shared by interpreted eval and generated code.
    * Requires `0 < pnum <= pden` (probabilities; enforced upstream by
    * construction). The hot path avoids BigInteger when `pnum < 2^23`
    * (then `pnum << 40` fits a long) — on natural corpora that covers
    * almost every bigram type (counts are small; only aggregate-count
    * rows take the slow path).
    */
  def knScore(pnum: Long, pden: Long): Long = {
    val mantBits = Vocabulary.KnMantBits
    val fracBits = Vocabulary.FracBits
    val shifted =
      if (pnum < (1L << 23))
        (pnum << 40) / pden
      else
        java.math.BigInteger.valueOf(pnum).shiftLeft(40)
          .divide(java.math.BigInteger.valueOf(pden)).longValueExact()
    val pfp = if (shifted < 1L) 1L else shifted
    var e = 0
    while (e < Vocabulary.EMax && (pfp << (e + 1)) <= Q) e += 1
    var m = (Q << mantBits) / (pfp << e)
    var frac = 0L
    var i = 0
    while (i < fracBits) {
      val msq = (m * m) >> mantBits
      frac = frac * 2 + (if (msq >= (2L << mantBits)) 1L else 0L)
      m = if (msq >= (2L << mantBits)) msq >> 1 else msq
      i += 1
    }
    (e.toLong << fracBits) + frac
  }
}
