package graft.text

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Token-array → token-id-array under an EMBEDDED vocabulary — the
  * in-row form of [[Vocabulary.encode]]'s broadcast-join + per-doc
  * reassembly, as one codegen'd scalar with an O(1) hash lookup per
  * token.
  *
  * Why an expression and not a map literal or a join: a `typedLit` MAP
  * lookup is a linear scan per element_at (measured 5× slower at 4096
  * entries on the DSIR gate — see [[Vocabulary.dsirScoreCol]], which
  * switched to an array literal for exactly this reason; a 50k-entry
  * vocab is far past that), and the relational form's only exchange is
  * the per-doc (pos, tid) reassembly after the explode — measured at the
  * 4.24B-token decade (`vocabdecade` r14): 36.9 GB shuffle + 87.9 GB
  * spill, 13.5× wall for 10× docs from spill onset alone. This
  * expression encodes in the scan: no explode, no join, no exchange —
  * the output is bit-identical to [[Vocabulary.encode]] (order preserved
  * by construction; OOV and null tokens → [[Vocabulary.OovId]], matching the left
  * join's unmatched-coalesce semantics).
  *
  * The vocabulary ships INSIDE the expression (≤ `size` entries — the
  * same KB–MB bound that makes the relational broadcast legal) and each
  * executor builds its UTF8String-keyed hash table once per deserialized
  * instance, so per-token lookups are zero-copy.
  */
case class VocabEncodeExpr(child: Expression, vocab: Map[String, Long])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_vocab_encode"

  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](vocab.size * 2)
    vocab.foreach { case (t, id) => m.put(UTF8String.fromString(t), Long.box(id)) }
    m
  }

  /** Shared by interpreted eval and generated code. */
  def encodeTokens(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val id = if (t == null) null else table.get(t)
      out(i) = if (id == null) Vocabulary.OovId else id.longValue()
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    encodeTokens(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftVocabEncode", this,
      classOf[VocabEncodeExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.encodeTokens($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VocabEncodeExpr {
  def encodeCol(tokens: Column, vocab: Map[String, Long]): Column =
    GraftColumnBridge.column(
      VocabEncodeExpr(GraftColumnBridge.expression(tokens), vocab))
}

/** Token-array → `[n_matched, Σ weight(token)]` under an EMBEDDED
  * word→weight table — the in-row form of an explode + broadcast-join +
  * per-doc SUM/COUNT reassembly, as one codegen'd scalar. Tokens absent
  * from the table contribute to neither number (inner-join semantics).
  *
  * Same rationale and bounds as [[VocabEncodeExpr]] (the table is the
  * KB–MB relation the relational form already broadcasts; what this
  * removes is the per-token exchange feeding the per-doc agg — the same
  * reassembly shuffle the r14 `vocabdecade` measurement showed
  * dominating `encode` at 4.24B tokens). First consumer:
  * [[Vocabulary.bpeSegmentStatsInRow]] with weight = subword count per
  * word type. Long addition is exact and commutative, so the sums can't
  * depend on token order.
  */
case class VocabSumCountExpr(child: Expression, weights: Map[String, Long])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_vocab_sum_count"

  @transient private lazy val table: java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Long](weights.size * 2)
    weights.foreach { case (t, w) => m.put(UTF8String.fromString(t), Long.box(w)) }
    m
  }

  /** Shared by interpreted eval and generated code. */
  def sumCount(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var matched = 0L
    var total = 0L
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      val w = if (t == null) null else table.get(t)
      if (w != null) { matched += 1L; total += w.longValue() }
      i += 1
    }
    new GenericArrayData(Array(matched, total))
  }

  override def nullSafeEval(input: Any): Any =
    sumCount(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftVocabSumCount", this,
      classOf[VocabSumCountExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.sumCount($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VocabSumCountExpr {
  def sumCountCol(tokens: Column, weights: Map[String, Long]): Column =
    GraftColumnBridge.column(
      VocabSumCountExpr(GraftColumnBridge.expression(tokens), weights))
}
