package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of a text column as ONE scalar expression.
  *
  * The same fingerprint can be expressed relationally (explode distinct
  * tokens -> 64 conditional sums -> bit pack), which costs a shuffle of
  * every token in the corpus. But SimHash is a pure
  * per-document function — so this expression computes it in a single
  * pass inside the scan: tokenize, hash each distinct token once
  * (the SAME `xxhash64` (seed 42) Spark's built-in applies, via
  * [[XxHash64Function]], so the two formulations are bit-identical),
  * accumulate the 64 bit counters in a local array, pack. No shuffle,
  * no state — scan speed at any corpus size. [[Dedup.simhash64]] ships
  * this form; the relational one is `DedupSpec`'s reference (pinned equal).
  */
case class SimHashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any =
    SimHashExpr.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.dedup.SimHashExpr.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashExpr {

  /** SQL-`trim` semantics: strip SPACES only. Java's `String.trim`
    * strips every char ≤ U+0020 (tabs, newlines), which would silently
    * diverge from the relational forms and the DuckDB oracles on
    * whitespace-edged text — the expression twins must tokenize
    * byte-identically to `trim(col)` + `split(..., " ")`.
    */
  private[dedup] def spaceTrim(s: String): String = {
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    s.substring(from, to)
  }

  /** Static entry point shared by interpreted eval and generated code. */
  def simhash(s: UTF8String): Long = {
    val toks = spaceTrim(s.toString).split(" ")
    val seen = new java.util.HashSet[String]()
    val counts = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (seen.add(t)) {
        val h = XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Direct expression construction — no session-registry mutation, no
    * dependence on `SparkSession.active` (SQL-text use goes through
    * `GraftExtensions`).
    */
  def simhashCol(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(SimHashExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(c.cast("string"))))
}
