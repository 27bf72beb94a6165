package graft.dedup

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** [[Dedup.winnowPairs]]'s per-document fingerprint set as ONE scalar
  * expression: winnowing is a pure function of the token array, so —
  * like [[SimHashExpr]] vs the relational simhash — the whole
  * gram-hash / window-min / rightmost-tie selection runs inside the
  * scan, returning the DISTINCT selected md5 hex strings (sorted, for
  * determinism). The relational formulation ([[Dedup
  * .winnowFingerprintsSql]]) costs an occurrence explode plus a per-doc
  * window SHUFFLE of every gram; this form shuffles nothing until the
  * fingerprint equi-join, and is what the gated query ships
  * (`DedupSpec` pins it equal to a relational Spark reference; the DuckDB oracle
  * replays the relational form, so gate hashes prove the equivalence
  * on every run).
  */
case class WinnowExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  // enforce winnowPairs' contract at the expression itself — w <= 0
  // would silently degenerate the window-min selection and k <= 0 would
  // throw an opaque NegativeArraySizeException from the grams array
  require(k >= 2 && w >= 1, s"winnowing requires k >= 2 && w >= 1, got k=$k w=$w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    WinnowExpr.fingerprints(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.dedup.WinnowExpr.fingerprints($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowExpr {

  def fingerprintsCol(text: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(
      WinnowExpr(GraftColumnBridge.expression(text), k, w))

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Static entry point shared by interpreted eval and generated code.
    * Same tokenization as [[graft.text.TextFunctions.tokens]]
    * (`trim.split(" ")`, empty tokens kept), same gram hash as the
    * relational form (md5 of the space-joined slice's UTF-8 bytes),
    * same rightmost-min tie rule.
    */
  def fingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val toks = SimHashExpr.spaceTrim(s.toString).split(" ", -1)
    val g = toks.length - k + 1
    if (toks.length < k + w - 1) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val grams = new Array[String](g)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < g) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      md.reset()
      val dig = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = HexDigits((dig(b) >> 4) & 0xf)
        hex(2 * b + 1) = HexDigits(dig(b) & 0xf)
        b += 1
      }
      grams(i) = new String(hex)
      i += 1
    }
    val selected = new java.util.TreeSet[String]()
    var p = 0
    while (p <= g - w) {
      var best = p
      var j = p + 1
      while (j < p + w) {
        val c = grams(j).compareTo(grams(best))
        // strictly smaller hash wins; an EQUAL hash at a later position
        // wins too (the rightmost-min rule)
        if (c <= 0) best = j
        j += 1
      }
      selected.add(grams(best))
      p += 1
    }
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }
}
