package graft.text

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** UDTF: generate the distinct word `n`-gram shingles of a text column,
  * one output row per shingle — the table-generating twin of
  * `Dedup.wordNgrams` (which materializes the full shingle ARRAY per row
  * and then explodes it).
  *
  * A custom Catalyst `Generator` is SURVEY.md §4.3's answer to
  * "explode-like semantics Spark's built-ins can't express without an
  * intermediate collection": rows stream out of `eval` directly, so the
  * per-document working set is one hash set of shingles, not an
  * `array<string>` column buffered through the row format. Tokenization
  * matches [[TextFunctions.tokens]] (single-space split of the trimmed
  * text) so the output is row-identical to the explode formulation and
  * the DuckDB shingle CTE.
  */
case class ShingleGenerator(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1, "shingle size must be >= 1")

  override def elementSchema: StructType = new StructType().add("ngram", StringType)
  override def prettyName: String = "graft_shingles"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    val toks = raw.asInstanceOf[UTF8String].toString.trim.split(" ")
    if (toks.length < n) return Nil
    // insertion-ordered distinct — deterministic output order per document
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= toks.length) {
      val sb = new StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val it = seen.iterator()
    new Iterator[InternalRow] {
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow =
        InternalRow(UTF8String.fromString(it.next()))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleGenerator {
  import org.apache.spark.sql.Column

  /** Direct expression construction — no session-registry mutation, no
    * dependence on `SparkSession.active` (SQL-text use goes through
    * `GraftExtensions`).
    */
  def shingles(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(ShingleGenerator(
      org.apache.spark.sql.GraftColumnBridge.expression(c), n))
}
