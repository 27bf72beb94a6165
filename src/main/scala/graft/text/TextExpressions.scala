package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit polynomial rolling hash of a string column (Rabin–Karp style:
  * `h = h * B + byte`, wrapping multiplication). The content-defined
  * fingerprint used for shift-robust document identity — not expressible
  * with built-in functions without a per-character loop, hence a custom
  * codegen'd expression (SURVEY.md §4.3 preference order (b)).
  */
case class RollingHashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  override def nullSafeEval(input: Any): Any =
    RollingHashExpr.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.text.RollingHashExpr.hashBytes($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashExpr {
  final val Base = 1000003L

  /** Static entry point shared by interpreted eval and generated code. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * Base + (bytes(i) & 0xFF)
      i += 1
    }
    h
  }
}

object TextExpressions {
  /** Direct expression construction — no session-registry mutation, no
    * dependence on `SparkSession.active` (SQL-text use goes through
    * `GraftExtensions`).
    */
  def rollingHash(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(RollingHashExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(c.cast("string"))))
}
