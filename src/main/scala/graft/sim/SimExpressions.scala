package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native dot product over two `array<double>` columns.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) express this
  * but are CodegenFallback — interpreted per element, which made the
  * all-pairs cosine join ~30x slower than necessary. This expression
  * generates a tight primitive loop inside whole-stage codegen.
  * Accumulation is strictly index-ascending, so results are bit-identical
  * to a left-associated explicit sum (the DuckDB oracle's form).
  */
case class DotProductExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native dot product over two `array<tinyint>` columns — the scoring
  * primitive of the QUANTIZED similarity path. Integer multiply-adds into
  * a long (exact: |acc| <= 127^2 x dim), so quantized scores carry no FP
  * rounding and replay exactly in the oracle; the 1-byte elements stay
  * 1 byte through every shuffle, and scoring needs NO per-pair upcast
  * (a per-pair `cast(array<tinyint> as array<double>)` allocates — the
  * measured anti-pattern the float path hoists per row).
  */
case class Int8DotExpr(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_dot_i8"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getByte(i).toLong * y.getByte(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) $a.getByte($i) * $b.getByte($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass int8 quantization as a single codegen'd expression:
  * `struct(qscale: double, qvec: array<tinyint>)` with `qscale =
  * 127/max|x|` (1.0 for all-zero) and `qvec[i] = floor(x[i]*qscale+0.5)`.
  * The compositional Column form (`array_max(transform(abs))` +
  * `transform(floor...)`) is semantically identical but those
  * higher-order functions are CodegenFallback — interpreted per element
  * with per-row closure allocation; this runs as one primitive loop pair
  * at scan speed. Formula must stay identical to the oracle's
  * quantization CTEs.
  */
case class QuantizeInt8Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("qscale", DoubleType, nullable = false),
    org.apache.spark.sql.types.StructField("qvec",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType,
        containsNull = false), nullable = false)))
  override def prettyName: String = "graft_quantize_i8"

  override def nullSafeEval(input: Any): Any =
    QuantizeInt8Expr.quantize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sim.QuantizeInt8Expr.quantize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeInt8Expr {
  /** Static entry point shared by interpreted eval and generated code. */
  def quantize(v: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = v.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a > mx) mx = a
      i += 1
    }
    val scale = if (mx > 0) 127.0 / mx else 1.0
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      out(i) = math.floor(v.getDouble(i) * scale + 0.5).toByte
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      scale,
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)))
  }
}

/** One sign-LSH TABLE's bucket id as a single codegen'd expression: bit i
  * of the result is the sign of `dot(vec, planes(i))`.
  *
  * The compositional formulation (`planesPerTable` separate
  * [[DotProductExpr]]s against constant-folded `array(lit(...))`
  * literals) is semantically identical but ~50x slower: a folded array
  * literal is a `GenericArrayData` over BOXED doubles, so every element
  * access in the generated loop unboxes (measured ~56 ns/multiply;
  * TUNING, `numTables` / `planesPerTable` row). Here the plane matrix ships as a primitive
  * `double[][]` reference object — the generated code is two nested
  * primitive loops. Accumulation stays index-ascending per plane, so
  * buckets are bit-identical to the compositional form and to the
  * oracle's explicit sums.
  */
case class LshBucketExpr(child: Expression, planes: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  require(planes.nonEmpty && planes.length <= 63, "1..63 planes per table")

  // the case-class parameter is a Seq so expression equality (and with it
  // plan canonicalization / subexpression elimination) is STRUCTURAL —
  // an Array param would compare by reference; codegen gets primitives
  @transient private lazy val planeMatrix: Array[Array[Double]] =
    planes.map(_.toArray).toArray

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_lsh_bucket"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    LshBucketExpr.bucket(v, planeMatrix)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planeMatrix, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.sim.LshBucketExpr.bucket($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBucketExpr {
  /** Static entry point shared by interpreted eval and generated code. */
  def bucket(v: ArrayData, planes: Array[Array[Double]]): Long = {
    var out = 0L
    var i = 0
    while (i < planes.length) {
      val p = planes(i)
      val n = math.min(v.numElements(), p.length)
      var acc = 0.0
      var j = 0
      while (j < n) {
        acc += v.getDouble(j) * p(j)
        j += 1
      }
      if (acc >= 0) out |= (1L << i)
      i += 1
    }
    out
  }
}

object SimExpressions {

  /** Codegen'd dot product; casts inputs to `array<double>`. Constructs
    * the expression directly — no session-registry mutation at Column-
    * build time, no binding to whichever session happens to be active
    * (SQL-text use goes through `GraftExtensions`).
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(DotProductExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(a.cast("array<double>")),
      org.apache.spark.sql.GraftColumnBridge.expression(b.cast("array<double>"))))

  /** Codegen'd int8 dot product — inputs MUST already be `array<tinyint>`
    * (no implicit cast: the whole point is that nothing widens).
    */
  def dotI8(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(Int8DotExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(a),
      org.apache.spark.sql.GraftColumnBridge.expression(b)))
}
