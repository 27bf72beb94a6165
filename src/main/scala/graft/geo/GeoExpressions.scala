package graft.geo

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Native Catalyst expression for G1 (SURVEY.md §4.3.1): boundary-inclusive
  * point-in-polygon against a *foldable* WKT literal. The ring set is parsed
  * once at planning time and shipped to generated code as a reference
  * object, so evaluation stays inside whole-stage codegen — no UDF
  * serialization, no per-row WKT parsing.
  *
  * Children: (latitude: double, longitude: double, wkt: string literal).
  * Replaces the reference's server-side `geometry` predicate
  * (`gbif_helper.py:86-88`).
  */
case class PointInPolygonExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "point_in_polygon"

  require(third.foldable, "point_in_polygon: the WKT argument must be foldable")

  @transient private lazy val rings: Array[Array[Double]] = {
    val wkt = third.eval(null)
    require(wkt != null, "point_in_polygon: the WKT argument must not be null")
    PointInPolygon.parsePolygon(wkt.toString)
  }

  override def nullSafeEval(lat: Any, lon: Any, wkt: Any): Any =
    PointInPolygon.contains(lon.asInstanceOf[Double], lat.asInstanceOf[Double], rings)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ringsRef = ctx.addReferenceObj("rings", rings, "double[][]")
    defineCodeGen(ctx, ev, (lat, lon, _) =>
      s"graft.geo.PointInPolygon.contains($lon, $lat, $ringsRef)")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Column-level geo API: the polygon predicate plus the bounding-box
  * conjunct that restores scan pushdown (SURVEY.md §4.3.2).
  */
object GeoFunctions {

  /** Codegen'd point-in-polygon predicate (lat/lon columns, WKT literal).
    * Direct expression construction — no session-registry mutation, no
    * dependence on `SparkSession.active` (SQL-text use goes through
    * `GraftExtensions`).
    */
  def pointInPolygon(lat: Column, lon: Column, wkt: String): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(PointInPolygonExpr(expression(lat.cast("double")),
      expression(lon.cast("double")),
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(wkt),
        org.apache.spark.sql.types.StringType)))
  }

  /** Sargable bbox pre-filter: `lat BETWEEN ... AND lon BETWEEN ...`.
    * ANDed in front of the polygon expression at plan-construction time so
    * Parquet row-group pruning / predicate pushdown still fire even though
    * the polygon predicate itself is opaque to the scan. A custom
    * `Rule[LogicalPlan]` is unnecessary — we conjoin here (SURVEY.md §4.3.2).
    */
  def bboxFilter(lat: Column, lon: Column, wkt: String): Column = {
    val (minLon, minLat, maxLon, maxLat) =
      PointInPolygon.boundingBox(PointInPolygon.parsePolygon(wkt))
    lat.between(minLat, maxLat) && lon.between(minLon, maxLon)
  }

  /** Full zone predicate (G1 ∧ G2): AND of bbox conjunct, polygon predicate
    * and country equality — matching the reference's AND-when-both semantics
    * (`apply_gbif_filter.py:139-141`, SURVEY.md §1.3). Null lat/lon/country
    * rows evaluate to null → filtered out.
    */
  def zonePredicate(lat: Column, lon: Column, countryCol: Column,
      geometry: Option[String], country: Option[String]): Column = {
    val preds: Seq[Column] =
      geometry.toSeq.flatMap(w =>
        Seq(bboxFilter(lat, lon, w), pointInPolygon(lat, lon, w))) ++
        country.toSeq.map(cc => countryCol === lit(cc))
    require(preds.nonEmpty, "zonePredicate: configure geometry and/or country")
    preds.reduce(_ && _)
  }
}
