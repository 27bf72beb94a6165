package graft

import graft.geo.PointInPolygonExpr
import graft.sim.DotProductExpr
import graft.text.{RollingHashExpr, ShingleGenerator}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}

/** Session-extension entry point: registers the engine's custom Catalyst
  * expressions so any session — including pure SQL users — gets them via
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * // or, on a session builder: .withExtensions(new GraftExtensions)
  * }}}
  *
  * This is the one registration path (survives session cloning, works
  * from spark-submit/thrift-server); [[GraftSession]] installs it on every
  * session the engine builds. Column-API callers need none of it: the
  * `GeoFunctions`/`SimExpressions`/`TextExpressions` builders construct
  * the expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("point_in_polygon"),
      new ExpressionInfo(classOf[PointInPolygonExpr].getName, "point_in_polygon"),
      exprs => PointInPolygonExpr(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      exprs => DotProductExpr(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHashExpr].getName, "graft_rolling_hash"),
      exprs => RollingHashExpr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[graft.dedup.SimHashExpr].getName, "graft_simhash"),
      exprs => graft.dedup.SimHashExpr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleGenerator].getName, "graft_shingles"),
      exprs => exprs(1) match {
        case Literal(n: Int, _) => ShingleGenerator(exprs(0), n)
        case other => throw new IllegalArgumentException(
          s"graft_shingles: n must be an integer literal, got $other")
      }))
  }
}
