package graft.geo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Grid-bucketed spatial join: points × zones as an EQUI-join on grid
  * cells — the scale upgrade of the single-zone predicate ops
  * ([[GeoFunctions.pointInPolygon]] filters against ONE configured zone;
  * reference scope ends there). With THOUSANDS of zones the naive shape
  * is a theta join (every point against every bbox — a cross product);
  * bucketing both sides into fixed lat/lon cells turns it into a hash
  * join: each point lands in exactly ONE cell (so no pair dedup is ever
  * needed), each zone explodes to its covered cells (bounded by
  * area/cell²), candidates join on the cell id, and the exact bbox test
  * runs only on candidates. This is the standard geospatial bin-join
  * (the same candidates-by-equi-join discipline as the LSH/shingle
  * dedup families).
  *
  * The planted zone set derives from pure integer arithmetic over the
  * zone id (the linkGraph/boilerplate fixture convention) — rectangles,
  * so the exact containment test is four comparisons, replayable
  * bit-for-bit; the GRID JOIN STRUCTURE is the part under test, and it
  * is what carries any polygon shape at scale (cells from the bbox,
  * exact test per candidate — [[PointInPolygonExpr]] slots in as the
  * candidate filter for real polygons).
  *
  * Scale shape: the point side maps to cells at scan speed (two floors);
  * the zone-cell relation is |zones| × cells-per-zone rows and
  * broadcasts; the only wide op is the final per-zone count agg. No
  * cross product anywhere at any zone count — cell width trades
  * candidate precision against zone-cell relation size (10° cells ⇒
  * ≤ ~18×36 cells/zone here; size to median zone extent).
  */
object GridJoin {

  /** 25 planted rectangular zones from integer arithmetic on the id:
    * (zone_id, lat0, lat1, lon0, lon1), varied sizes/positions,
    * overlapping — deterministic in both engines.
    */
  def zones(spark: SparkSession): DataFrame =
    spark.range(25).selectExpr(
      "id AS zone_id",
      "-80L + (id % 5) * 32L AS lat0",
      "-80L + (id % 5) * 32L + 25L + (id % 7) AS lat1",
      "-170L + (id DIV 5) * 60L + id AS lon0",
      "-170L + (id DIV 5) * 60L + id + 40L + (id % 11) AS lon1")

  /** Grid cell width in degrees, shared with the DuckDB twin. */
  private val CellDeg = 10

  /** Points-in-zones via the cell equi-join over [[CellDeg]]° cells:
    * returns per-zone (zone_id, n_points, n_taxa).
    */
  def pointsPerZone(points: DataFrame, latCol: String, lonCol: String,
      taxonCol: String, zonesDf: DataFrame): DataFrame = {
    val zc = zonesDf
      .withColumn("clat", explode(expr(
        s"sequence((lat0 + 90L) DIV ${CellDeg}L, (lat1 + 90L) DIV ${CellDeg}L)")))
      .withColumn("clon", explode(expr(
        s"sequence((lon0 + 180L) DIV ${CellDeg}L, (lon1 + 180L) DIV ${CellDeg}L)")))
    val pc = points.select(col(taxonCol), col(latCol).as("_lat"),
        col(lonCol).as("_lon"))
      .withColumn("clat", expr(
        s"CAST(floor((_lat + 90.0D) / ${CellDeg}.0D) AS BIGINT)"))
      .withColumn("clon", expr(
        s"CAST(floor((_lon + 180.0D) / ${CellDeg}.0D) AS BIGINT)"))
    pc.join(broadcast(zc), Seq("clat", "clon"))
      .filter(col("_lat") >= col("lat0") && col("_lat") <= col("lat1") &&
        col("_lon") >= col("lon0") && col("_lon") <= col("lon1"))
      .groupBy(col("zone_id"))
      .agg(count(lit(1)).as("n_points"),
        countDistinct(col(taxonCol)).as("n_taxa"))
  }

  /** DuckDB twin of [[zones]] + [[pointsPerZone]] over the `occurrence`
    * CTE: the CTE chain for `withCtes`, paired with
    * [[pointsPerZoneSelect]] as the body.
    */
  val pointsPerZoneCtes: String =
    s"""zones AS (
       |  SELECT range AS zone_id,
       |    -80 + (range % 5) * 32 AS lat0,
       |    -80 + (range % 5) * 32 + 25 + (range % 7) AS lat1,
       |    -170 + (range // 5) * 60 + range AS lon0,
       |    -170 + (range // 5) * 60 + range + 40 + (range % 11) AS lon1
       |  FROM range(25)),
       |zc AS (
       |  SELECT zone_id, lat0, lat1, lon0, lon1,
       |    unnest(generate_series((lat0 + 90) // $CellDeg, (lat1 + 90) // $CellDeg)) AS clat
       |  FROM zones),
       |zcc AS (
       |  SELECT zone_id, lat0, lat1, lon0, lon1, clat,
       |    unnest(generate_series((lon0 + 180) // $CellDeg, (lon1 + 180) // $CellDeg)) AS clon
       |  FROM zc),
       |pc AS (
       |  SELECT taxonKey, decimalLatitude AS lat, decimalLongitude AS lon,
       |    CAST(floor((decimalLatitude + 90.0) / ${CellDeg}.0) AS BIGINT) AS clat,
       |    CAST(floor((decimalLongitude + 180.0) / ${CellDeg}.0) AS BIGINT) AS clon
       |  FROM occurrence),
       |cand AS (
       |  SELECT z.zone_id, p.taxonKey
       |  FROM pc p JOIN zcc z USING (clat, clon)
       |  WHERE p.lat >= z.lat0 AND p.lat <= z.lat1
       |    AND p.lon >= z.lon0 AND p.lon <= z.lon1)""".stripMargin

  val pointsPerZoneSelect: String =
    """SELECT zone_id, CAST(count(*) AS BIGINT) AS n_points,
      |  CAST(count(DISTINCT taxonKey) AS BIGINT) AS n_taxa
      |FROM cand GROUP BY zone_id""".stripMargin
}
