package graft.ops

import graft.config.FilterConfig
import graft.geo.GeoFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J2 occurrence-existence join + G1/G2 zone predicates + A2 existence probe
  * (SURVEY.md §2.3/§2.4/§2.5): the Spark-shaped version of
  * `GbifHelper.has_occurrences` (`gbif_helper.py:85-92`) and
  * `apply_spatial_filter` (`gbif_helper.py:53-58`), with the `occ_cache`
  * memoization (C1, `apply_gbif_filter.py:109,136-141`) replaced by one
  * relation of distinct in-zone taxon keys, [[inZoneKeys]].
  *
  * The reference's `limit=1` probe is an EXISTS, never a count
  * (`gbif_helper.py:87-92`) — here a semi-join / distinct-key join, which
  * short-circuits per key the same way.
  *
  * The J2 tag join and the J4 child semi-join read [[inZoneKeys]]
  * unmodified, so in one product plan AQE runs the scan, zone test and
  * distinct once and reuses their stages (`ReusedExchange`); a marker
  * column on one side would break the reuse and double the scan.
  *
  * Scale notes: the zone filter runs *before* the distinct and carries a
  * sargable bbox conjunct (GeoFunctions.zonePredicate), so at 100 TB the
  * occurrence scan prunes row groups on lat/lon/country min-max stats and
  * only in-zone rows reach the distinct's shuffle. The distinct key set is
  * bounded by the taxonomy size (~10^7 keys), orders of magnitude under the
  * occurrence count.
  */
object OccurrenceFilter {

  val TagCol = "gbif_filter_tag"

  /** Distinct taxon keys with >= 1 occurrence in the configured zone. */
  def inZoneKeys(occurrence: DataFrame, cfg: FilterConfig): DataFrame = {
    require(cfg.hasZone, "no zone configured (geometry and/or country)")
    occurrence
      .filter(GeoFunctions.zonePredicate(
        col("decimalLatitude"), col("decimalLongitude"), col("countryCode"),
        cfg.geometry, cfg.country))
      .select(col("taxonKey"))
      .distinct()
  }

  /** Tri-state tag (`apply_gbif_filter.py:110,172`, SURVEY.md §1.2):
    * null = row never resolved to a taxid; true/false = taxid has/has no
    * occurrence in zone. Adds `gbif_filter_tag` to a resolved input.
    */
  def tagExistsInZone(resolved: DataFrame, occurrence: DataFrame,
      cfg: FilterConfig): DataFrame = {
    val keys = inZoneKeys(occurrence, cfg)
    resolved
      .join(keys, resolved(TaxonomyResolver.TaxidCol) === keys("taxonKey"), "left")
      .withColumn(TagCol,
        when(col(TaxonomyResolver.TaxidCol).isNotNull, keys("taxonKey").isNotNull))
      .drop(keys("taxonKey"))
  }

  /** J4-style spatial semi-join: keep only rows of `taxa` (keyed by
    * `keyCol`) that have >= 1 in-zone occurrence (`gbif_helper.py:53-58`).
    */
  def filterInZone(taxa: DataFrame, keyCol: String, occurrence: DataFrame,
      cfg: FilterConfig): DataFrame =
    taxa.join(inZoneKeys(occurrence, cfg),
      taxa(keyCol) === col("taxonKey"), "left_semi")

  /** P6 rank-membership filter + projection — `GbifHelper.get_occurrences` /
    * `format_results` (`gbif_helper.py:60-69,94-109`): occurrences of a
    * taxon, optionally restricted to a rank set, projected to `taxonKey`.
    */
  def occurrencesAtRanks(occurrence: DataFrame, ranks: Seq[String]): DataFrame = {
    val base = if (ranks.isEmpty) occurrence
      else occurrence.filter(upper(col("taxonRank")).isin(ranks.map(_.toUpperCase(java.util.Locale.ROOT)): _*))
    base.select(col("taxonKey"))
  }
}
