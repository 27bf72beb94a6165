package graft.ops

import graft.config.FilterConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J3 children-resolution + J4 child spatial semi-join + A1 list collection
  * (SURVEY.md §2.3/§2.5): the Spark-shaped version of
  * `GbifHelper.get_children` (`gbif_helper.py:34-51`) and the resolution
  * loop at `apply_gbif_filter.py:146-168`.
  *
  * Semantics preserved:
  *  - only parents whose matched rank is FAMILY or GENUS and differs from
  *    the target rank resolve (`apply_gbif_filter.py:150`);
  *  - children must be ACCEPTED (P5, `gbif_helper.py:48-50`), at the target
  *    rank, optionally habitat-constrained (`gbif_helper.py:35-42`);
  *  - GBIF's `higherTaxonKey` matches *any* ancestor, modeled as
  *    `higherTaxonKeys: array<long>` on the backbone;
  *  - children are then kept only if they occur in the zone
  *    (`apply_gbif_filter.py:160-162`).
  *
  * Divergences (documented, SURVEY.md §7.5):
  *  - no 1000-child cap (the reference's REST page limit, `gbif_helper.py:41`);
  *  - the T3 first-row-only quirk is dropped: *every* duplicate input row
  *    gets the resolved lists, deterministically (SURVEY.md §2.6 T3).
  *
  * Scale notes: the ancestor containment is NOT a theta join — the lineage
  * array is exploded (depth <= ~10, so a constant-factor blowup) into an
  * equi-join on ancestor key, which shuffles/broadcasts like any other
  * equi-join and keeps AQE in play. Children lists are collected per parent
  * *after* the spatial semi-join, so list sizes are bounded by in-zone
  * children, and ordering is canonical (sorted by name, key) — deterministic
  * results under any partitioning.
  */
object RankResolver {

  private val ResolvableRanks = Seq("FAMILY", "GENUS")

  def namesCol(target: String): String =
    s"gbif_filter_resolved_${target.toLowerCase(java.util.Locale.ROOT)}_names"
  def idsCol(target: String): String =
    s"gbif_filter_resolved_${target.toLowerCase(java.util.Locale.ROOT)}_ids"

  /** A3 (SURVEY.md §2.5): optional per-parent children cap, the engine
    * analog of the reference's REST page limit (`gbif_helper.py:41` —
    * 1000, with a broken truncation warning we do not replicate).
    * Deterministic: children ranked by (canonicalName, key). None = no cap.
    */
  def capChildren(children: DataFrame, maxChildren: Option[Int]): DataFrame =
    maxChildren match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("parentKey")).orderBy(col("canonicalName"), col("key"))
        children.withColumn("_graft_child_rn", row_number().over(w))
          .filter(col("_graft_child_rn") <= cap)
          .drop("_graft_child_rn")
      case None => children
    }

  /** J3 lookup: (parentKey, key, canonicalName) of the accepted,
    * habitat-filtered children of `parents` (a 1-column DataFrame of parent
    * taxids) at `cfg.resolveToRank`, one row per matching lineage entry.
    */
  private def candidates(parents: DataFrame, backbone: DataFrame,
      cfg: FilterConfig): DataFrame = {
    val target = cfg.resolveToRank.getOrElse("SPECIES").toUpperCase(java.util.Locale.ROOT)
    val habitatCond = cfg.habitat.map(h => upper(col("habitat")) === lit(h)).getOrElse(lit(true))
    backbone
      .filter(col("taxonomicStatus") === "ACCEPTED" &&
        upper(col("rank")) === lit(target) && habitatCond)
      .select(col("key"), col("canonicalName"), explode(col("higherTaxonKeys")).as("_graft_anc"))
      // a semi-join: repeated parent keys neither fan out nor need a distinct
      .join(parents.toDF("_graft_parent"), col("_graft_anc") === col("_graft_parent"), "left_semi")
      .select(col("_graft_anc").as("parentKey"), col("key"), col("canonicalName"))
  }

  /** Distinct in-zone children of `parents`: (parentKey, key, canonicalName).
    * The A3 cap applies at the children lookup, like the reference's limit;
    * then J4: the child must itself occur in the zone.
    */
  def childrenInZone(parents: DataFrame, backbone: DataFrame,
      occurrence: DataFrame, cfg: FilterConfig,
      maxChildren: Option[Int] = None): DataFrame =
    OccurrenceFilter.filterInZone(
      capChildren(candidates(parents, backbone, cfg).distinct(), maxChildren),
      "key", occurrence, cfg)

  /** Adds the two T2 list columns to a tagged, resolved input. Parents not
    * eligible (wrong rank, tag != true, resolution off) get null lists —
    * matching the reference's `None` (`apply_gbif_filter.py:176-183`).
    * Parents are picked by resolved rank alone and the tag gates only the
    * final lists join, so Catalyst prunes J2 from the parents branch and the
    * children lookup runs beside the occurrence scan, not after it.
    */
  def resolveChildren(tagged: DataFrame, backbone: DataFrame,
      occurrence: DataFrame, cfg: FilterConfig): DataFrame = {
    val target = cfg.resolveToRank.getOrElse("SPECIES")
    val rankOk = col(TaxonomyResolver.RankCol).isin(ResolvableRanks: _*) &&
      col(TaxonomyResolver.RankCol) =!= lit(target.toUpperCase(java.util.Locale.ROOT))
    val eligible = col(OccurrenceFilter.TagCol) === true && rankOk

    val parents = tagged.filter(rankOk).select(col(TaxonomyResolver.TaxidCol))
    // A1: the set drops lineage repeats; sorted (name, key) structs give
    // canonical lists with name/id pairing kept
    val lists = OccurrenceFilter
      .filterInZone(candidates(parents, backbone, cfg), "key", occurrence, cfg)
      .groupBy(col("parentKey"))
      .agg(array_sort(collect_set(struct(col("canonicalName"), col("key"))))
        .as("_graft_children"))
      .select(col("parentKey"),
        expr("transform(_graft_children, c -> c.canonicalName)").as(namesCol(target)),
        expr("transform(_graft_children, c -> c.key)").as(idsCol(target)))

    tagged
      .join(broadcast(lists),
        tagged(TaxonomyResolver.TaxidCol) === lists("parentKey") && eligible,
        "left")
      .drop("parentKey")
  }
}
