package graft

import graft.config.FilterConfig
import graft.ops.{OccurrenceFilter, OutputShaper, RankResolver, TaxonomyResolver}
import org.apache.spark.sql.DataFrame

/** End-to-end pipeline — the declarative DAG replacing the reference's
  * row-at-a-time driver loop (`apply_gbif_filter.py:74-192`, SURVEY.md §3.1):
  *
  * {{{
  * input ─ J1 resolve ─┬─ J2 tag join ─────────────────────── lists join ─ T1/T2 ─ [F1] ─ sink
  *                     │        ↑                                  ↑
  *                     │   in-zone keys ← G1/G2 zone ← occurrence  │
  *                     │        ↓ (reused)                         │
  *                     └─ parents by rank ─ J3 children ─ J4 semi-join ─ A1 lists
  * }}}
  *
  * One run is one adaptive query. The J2 tag join and the J4 child filter
  * read the same in-zone key relation, so the occurrence scan and its zone
  * test run once and the second use is a `ReusedExchange`. Parents are
  * picked by resolved rank, not by tag, so the children lookup does not
  * wait for the occurrence scan; the tag gates the lists at the final join.
  *
  * The reference's per-row HTTP round-trips (`gbif_helper.py:17,35,86`)
  * become Spark stages; its memo caches become lookups built once per key;
  * Catalyst/AQE pick physical join strategies. One DataFrame in, one out —
  * sources and sinks stay at the edges (graft.sources.Sources).
  */
object GbifFilterJob {

  /** @param tagMode true = annotate (`--tag`), false = filter
    *                (`apply_gbif_filter.py:84-91`)
    */
  def run(input: DataFrame, backbone: DataFrame, occurrence: DataFrame,
      cfg0: FilterConfig, tagMode: Boolean): DataFrame = {
    val cfg = FilterConfig.normalized(cfg0)
    val tagged = OccurrenceFilter.tagExistsInZone(
      TaxonomyResolver.resolve(input, backbone, cfg), occurrence, cfg)
    val withChildren =
      if (cfg.resolveToRank.isDefined)
        RankResolver.resolveChildren(tagged, backbone, occurrence, cfg)
      else tagged
    OutputShaper.shape(withChildren, input.columns.toSeq, cfg, tagMode)
  }
}
