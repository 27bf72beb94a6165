package graft.ops

import graft.config.FilterConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** J1 name-resolution join (SURVEY.md §2.3): the Spark-shaped version of
  * `GbifHelper.get_valid_taxid` (`gbif_helper.py:11-32`) + the per-row
  * normalization of `apply_gbif_filter.py:117-131` (P2/P3/P4) + the memo
  * cache C1 (`id_cache`), which becomes a lookup built once per name.
  *
  * Semantics preserved from the reference:
  *  - a pre-supplied taxid wins over the name and passes through
  *    *unvalidated* (`gbif_helper.py:12-13`, acknowledged TODO);
  *  - names match the backbone exactly (strict mode, `gbif_helper.py:18`);
  *    an ambiguous name — more than one candidate row after the
  *    rank/kingdom constraints, identical duplicate rows included —
  *    resolves to null, like GBIF strict matching;
  *  - synonyms chase to `acceptedUsageKey` (`gbif_helper.py:22-24`);
  *  - the resolved rank is the *matched* backbone rank
  *    (`gbif_helper.py:25-29`); for taxid passthrough it is the caller's
  *    rank hint, unvalidated.
  *
  * Plan: the kingdom-filtered backbone is semi-joined to the input's names
  * and one hash aggregate collects each name's rows as a (taxid, rank)
  * list; an input row resolves when exactly one entry fits its rank hint.
  * The aggregate is bounded by the backbone rows named in the input, not by
  * the backbone (~10^7 rows) or the input (~10^11 rows at 100 TB), so the
  * lookup is always broadcast.
  */
object TaxonomyResolver {

  val TaxidCol = "_graft_taxid"
  val RankCol = "_graft_rank"
  private val NameKey = "_graft_name_key"
  private val RankKey = "_graft_rank_key"

  /** L1 (`util/taxid.pyc`, SURVEY.md §2.7): accept both bare numeric ids and
    * `PREFIX:ID` strings (e.g. `GBIF:2433670`); anything else → null.
    */
  private def parseTaxid(c: org.apache.spark.sql.Column) = {
    val digits = regexp_extract(trim(c), "^(?:[A-Za-z]+:)?([0-9]+)$", 1)
    when(digits =!= "", digits.cast("long"))
  }

  /** Adds `_graft_taxid` (long, null = unresolved) and `_graft_rank`
    * (string) to `input`, resolving via `backbone`.
    */
  def resolve(input: DataFrame, backbone: DataFrame,
      cfg: FilterConfig): DataFrame = {
    // P2 null-normalize + P3 rank-uppercase + L1 taxid parse
    val nameExpr = cfg.nameColumn.map(c => {
      val t = trim(col(c)); when(t =!= "", t)
    }).getOrElse(lit(null).cast("string"))
    val taxidExpr = cfg.taxidColumn.map(c => parseTaxid(col(c)))
      .getOrElse(lit(null).cast("long"))
    val rankExpr = cfg.rankColumn.map(c => upper(trim(col(c))))
      .orElse(cfg.taxaRank.map(r => lit(r.toUpperCase(java.util.Locale.ROOT)).cast("string")))
      .getOrElse(lit(null).cast("string"))

    val keyed = input.select(col("*"),
      nameExpr.as(NameKey), taxidExpr.as("_graft_taxid_in"), rankExpr.as(RankKey))

    // C1: one lookup entry per name — the Spark version of `id_cache`
    // (`apply_gbif_filter.py:108,127-131`), without the str/int cache-miss
    // bug (SURVEY.md §7.5.4)
    val names = keyed
      .filter(col("_graft_taxid_in").isNull && col(NameKey).isNotNull)
      .select(col(NameKey))
    val bb = cfg.taxaKingdom
      .map(k => backbone.filter(col("kingdom") === lit(k)))
      .getOrElse(backbone)
    // every candidate row is kept (collect_list, not a set): two identical
    // backbone rows still make a name ambiguous
    val lookup = bb
      .join(names, col("canonicalName") === col(NameKey), "left_semi")
      .groupBy(col("canonicalName").as("_lk_name"))
      .agg(collect_list(struct(
        when(col("taxonomicStatus") === "SYNONYM", col("acceptedKey"))
          .otherwise(col("key")).as("taxid"),
        upper(col("rank")).as("rank"))).as("_lk_cands"))

    // strict match: exactly one candidate the rank hint allows
    val cands = filter(col("_lk_cands"),
      c => col(RankKey).isNull || c("rank") === col(RankKey))
    val hit = when(size(cands) === 1, cands(0))
    val taxidIn = col("_graft_taxid_in")
    keyed
      .join(broadcast(lookup), col(NameKey) === col("_lk_name"), "left")
      .select(input.columns.map(col) ++ Seq(
        // P4 precedence-coalesce (`apply_gbif_filter.py:123`): taxid wins
        coalesce(taxidIn, hit("taxid")).as(TaxidCol),
        when(taxidIn.isNotNull, col(RankKey)).otherwise(hit("rank")).as(RankCol)): _*)
  }
}
