package graft.dedup

import graft.Persisted
import graft.text.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extensions): exact hash dedup, word-n-gram Jaccard, MinHash+LSH,
  * SimHash. All shuffle on *content-derived keys* (hash / n-gram / band
  * bucket), never on document ids, so they scale horizontally: at 100 TB
  * the only all-pairs work happens inside hash buckets, whose size is
  * bounded by collision probability, not corpus size.
  */
object Dedup {

  // ---------------- exact dedup (hash-groupBy) ----------------

  /** One row per distinct text: content hash, surviving (minimum) id,
    * duplicate count. A single hash-partitioned aggregation — the scalable
    * groupBy formulation of `dropDuplicates(text)` that also reports
    * multiplicity.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Keep exactly the minimum-id row per distinct text (full-row dedup). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    df.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_graft_rn")
  }

  /** [[exactDedup]] with the decision LABELED instead of applied: every
    * row kept, `is_dup_survivor` marks the first-by-id row per distinct
    * text — the accounting form for audit pipelines that must attribute
    * every dropped row (the x_pipeline_validate_curate disposition
    * ledger), at the same cost as [[exactDedup]] (one content-hash
    * shuffle, one rank window).
    */
  def exactDedupLabeled(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    df.withColumn("is_dup_survivor", row_number().over(w) === 1)
  }

  // ---------------- word n-gram shingles ----------------

  /** Distinct word n-gram shingles of a text column (1-based `slice`). */
  def wordNgrams(c: Column, n: Int): Column =
    // tokens bound ONCE (TextFunctions.bindOnce): the inner lambda must
    // slice a bound array, not re-tokenize the document per position —
    // the unbound form was quadratic in document length (measured 99.8 s
    // on one 40k-token doc; bound form 0.5 s, identical output)
    TextFunctions.bindOnce(TextFunctions.tokens(c)) { t =>
      when(size(t) < n, array().cast("array<string>"))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n))))))
    }

  /** Exploded (id, shingle) pairs, distinct per document. The shingle
    * width `n` rides as column metadata (survives a parquet round-trip),
    * so a staged shingle artifact carries its own compatibility proof —
    * the `precomputedShingles` hooks require-check it.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.shingle.n", n.toLong).build()
    // the stamp rides a SECOND projection: an Alias directly over the
    // generator loses its metadata in the analyzer's Generate rewrite
    // (verified by spec); aliasing the plain attribute keeps it, and
    // CollapseProject folds the extra projection away
    // tokenize+explode ride the scan stage: floor its parallelism when
    // the input cannot yield one task per core (single-row-group files;
    // no-op at production input sizes) — see ops.Parallelism
    graft.ops.Parallelism.spreadIfNarrow(df)
      .select(col(idCol).as("_id"),
        explode(wordNgrams(col(textCol), n)).as("ngram"))
      .select(col("_id"), col("ngram").as("ngram", meta))
  }

  /** Explicit opt-in for externally built `(_id, ngram)` relations (not
    * produced by [[shingles]], so carrying no width stamp): the caller
    * ASSERTS the relation was shingled at width `n` and gets the stamp
    * attached, which the `precomputedShingles` hooks then accept. This is
    * the only unstamped escape hatch — the hooks themselves require the
    * stamp, because an unstamped artifact built at the wrong width (or
    * over a different corpus) would pass a schema-only check and yield
    * silently wrong similarities, the exact failure the stamp prevents.
    */
  def stampShingleWidth(pre: DataFrame, n: Int): DataFrame = {
    require(pre.columns.toSeq == Seq("_id", "ngram"),
      s"expected schema (_id, ngram); got (${pre.columns.mkString(", ")})")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.shingle.n", n.toLong).build()
    pre.select(col("_id"), col("ngram").as("ngram", meta))
  }

  /** Resolve the `(_id, ngram)` shingle relation for a set-similarity
    * pair operator: the caller's staged artifact (the minhash
    * `precomputedPairs` pattern — five gates otherwise re-explode the
    * identical corpus) or a fresh [[shingles]] explode. A passed artifact
    * is VALIDATED: exact `(_id, ngram)` schema, and [[shingles]]' width
    * stamp must be PRESENT and match `n` — an artifact shingled at a
    * different width would produce silently wrong similarities, and an
    * unstamped one proves nothing (route those through
    * [[stampShingleWidth]], the explicit opt-in). A fresh explode is
    * persisted (it feeds several plan branches; no exchange reuse across
    * mixed strategies); a staged artifact is NOT re-persisted — its
    * parquet scan is already parallel and columnar, and re-caching it
    * would double its memory.
    */
  private[graft] def validateShingleArtifact(pre: DataFrame, n: Int): Unit = {
    require(pre.columns.toSeq == Seq("_id", "ngram"),
      s"precomputedShingles must be the shingles() relation with schema " +
        s"(_id, ngram); got (${pre.columns.mkString(", ")})")
    val md = pre.schema("ngram").metadata
    require(md.contains("graft.shingle.n"),
      "precomputedShingles carry no width stamp — build them with " +
        "shingles(), or assert the width explicitly via stampShingleWidth()")
    require(md.getLong("graft.shingle.n") == n.toLong,
      s"precomputedShingles were built with n=${md.getLong("graft.shingle.n")}, " +
        s"but this operator was asked for n=$n")
  }

  private def resolveShingles(df: DataFrame, idCol: String, textCol: String,
      n: Int, precomputed: Option[DataFrame]): DataFrame = precomputed match {
    case Some(pre) =>
      validateShingleArtifact(pre, n)
      pre
    case None =>
      Persisted.track(shingles(df, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Repetition quality signal (Gopher-style): the fraction of a
    * document's n-gram occurrences that are repeats of an earlier n-gram,
    * `1 - distinct/total`. 0.0 for texts too short to form an n-gram.
    * A pure per-row column expression — scan-speed, no shuffle.
    */
  def repeatedNgramRatio(c: Column, n: Int): Column = {
    val total = size(TextFunctions.tokens(c)) - (n - 1)
    val uniq = size(wordNgrams(c, n))
    when(total <= 0, lit(0.0))
      .otherwise(lit(1.0) - uniq.cast("double") / total.cast("double"))
  }

  /** Benchmark-contamination check (decontamination pipelines: flag
    * training documents that share long n-gram overlaps with an eval
    * benchmark, cf. the 13-gram overlap rule of GPT-3's appendix): for
    * each document sharing at least `minShared` distinct n-gram shingles
    * with SOME benchmark document, report how many benchmark documents it
    * collides with and the largest overlap.
    *
    * The join key is the shingle — corpus x benchmark meet only where
    * content actually co-occurs, so cost is bounded by posting-list
    * lengths, never |corpus| x |benchmark|. The benchmark shingle side is
    * explicitly broadcast: eval benchmarks are tiny next to a training
    * corpus, but a Generate (explode) output defeats Catalyst's size
    * estimation, so without the hint the 100 TB corpus side would be
    * shuffled on the shingle.
    */
  def benchmarkContamination(df: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 3, minShared: Int = 8): DataFrame = {
    val d = shingles(df, idCol, textCol, n)
    val b = broadcast(shingles(benchmark, benchIdCol, benchTextCol, n)
      .select(col("_id").as("_bench_id"), col("ngram")))
    d.join(b, Seq("ngram"))
      .groupBy(col("_id"), col("_bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_matched_benchmarks"),
        max(col("n_shared")).as("max_shared"))
  }

  /** Paragraph-granularity duplication signal (CCNet-style: dedup decides
    * at the paragraph level, not the document level): split each document
    * into consecutive `blockTokens`-word blocks ([[graft.text.Chunking]]),
    * hash each block, and report per document how many of its blocks also
    * occur in at least one OTHER document. A doc with `shared_ratio` 1.0
    * is wholly boilerplate/duplicated; a low ratio localizes novelty even
    * when the document as a whole is not an exact duplicate.
    *
    * Scale shape: one hash-partitioned aggregation on the block hash
    * (the canonical dedup shuffle — content-keyed, bounded buckets), one
    * equi-join back on the same key, one aggregation on the doc id. No
    * all-pairs work anywhere; at 100 TB every stage is a plain shuffle.
    */
  def duplicatedBlockRatio(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 10): DataFrame = {
    // the block relation feeds both the per-block doc counts and the
    // join-back; without persist the chunk explode is recomputed per
    // branch (lazy by design — see the fan-out note in ngramJaccardPairs)
    val blocks = Persisted.track(
      graft.text.Chunking.chunkByTokens(df, idCol, textCol, blockTokens)
        .select(col(idCol), md5(col("chunk_text").cast("binary")).as("_bh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // distinct docs per block: >1 means the block text recurs elsewhere
    val docsPerBlock = blocks.groupBy(col("_bh"))
      .agg(countDistinct(col(idCol)).as("_ndocs"))
    blocks.join(docsPerBlock, "_bh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("_ndocs") > 1, 1L).otherwise(0L)).as("n_shared_blocks"))
      .withColumn("shared_ratio",
        col("n_shared_blocks").cast("double") / col("n_blocks"))
  }

  /** Paragraph-granularity DEDUP (the removal counterpart of
    * [[duplicatedBlockRatio]], CCNet-style): every distinct block survives
    * exactly once — at its first occurrence in (doc id, chunk idx) order —
    * and each document is rebuilt from its surviving blocks in original
    * order (possibly empty, never dropped). Boilerplate repeated across
    * documents disappears from all but the first; novel text is untouched.
    *
    * One content-keyed shuffle (the keep-first window partitions on the
    * block hash), one doc-id aggregation to rebuild, one left join to
    * retain fully-deduplicated documents. Same 100 TB shape as
    * [[duplicatedBlockRatio]].
    */
  def dedupBlocks(df: DataFrame, idCol: String, textCol: String,
      blockTokens: Int = 10): DataFrame = {
    val chunks = graft.text.Chunking.chunkByTokens(df, idCol, textCol, blockTokens)
    val firstOccurrence = Window
      .partitionBy(md5(col("chunk_text").cast("binary")))
      .orderBy(col(idCol), col("chunk_idx"))
    val rebuilt = chunks
      .withColumn("_graft_rn", row_number().over(firstOccurrence))
      .filter(col("_graft_rn") === 1)
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text"))))
          .getField("chunk_text")).as("clean_text"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Default stop-shingle guard: drop shingles present in more than half
    * the corpus. A shingle in >50% of documents is boilerplate by
    * definition (headers, licenses, templates); true near-dup pairs at
    * tau >= 0.8 share almost their whole shingle sets, so removing
    * universally-common shingles barely moves their Jaccard — while the
    * unguarded self-join is QUADRATIC in each shingle's document
    * frequency, which at corpus scale is the difference between a bounded
    * equi-join and a broken job. ON by default; pass
    * `maxDfFraction = None` for the exact unguarded form.
    *
    * The fraction default is a BACKSTOP, not a boilerplate guard:
    * measured r12 (`ssjoinskew`, 10.4M docs, 10-token template in every
    * 1000th doc), df = corpus/1000 never crosses `0.5·corpus`, so this
    * default leaves the full 4.4e8-pair quadratic block in place (and
    * AQE's skew-split cannot see join-OUTPUT skew — 0 markers in the
    * adaptive plan). At corpus scale set an ABSOLUTE `maxDf` (the probe's
    * maxDf=1000 arm: 935 → 462 s) or use [[jaccardPrefixPairs]], which is
    * exact AND skew-immune (rarest-first prefixes never join the hot
    * shingles). See TUNING's skew row.
    */
  val DefaultMaxDfFraction: Double = 0.5

  /** Apply the stop-shingle guard to an (_id, ngram) relation. An explicit
    * absolute `maxDf` wins; otherwise `maxDfFraction` sets a LAZY
    * corpus-fraction threshold (ceil(fraction x distinct docs), computed
    * inside the plan via a broadcast 1-row subquery — no eager action in
    * the query builder).
    */
  private def applyMaxDf(ng: DataFrame, maxDf: Option[Int],
      maxDfFraction: Option[Double]): DataFrame = (maxDf, maxDfFraction) match {
    case (Some(m), _) =>
      val keep = ng.groupBy(col("ngram")).count().filter(col("count") <= m)
        .select(col("ngram"))
      ng.join(keep, Seq("ngram"), "left_semi")
    case (None, Some(f)) =>
      val thresh = ng.select(
        greatest(ceil(count_distinct(col("_id")) * f), lit(1L)).as("_graft_max_df"))
      val keep = ng.groupBy(col("ngram")).count()
        .join(broadcast(thresh))
        .filter(col("count") <= col("_graft_max_df"))
        .select(col("ngram"))
      ng.join(keep, Seq("ngram"), "left_semi")
    case (None, None) => ng
  }

  /** Exact n-gram Jaccard similarity join: all pairs with
    * jaccard >= tau. The join key is the shingle (content), so co-occurring
    * documents meet without any all-pairs scan; the stop-shingle guard
    * (`maxDf` absolute / `maxDfFraction` corpus-fraction, ON by default —
    * see [[DefaultMaxDfFraction]]) drops boilerplate shingles whose
    * posting-list self-join would otherwise blow up quadratically at scale.
    * Jaccard is computed over the FILTERED shingle universe on both the
    * numerator and denominator, so it stays exact over that universe.
    *
    * Pairs come from the shingle self-join. SMJ streams one side and
    * spills the other side's per-key block (ExternalAppendOnlyUnsafeRowArray),
    * so a frequent shingle's d² pair block degrades to disk instead of
    * dying — the skew-safe posture for real (boilerplate-heavy) corpora.
    * Not a posting-list form (`collect_list` per shingle, pairs expanded
    * in-line): faster on uniform corpora, it dies with
    * java.lang.OutOfMemoryError at 64g on a boilerplate corpus where this
    * join completes (TUNING `ssjoinskew` row).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, maxDf: Option[Int] = None,
      maxDfFraction: Option[Double] = Some(DefaultMaxDfFraction),
      precomputedShingles: Option[DataFrame] = None): DataFrame = {
    // the shingle relation feeds both join sides and the per-doc counts —
    // without persist Spark recomputes the explode 4x (no exchange reuse
    // across mixed broadcast/shuffle strategies). Deliberately NOT
    // count()-materialized before the fan-out: concurrent reader stages
    // do race the lazy cache (bounded recompute), but a count() barrier
    // measurably REGRESSES wall-clock here — idle cores absorb the raced
    // recompute, the barrier adds a serial pass (NOTES, r3). The
    // exception is iterative/driver-bound state (duplicateGroupsAuto),
    // where the raced upstream is a whole pipeline.
    val ng = resolveShingles(df, idCol, textCol, n, precomputedShingles)
    val ngFiltered =
      if (maxDf.isEmpty && maxDfFraction.isEmpty) ng
      else Persisted.track(applyMaxDf(ng, maxDf, maxDfFraction)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // per-doc counts over the SAME (filtered) shingle universe as the
    // intersection, so Jaccard is exact over that universe — mixing the
    // unfiltered denominator with a filtered numerator would systematically
    // underestimate similarity
    val cnt = ngFiltered.groupBy(col("_id")).agg(count(lit(1)).as("n_shingles"))
    // NO shuffle_hash hint on shingle-scale self-joins: the per-partition
    // build map is corpus/partitions-sized and CANNOT fully spill —
    // measured r11 at 10.4M docs / 32 partitions / 64g the hinted join
    // died with "not enough memory to build hash map" where sort-merge
    // spills and completes. SMJ is the spill-safe default here and
    // everywhere a shingle relation joins itself.
    val inter =
      ngFiltered.select(col("_id").as("id_a"), col("ngram"))
        .join(ngFiltered.select(col("_id").as("id_b"), col("ngram")),
          Seq("ngram"))
        .filter(col("id_a") < col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_inter"))
    inter
      .join(cnt.select(col("_id").as("id_a"), col("n_shingles").as("n_a")), Seq("id_a"))
      .join(cnt.select(col("_id").as("id_b"), col("n_shingles").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** PREFIX-FILTERED exact set-similarity self-join (the AllPairs /
    * PPJoin family — Bayardo et al. 2007, Xiao et al. 2008): the same
    * exact Jaccard-pairs result as [[ngramJaccardPairs]] (unguarded),
    * with candidate generation joining only each document's PREFIX
    * shingles instead of all of them.
    *
    * Canonical order: shingles globally ordered by (document frequency
    * asc, shingle asc) — rare-first, a total order shared by every doc.
    * A doc with `s` shingles keeps its first `s − ceil(τ·s) + 1` as the
    * prefix. Completeness (no pair above τ is missed): `J(x,y) ≥ τ ⟹
    * |x∩y| ≥ ceil(τ·max(|x|,|y|))`, and if `|x∩y| ≥ α` the smallest
    * common shingle in the canonical order has rank `≤ |x|−α+1` in x and
    * `≤ |y|−α+1` in y — so it lies in BOTH prefixes. The candidate join
    * also applies the length filter `τ·|x| ≤ |y| ≤ |x|/τ` and the PPJoin
    * positional filter: on the row of the smallest common shingle, at
    * 0-based positions `p_x`, `p_y`, every common shingle sits at or
    * after those positions, so `|x∩y| ≤ min(|x|−p_x, |y|−p_y)`, and
    * `J ≥ τ ⟺ (τd+τn)·|x∩y| ≥ τn·(|x|+|y|)` makes
    * `(τd+τn)·min(|x|−p_x, |y|−p_y) ≥ τn·(|x|+|y|)` necessary on that
    * row. Rows of other shared shingles may fail it; they are dropped
    * by verification anyway.
    *
    * Verification: each candidate row carries both documents' canonical
    * shingle arrays; `|x∩y|` is the size of their intersection, and the
    * row survives only if its shingle is the FIRST element of that
    * intersection (canonical order is kept by `array_intersect`). That
    * shingle lies in both prefixes, so every qualifying pair is emitted
    * exactly once — no `distinct`, no regroup. The τ threshold is
    * evaluated in exact integers (`τd·i ≥ τn·(|x|+|y|−i)`), so the
    * output is bit-identical to the all-shingle join's.
    *
    * Scale: the all-shingle self-join shuffles Σ df² candidate rows —
    * at 100 TB the frequent-shingle tail dominates. The prefix join
    * shuffles only prefix occurrences (the RAREST ~(1−τ) fraction of
    * each doc's shingles), cutting candidates by orders of magnitude
    * while staying lossless. Costs added: one df window on the shingle
    * and one per-doc token array (a doc's shingles, row-scaled).
    * τ is passed as the exact rational `tauNum/tauDen`.
    */
  def jaccardPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, tauNum: Int, tauDen: Int,
      precomputedShingles: Option[DataFrame] = None): DataFrame =
    prefixJoin(df, idCol, textCol, n, tauNum, tauDen, precomputedShingles,
        containment = false)
      .filter(lit(tauDen.toLong) * col("n_inter")
        >= lit(tauNum.toLong) * (col("n_a") + col("n_b") - col("n_inter")))
      .select(col("id_a"), col("id_b"), (col("n_inter").cast("double")
        / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))

  private def requireTau(tauNum: Int, tauDen: Int): Unit =
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be a rational in (0, 1], got $tauNum/$tauDen")

  /** `(_id, n, toks)`: each document's distinct shingles as one array in
    * the global (df asc, shingle asc) canonical order, with its length.
    * df is a window count on the shingle, so no lookup join is keyed on
    * it.
    */
  private def canonicalTokens(ng: DataFrame): DataFrame =
    ng.withColumn("_df", count(lit(1)).over(Window.partitionBy(col("ngram"))))
      .groupBy(col("_id"))
      .agg(array_sort(collect_list(struct(col("_df"), col("ngram")))).as("_st"))
      .select(col("_id"), size(col("_st")).cast("long").as("n"),
        col("_st.ngram").as("toks"))

  /** `(_id, n, _p, ngram)`: the first `n − ceil(τ·n) + 1` entries of each
    * [[canonicalTokens]] array with their 0-based position — the prefix
    * the prefix joins probe with.
    */
  private def positionedPrefix(docs: DataFrame,
      tauNum: Int, tauDen: Int): DataFrame =
    positioned(docs, slice(col("toks"), lit(1),
      expr(s"CAST(n - ($tauNum * n + ${tauDen - 1}) DIV $tauDen + 1 AS INT)")))

  private def positioned(docs: DataFrame, toks: Column): DataFrame =
    docs.select(col("_id"), col("n"), posexplode(toks).as(Seq("_p", "ngram")))

  /** The shared prefix ssjoin: `(id_a, id_b, n_a, n_b, n_inter)` for every
    * pair that may reach τ, each pair once. Symmetric (Jaccard): both
    * sides probe with their prefix, `id_a < id_b`, length and positional
    * filter. Containment (`a` = sub, `b` = super): the sub probes with its
    * prefix against every super position, `id_a ≠ id_b`, and
    * `τd·min(n_a−p_a, n_b−p_b) ≥ τn·n_a`. One `ngram`-keyed join; the
    * verify attaches both token arrays by id and keeps only the row of
    * the pair's first common shingle (see [[jaccardPrefixPairs]]).
    */
  private def prefixJoin(df: DataFrame, idCol: String, textCol: String,
      n: Int, tauNum: Int, tauDen: Int, precomputedShingles: Option[DataFrame],
      containment: Boolean): DataFrame = {
    requireTau(tauNum, tauDen)
    // a fresh explode is NOT persisted: it feeds one window, and the
    // branches above the token arrays share its exchanges
    val ng = precomputedShingles match {
      case Some(pre) => validateShingleArtifact(pre, n); pre
      case None => shingles(df, idCol, textCol, n)
    }
    val docs = canonicalTokens(ng)
    def side(s: String, pos: DataFrame): DataFrame = pos.select(
      col("_id").as(s"id_$s"), col("n").as(s"n_$s"), col("_p").as(s"p_$s"), col("ngram"))
    def toks(s: String): DataFrame =
      docs.select(col("_id").as(s"id_$s"), col("toks").as(s"t_$s"))
    val (tn, td) = (lit(tauNum.toLong), lit(tauDen.toLong))
    // common shingles at or after the row's positions on both sides
    val overlapBound = least(col("n_a") - col("p_a"), col("n_b") - col("p_b"))
    val prefix = positionedPrefix(docs, tauNum, tauDen)
    val (superSide, cond) =
      if (containment)
        (positioned(docs, col("toks")),
          col("id_a") =!= col("id_b") && td * overlapBound >= tn * col("n_a"))
      else
        (prefix, col("id_a") < col("id_b")
          && td * col("n_b") >= tn * col("n_a")
          && td * col("n_a") >= tn * col("n_b")
          && (td + tn) * overlapBound >= tn * (col("n_a") + col("n_b")))
    // no shuffle_hash: see ngramJaccardPairs — SMJ spills, hash maps don't.
    // The prefix side is on the right: both sides derive from `docs` with
    // equal size estimates, and a broadcast then builds the right side,
    // which for containment is the ~(1−τ) sub prefix, not every super row
    side("b", superSide).join(side("a", prefix), Seq("ngram"))
      .filter(cond)
      .join(toks("a"), Seq("id_a"))
      .join(toks("b"), Seq("id_b"))
      .withColumn("_common", array_intersect(col("t_a"), col("t_b")))
      .filter(element_at(col("_common"), 1) === col("ngram"))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        size(col("_common")).cast("long").as("n_inter"))
  }

  /** The relative cap of [[editDistanceNearDup]]: a pair is kept when
    * `EditDistanceCap · lev ≤ max(len_a, len_b)`. The
    * `x_dedup_edit_distance` oracle interpolates this same value. */
  val EditDistanceCap: Long = 10L

  /** CHARACTER-LEVEL near-duplicate verify: [[jaccardPrefixPairs]]
    * candidates at a loose token-set threshold, confirmed with exact
    * Levenshtein edit distance under a RELATIVE cap
    * (`EditDistanceCap·lev ≤ max(len_a, len_b)`, exact integers).
    *
    * Why both levels: token-set Jaccard is permutation-blind — a
    * shuffled bag of the same words scores 1.0 — while edit distance
    * charges every reordering; conversely edit distance alone is
    * O(len²) per pair and can never run all-pairs. The standard
    * composition is cheap set-similarity candidates → expensive
    * character verify on the survivors, exactly this operator. Output:
    * `(id_a, id_b, edit_dist)`.
    *
    * Scale: candidate volume is the prefix join's (lossless at
    * `tauNum/tauDen`); the Levenshtein runs once per CANDIDATE, not per
    * pair of documents. In production cap the quadratic cost with
    * Spark's thresholded `levenshtein(l, r, k)` (early-exits above k,
    * returns −1) or truncate to a fixed character budget first; the
    * gated form keeps the plain call so the emitted distance replays
    * exactly in the oracle. The distance is defined over UTF-8 BYTES —
    * the one unit both engines can agree on for arbitrary text (Spark
    * via an ISO-8859-1 byte-per-char decode; DuckDB natively) — and the
    * threshold ratio uses byte lengths to match.
    */
  def editDistanceNearDup(df: DataFrame, idCol: String, textCol: String,
      n: Int, tauNum: Int, tauDen: Int,
      precomputedCandidates: Option[DataFrame] = None): DataFrame = {
    // candidates are a stageable pair relation (the minhash-pairs
    // staging pattern): a deployment persists them once and re-verifies
    // at several distance thresholds without re-running the ssjoin
    val cands = precomputedCandidates
      .getOrElse(jaccardPrefixPairs(df, idCol, textCol, n, tauNum, tauDen))
      .select(col("id_a"), col("id_b"))
    // BYTE-level distance on both sides: Spark's levenshtein counts
    // code points while DuckDB's counts BYTES — divergent on non-ASCII
    // (measured on an adversarial Unicode corpus). Decoding the UTF-8
    // bytes as ISO-8859-1 yields one char per byte, making Spark's
    // levenshtein compute the byte-level distance DuckDB computes
    // natively; identical on ASCII. The length in the threshold ratio
    // uses octet_length for the same unit. Byte edits upper-bound code
    // point edits, so the near-dup threshold stays conservative.
    val bytesAsChars = decode(encode(col(textCol), "UTF-8"), "ISO-8859-1")
    val texts = df.select(col(idCol).as("_tid"), bytesAsChars.as("_txt"),
      octet_length(col(textCol)).cast("long").as("_len"))
    cands
      .join(texts.select(col("_tid").as("id_a"), col("_txt").as("_ta"),
        col("_len").as("_la")), Seq("id_a"))
      .join(texts.select(col("_tid").as("id_b"), col("_txt").as("_tb"),
        col("_len").as("_lb")), Seq("id_b"))
      .withColumn("edit_dist", levenshtein(col("_ta"), col("_tb")).cast("long"))
      .filter(lit(EditDistanceCap) * col("edit_dist") <= greatest(col("_la"), col("_lb")))
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  /** ASYMMETRIC containment pairs: `(id_sub, id_super)` where the sub
    * document's shingle set is ≥ `tauNum/tauDen` contained in the super
    * document's (`C(a→b) = |a∩b| / |a|`). Near-SUBSET duplication —
    * a quoted paragraph, a doc embedded in a larger page — scores LOW
    * symmetric Jaccard when sizes differ (J ≤ |a|/|b|), so a Jaccard
    * dedup never sees it; containment is the right asymmetric measure.
    * Threshold evaluated in exact integers (`tauDen·i ≥ tauNum·n_sub`);
    * both directions of each unordered candidate pair are tested.
    *
    * Scale: same shingle equi-join bound (Σ df²) as
    * [[ngramJaccardPairs]] — apply the `maxDf` guard on boilerplate
    * corpora, or generate candidates from a containment-adapted prefix
    * (only the sub side's prefix length may depend on τ; the super side
    * must join on ALL its shingles, since containment puts no lower
    * bound on the super's similarity).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, tauNum: Int, tauDen: Int,
      maxDf: Option[Int] = None,
      maxDfFraction: Option[Double] = Some(DefaultMaxDfFraction),
      precomputedShingles: Option[DataFrame] = None): DataFrame = {
    requireTau(tauNum, tauDen)
    val ng = resolveShingles(df, idCol, textCol, n, precomputedShingles)
    val ngF =
      if (maxDf.isEmpty && maxDfFraction.isEmpty) ng
      else Persisted.track(applyMaxDf(ng, maxDf, maxDfFraction)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cnt = ngF.groupBy(col("_id")).agg(count(lit(1)).as("n_shingles"))
    // no shuffle_hash: see ngramJaccardPairs — SMJ spills, hash maps don't
    val inter = ngF.select(col("_id").as("id_a"), col("ngram"))
      .join(ngF.select(col("_id").as("id_b"), col("ngram")), Seq("ngram"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(cnt.select(col("_id").as("id_a"), col("n_shingles").as("n_a")), Seq("id_a"))
      .join(cnt.select(col("_id").as("id_b"), col("n_shingles").as("n_b")), Seq("id_b"))
    // each direction independently: a contained in b, b contained in a
    inter.filter(lit(tauDen.toLong) * col("n_inter")
        >= lit(tauNum.toLong) * col("n_a"))
      .select(col("id_a").as("id_sub"), col("id_b").as("id_super"),
        col("n_inter"), col("n_a").as("n_sub"))
      .unionByName(inter.filter(lit(tauDen.toLong) * col("n_inter")
          >= lit(tauNum.toLong) * col("n_b"))
        .select(col("id_b").as("id_sub"), col("id_a").as("id_super"),
          col("n_inter"), col("n_b").as("n_sub")))
  }

  /** [[containmentPairs]] with SUB-SIDE prefix filtering — the
    * asymmetric adaptation of the AllPairs prefix filter: `C(a→b) ≥ τ ⟹
    * |a∩b| ≥ ceil(τ·|a|)`, so the smallest common shingle (global
    * (df, shingle) order) has rank `≤ |a| − ceil(τ·|a|) + 1` in `a` —
    * joining only a's prefix against ALL of b's shingles is LOSSLESS
    * (the gated query's oracle is [[containmentPairs]]' own SQL, so
    * every hash pass re-proves it). Only the SUB side can prefix:
    * the super's own share `|a∩b|/|b|` may be arbitrarily small, so the
    * super side exposes every shingle — the candidate cut is ~(1−τ) of
    * the sub side's join volume (10× at τ = 9/10), not the symmetric
    * join's square. A one-sided length filter does exist: `|b| ≥ |a∩b| ≥
    * ceil(τ·|a|)`. The positional filter enforces it and more: on the
    * row of the smallest common shingle, at 0-based positions `p_a`,
    * `p_b`, `|a∩b| ≤ min(|a|−p_a, |b|−p_b)`, so
    * `τd·min(|a|−p_a, |b|−p_b) ≥ τn·|a|` is necessary on that row.
    * Verification is the same first-common-shingle array intersection
    * as [[jaccardPrefixPairs]], so each ordered pair is emitted once;
    * the threshold is exact integers (`τd·i ≥ τn·|a|`).
    */
  def containmentPrefixPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, tauNum: Int, tauDen: Int,
      precomputedShingles: Option[DataFrame] = None): DataFrame =
    prefixJoin(df, idCol, textCol, n, tauNum, tauDen, precomputedShingles,
        containment = true)
      .filter(lit(tauDen.toLong) * col("n_inter") >= lit(tauNum.toLong) * col("n_a"))
      .select(col("id_a").as("id_sub"), col("id_b").as("id_super"),
        col("n_inter"), col("n_a").as("n_sub"))

  /** WINNOWING fingerprint pairs (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS local fingerprinting algorithm): per document, hash every
    * positional `k`-token gram, slide a window of `w` consecutive gram
    * positions, and select each window's MINIMUM hash (ties to the
    * RIGHTMOST position — the standard rule that keeps consecutive
    * windows re-selecting one fingerprint). Documents sharing at least
    * `minShared` distinct selected fingerprints pair.
    *
    * The winnowing guarantee: any shared token run of length
    * ≥ `w + k − 1` forces at least one SHARED selected fingerprint —
    * unlike MinHash (whole-document similarity) this detects LOCAL
    * overlap (a copied paragraph inside otherwise-unrelated documents),
    * and unlike span dedup it emits a bounded fingerprint set
    * (expected density `2/(w+1)` per gram) instead of every duplicated
    * occurrence. Output: `(id_a, id_b, n_shared)`.
    *
    * Exact replay: gram hash is the positional md5 of [[spanDedup]];
    * rightmost-min tie-break rides ONE orderable string
    * `h ‖ lpad(99999999 − pos)` (min = smallest hash, then largest
    * position; fixed-width decimal compares like the integer in both
    * engines — requires docs < 10^8 grams). Pairing computes each doc's
    * fingerprint set inside the scan ([[winnowFingerprints]]: one codegen
    * scalar, [[WinnowExpr]] — winnowing is a pure per-doc function, the
    * [[SimHashExpr]] argument); the DuckDB oracle replays the relational
    * form (gram explode + `ROWS BETWEEN CURRENT ROW AND w−1 FOLLOWING`
    * per-doc window, [[winnowFingerprintsSql]]), which DedupSpec also
    * keeps as a Spark reference. The fingerprint join is
    * a content-keyed equi-join; at web scale apply the stop-shingle
    * maxDf analogue to boilerplate fingerprints before pairing.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 2L): DataFrame = {
    require(k >= 2 && w >= 1 && minShared >= 1)
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
    fps.select(col(idCol).as("id_a"), col("_graft_h"))
      .join(fps.select(col(idCol).as("id_b"), col("_graft_h")), Seq("_graft_h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Distinct selected fingerprints per doc: the whole winnowing
    * selection as one codegen scalar ([[WinnowExpr]]) — no occurrence
    * explode, no per-doc window shuffle. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame =
    df.select(col(idCol),
      explode(WinnowExpr.fingerprintsCol(col(textCol), k, w)).as("_graft_h"))

  /** DuckDB twin of [[winnowFingerprints]] (the relational form: gram
    * occurrence explode + per-doc window min) over the rows of `table`
    * matching `pred`: `(idCol, fingerprint)`. */
  def winnowFingerprintsSql(table: String, idCol: String, textCol: String,
      k: Int, w: Int, pred: String = "TRUE"): String =
    s"""WITH _t AS (
       |  SELECT $idCol, string_split(trim($textCol), ' ') AS tk,
       |         CAST(len(string_split(trim($textCol), ' ')) AS BIGINT) AS n
       |  FROM $table WHERE $pred),
       |_occ0 AS (SELECT $idCol, n, tk, unnest(range(n - ${k - 1})) AS pos
       |          FROM _t WHERE n >= ${k + w - 1}),
       |_occ AS (SELECT $idCol, n, CAST(pos AS BIGINT) AS pos,
       |    md5(array_to_string(list_slice(tk, CAST(pos + 1 AS BIGINT),
       |      CAST(pos + $k AS BIGINT)), ' ')) AS h
       |  FROM _occ0),
       |_keyed AS (SELECT $idCol, n, pos,
       |    h || lpad(CAST(99999999 - pos AS VARCHAR), 8, '0') AS wk
       |  FROM _occ),
       |_win AS (SELECT $idCol, n, pos,
       |    min(wk) OVER (PARTITION BY $idCol ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS sel
       |  FROM _keyed)
       |SELECT DISTINCT $idCol, substr(sel, 1, 32) AS fingerprint
       |FROM _win WHERE pos <= n - $k - ${w - 1}""".stripMargin

  /** DuckDB twin of [[winnowPairs]] over a table: identical gram md5,
    * identical rightmost-min window selection, identical pair count. */
  def winnowPairsSql(table: String, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 2L): String =
    // ONE winnowing definition: the pair query nests the fingerprint
    // statement verbatim, so the x_dedup_winnow and x_stream_winnow_exec
    // oracles can never assert different selections
    s"""WITH _fp AS MATERIALIZED (
       |  SELECT * FROM (
       |${winnowFingerprintsSql(table, idCol, textCol, k, w)}
       |))
       |SELECT a.$idCol AS id_a, b.$idCol AS id_b,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM _fp a JOIN _fp b
       |  ON a.fingerprint = b.fingerprint AND a.$idCol < b.$idCol
       |GROUP BY a.$idCol, b.$idCol
       |HAVING count(*) >= $minShared""".stripMargin

  // ---------------- MinHash + LSH ----------------

  /** MinHash signatures: per document, the element-wise minimum of
    * `numHashes` seeded xxhash64 values over its shingles. One shuffle
    * (groupBy id); signature width is a constant column count.
    * `precomputedShingles` = the staged at-ingest shingle artifact
    * (validated like the pair operators' hook — schema + width stamp).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 32,
      precomputedShingles: Option[DataFrame] = None): DataFrame = {
    // single consumer of the relation — a fresh explode needs no persist
    val ng = precomputedShingles
      .map(pre => { validateShingleArtifact(pre, n); pre })
      .getOrElse(shingles(df, idCol, textCol, n))
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("ngram"))).as(s"_h$i"))
    ng.groupBy(col("_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("_id"),
        array((0 until numHashes).map(i => col(s"_h$i")): _*).as("signature"))
  }

  /** LSH banding: hash `rowsPerBand`-sized signature slices into band
    * buckets; documents sharing any (band, bucket) become candidate pairs.
    * The pair join is an equi-join on (band, bucket) — no all-pairs work.
    */
  def lshCandidatePairs(signatures: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val buckets = bandBuckets(signatures, numHashes, rowsPerBand)
    buckets.as("x").join(buckets.as("y"), Seq("band", "bucket"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
  }

  /** `(_id, band, bucket)` — the exploded LSH banding relation. Shared by
    * the self-join pair generator above and the batch-vs-corpus probe of
    * [[incrementalDedup]] (where the corpus side is the persisted index).
    */
  def bandBuckets(signatures: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandEntries = (0 until numBands).map { bIdx =>
      struct(lit(bIdx).as("band"),
        xxhash64(lit(bIdx), slice(col("signature"), bIdx * rowsPerBand + 1, rowsPerBand))
          .as("bucket"))
    }
    signatures
      .select(col("_id"), explode(array(bandEntries: _*)).as("bb"))
      .select(col("_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Near-duplicate pairs: LSH candidates verified with *exact* n-gram
    * Jaccard (so precision is exact; recall is the LSH banding guarantee —
    * with 16 bands x 2 rows, a pair at jaccard 0.9 is missed with
    * probability (1-0.9^2)^16 ~ 3e-12).
    */
  def minhashNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.8,
      numHashes: Int = 32, rowsPerBand: Int = 2,
      maxDf: Option[Int] = None,
      maxDfFraction: Option[Double] = Some(DefaultMaxDfFraction),
      precomputedShingles: Option[DataFrame] = None): DataFrame =
    minhashScoredCandidates(df, idCol, textCol, n, numHashes, rowsPerBand,
      maxDf, maxDfFraction, precomputedShingles)
      .filter(col("jaccard") >= tau)

  /** The scored LSH candidate relation of [[minhashNearDuplicates]]
    * WITHOUT the tau cut: (id_a, id_b, jaccard) for every banding
    * candidate, exact-verified. Callers sweeping several thresholds
    * (dedup-aggressiveness ablations) should persist THIS relation and
    * filter per tau — re-running the full pipeline per tau costs ~2x the
    * fused pass each time (TUNING, `numHashes` / `rowsPerBand` row). Candidates
    * come from the banding, so recall below the banding's designed tau
    * range degrades: size `numHashes`/`rowsPerBand` for the LOWEST tau
    * being swept.
    */
  def minhashScoredCandidates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3,
      numHashes: Int = 32, rowsPerBand: Int = 2,
      maxDf: Option[Int] = None,
      maxDfFraction: Option[Double] = Some(DefaultMaxDfFraction),
      precomputedShingles: Option[DataFrame] = None): DataFrame = {
    // guard BEFORE signatures: the filtered universe feeds the MinHash,
    // the candidate verify and the per-doc counts alike, so Jaccard stays
    // exact over the guarded universe. (Lazy persist by design — see the
    // fan-out note in ngramJaccardPairs; a staged parquet artifact is not
    // re-persisted, but the guard-FILTERED relation always is — it is
    // derived, multi-consumer, and not what the caller staged.)
    val ngRaw = resolveShingles(df, idCol, textCol, n, precomputedShingles)
    val ng =
      if (maxDf.isEmpty && maxDfFraction.isEmpty) ngRaw
      else Persisted.track(applyMaxDf(ngRaw, maxDf, maxDfFraction)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // ONE aggregation pass computes the signature minima AND the per-doc
    // shingle count — the count is a free extra column in the same
    // map-side combine, where a separate groupBy would re-shuffle the
    // whole shingle relation
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("ngram"))).as(s"_h$i")) :+
      count(lit(1)).as("n_shingles")
    val sigsCnt = Persisted.track(ng.groupBy(col("_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("_id"),
        array((0 until numHashes).map(i => col(s"_h$i")): _*).as("signature"),
        col("n_shingles"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val cand = lshCandidatePairs(
      sigsCnt.select(col("_id"), col("signature")), numHashes, rowsPerBand)
    val cnt = sigsCnt.select(col("_id"), col("n_shingles"))
    // intersection sizes via an equi-join on (id, ngram): the second join
    // keys on BOTH the doc id and the shingle, so per candidate pair we
    // stream |shingles(a)| probe rows — never the |a| x |b| cross product a
    // join-on-id-then-filter shape would materialize
    val inter = cand
      .join(ng.select(col("_id").as("id_a"), col("ngram")), Seq("id_a"))
      .join(ng.select(col("_id").as("id_b"), col("ngram")), Seq("id_b", "ngram"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(cnt.select(col("_id").as("id_a"), col("n_shingles").as("n_a")), Seq("id_a"))
      .join(cnt.select(col("_id").as("id_b"), col("n_shingles").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EMPIRICAL LSH BANDING S-CURVE (eval family): per exact-Jaccard bin,
    * how many pairs the MinHash banding actually detects — the measured
    * counterpart of the design curve `P(detect|J) = 1 − (1 − J^r)^b`,
    * answering "are b/r sized right for THIS corpus's similarity mass?"
    * before a dedup deployment trusts the banding (Leskovec/Rajaraman/
    * Ullman ch. 3's tuning step, done on data instead of faith).
    *
    * The audited banding uses a DuckDB-REPLAYABLE permutation family —
    * per-seed 48-bit md5 minima ([[graft.sketch.Kmv.kmvHashCol]]'s hash
    * with a `"<seed>|"` prefix) — because the production path's
    * `xxhash64` has no DuckDB twin (that gate pins truth-set EQUALITY at
    * its design point instead; this gate measures the curve across ALL
    * bins, which needs the banding itself in both engines). Min-stability
    * is hash-family-independent, so the md5 curve estimates the same
    * detection probabilities the xxhash64 deployment has.
    *
    * Output: one row per occupied bin `j_bucket = ⌊buckets·J⌋` (exact
    * integer: `(buckets·i) DIV (n_a+n_b−i)`), with `n_pairs`,
    * `n_detected`, and `det_permille = (1000·n_detected) DIV n_pairs`.
    * Pairs below 1/5 exact Jaccard ([[CurveFloorNum]]/[[CurveFloorDen]])
    * are out of scope (the
    * truth-set join below the floor is the quadratic tail nobody audits).
    *
    * Scale: the banding side is signature agg + band equi-join (the
    * production shape); the TRUTH side is the unguarded all-shingle
    * self-join — the audit's real cost, Σdf² candidates. Run it on a
    * hash-sample of the corpus ([[graft.ops.Sampling.hashSample]]) at
    * 100 TB; the curve is a per-pair Bernoulli average, so a sample
    * estimates it with the usual 1/√pairs error.
    */
  def lshDetectionCurve(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numPerms: Int = 16, rowsPerBand: Int = 2, buckets: Int = 20,
      precomputedSignatures: Option[DataFrame] = None,
      precomputedTruth: Option[DataFrame] = None): DataFrame = {
    require(numPerms % rowsPerBand == 0, "numPerms must divide into bands")
    // the two staged-artifact hooks (the minhash precomputedPairs
    // pattern): a deployment auditing its banding holds the signature
    // relation and the exact-Jaccard truth bins as index artifacts; only
    // the banding join itself — the thing being audited — runs per call.
    // Artifacts are VALIDATED against the call's parameters: a signature
    // relation built at a different numPerms, or truth bins built with
    // different buckets, would produce a silently wrong curve.
    precomputedSignatures.foreach { sg =>
      val cols = sg.columns.toSet
      require(cols.contains("_id")
          && (0 until numPerms).forall(i => cols.contains(s"_h$i"))
          && !cols.contains(s"_h$numPerms"),
        s"precomputedSignatures must be lshCurveSignatures(numPerms=$numPerms) " +
          s"— expected exactly _h0.._h${numPerms - 1}; got (${sg.columns.mkString(", ")})")
    }
    precomputedTruth.foreach { t =>
      require(t.columns.toSet == Set("id_a", "id_b", "j_bucket"),
        s"precomputedTruth must be the lshCurveTruthBins relation " +
          s"(id_a, id_b, j_bucket); got (${t.columns.mkString(", ")})")
      // lshCurveTruthBins stamps its parameters as column metadata
      // (survives parquet); a hand-built relation without the stamp is
      // accepted on the caller's contract
      val md = t.schema("j_bucket").metadata
      if (md.contains("graft.lshCurve.buckets"))
        require(md.getLong("graft.lshCurve.buckets") == buckets.toLong,
          s"precomputedTruth was binned with buckets=" +
            s"${md.getLong("graft.lshCurve.buckets")}; this call asked for " +
            s"buckets=$buckets")
    }
    val (sig, truth) = (precomputedSignatures, precomputedTruth) match {
      case (Some(s), Some(t)) => (s, t)
      case _ =>
        val ng = Persisted.track(shingles(df, idCol, textCol, n)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val s = precomputedSignatures.getOrElse(
          Persisted.track(lshCurveSignatures(ng, numPerms)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
        val t = precomputedTruth.getOrElse(
          lshCurveTruthBins(ng, buckets))
        (s, t)
    }
    val numBands = numPerms / rowsPerBand
    // band keys are the raw per-band minima tuple (no bucket re-hash —
    // the tuple IS the key, and stays replayable)
    val bands = (0 until numBands).map { b =>
      sig.select(Seq(col("_id"), lit(b).as("band")) ++
        (0 until rowsPerBand).map(r =>
          col(s"_h${b * rowsPerBand + r}").as(s"_k$r")): _*)
    }.reduce(_.unionByName(_))
    val keys = "band" +: (0 until rowsPerBand).map(r => s"_k$r")
    val det = bands.select(keys.map(col) :+ col("_id").as("id_a"): _*)
      .join(bands.select(keys.map(col) :+ col("_id").as("id_b"): _*),
        keys)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    truth
      .join(det.withColumn("_hit", lit(1L)), Seq("id_a", "id_b"), "left")
      .groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_detected"))
      .withColumn("det_permille", expr("(1000 * n_detected) DIV n_pairs"))
  }

  /** [[lshDetectionCurve]]'s signature artifact over a shingle relation
    * `(_id, ngram)`: per-doc per-seed 48-bit minima + shingle count,
    * fused in ONE map-side-combined agg (the minhashScoredCandidates
    * shape) with the md5-replayable hash family.
    */
  def lshCurveSignatures(ng: DataFrame, numPerms: Int = 16): DataFrame = {
    val aggs = (0 until numPerms).map(i =>
      min(graft.sketch.Kmv.kmvHashCol(concat(lit(s"$i|"), col("ngram"))))
        .as(s"_h$i")) :+ count(lit(1)).as("n_shingles")
    ng.groupBy(col("_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The exact-Jaccard floor of [[lshDetectionCurve]]'s truth set,
    * shared with its DuckDB twin. */
  private val CurveFloorNum = 1
  private val CurveFloorDen = 5

  /** [[lshDetectionCurve]]'s truth artifact over a shingle relation:
    * exact-Jaccard pairs at or above the 1/5 floor, integer-binned
    * to `j_bucket = ⌊buckets·J⌋` (the ngramJaccardPairs intersection
    * shape, integers end to end). This is the audit's real cost — the
    * unguarded Σdf² all-shingle self-join — which is exactly why it
    * stages as a build-once artifact; at 100 TB run it on a hash-sample
    * ([[graft.ops.Sampling.hashSample]]).
    */
  def lshCurveTruthBins(ng: DataFrame, buckets: Int = 20): DataFrame = {
    // stamp the bin count as column metadata (parquet-durable) so
    // lshDetectionCurve can require-check a staged artifact's
    // compatibility instead of trusting the caller
    val binMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.lshCurve.buckets", buckets.toLong)
      .build()
    val cnt = ng.groupBy(col("_id")).agg(count(lit(1)).as("n_shingles"))
    // no shuffle_hash: see ngramJaccardPairs — SMJ spills, hash maps don't
    val inter = ng.select(col("_id").as("id_a"), col("ngram"))
      .join(ng.select(col("_id").as("id_b"), col("ngram")), Seq("ngram"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(cnt.select(col("_id").as("id_a"), col("n_shingles").as("n_a")), Seq("id_a"))
      .join(cnt.select(col("_id").as("id_b"), col("n_shingles").as("n_b")), Seq("id_b"))
      .withColumn("_union", col("n_a") + col("n_b") - col("n_inter"))
      .filter(lit(CurveFloorDen.toLong) * col("n_inter")
        >= lit(CurveFloorNum.toLong) * col("_union"))
      .select(col("id_a"), col("id_b"),
        expr(s"($buckets * n_inter) DIV _union").as("j_bucket", binMeta))
  }

  /** DuckDB twin of [[lshDetectionCurve]] over `documents`: identical
    * shingles, identical per-seed md5 minima, identical band-tuple
    * equi-join, identical integer bins. */
  def lshDetectionCurveSql(n: Int = 3, numPerms: Int = 16,
      rowsPerBand: Int = 2, buckets: Int = 20): String = {
    require(n == 3, "the SQL twin unrolls word trigrams")
    val numBands = numPerms / rowsPerBand
    val sigCols = (0 until numPerms).map(i =>
      s"    min(CAST(('0x' || substr(md5('$i|' || ngram), 1, 12)) AS BIGINT)) AS h$i")
      .mkString(",\n")
    val bandArms = (0 until numBands).map { b =>
      val ks = (0 until rowsPerBand).map(r =>
        s"h${b * rowsPerBand + r} AS k$r").mkString(", ")
      s"  SELECT doc_id, $b AS band, $ks FROM sig"
    }.mkString("\n  UNION ALL\n")
    val keyEq = ("a.band = b.band" +: (0 until rowsPerBand).map(r =>
      s"a.k$r = b.k$r")).mkString(" AND ")
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       |ng AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks)),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |$sigCols,
       |    CAST(count(*) AS BIGINT) AS n FROM ng GROUP BY doc_id),
       |bands AS (
       |$bandArms),
       |det AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON $keyEq AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS i
       |  FROM ng a JOIN ng b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |ex AS (
       |  SELECT id_a, id_b, ($buckets * i) // (ca.n + cb.n - i) AS j_bucket
       |  FROM inter
       |  JOIN sig ca ON id_a = ca.doc_id
       |  JOIN sig cb ON id_b = cb.doc_id
       |  WHERE $CurveFloorDen * i >= $CurveFloorNum * (ca.n + cb.n - i))
       |SELECT j_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN d.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_detected,
       |  (1000 * CAST(sum(CASE WHEN d.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT))
       |    // CAST(count(*) AS BIGINT) AS det_permille
       |FROM ex LEFT JOIN det d USING (id_a, id_b)
       |GROUP BY j_bucket""".stripMargin
  }

  // ---------------- duplicate groups (connected components) ----------------

  private def undirectedEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()

  /** One round of min-label propagation, computed as ONE aggregation:
    * the neighbor labels (dst's label keyed by src) union the node's own
    * row, then a single min-groupBy — two shuffles per round instead of
    * the three a join + groupBy + left-join-back shape costs. The same
    * aggregation carries each node's PREVIOUS label as `_old`: self rows
    * tag their label
    * (`_self`), neighbor rows carry null, `max(_self)` recovers the one
    * non-null per group. Costs 8 bytes per shuffled row and nothing
    * else; the convergence probe then runs as a narrow filter over the
    * checkpointed iteration state instead of a join against the prior
    * labels — one fewer shuffle join per round. (An accumulator bumped
    * inside the checkpoint materialization was considered and rejected:
    * it needs a row-level closure in the hot path, which breaks
    * whole-stage codegen for the labels relation, to save a single
    * narrow scan-of-local-blocks job.)
    */
  private def propagateOnceWithOld(labels: DataFrame,
      edges: DataFrame): DataFrame = {
    val nbr = edges
      .join(labels, edges("dst") === labels("_id"))
      .select(col("src").as("_id"), col("group_id"),
        lit(null).cast("long").as("_self"))
    nbr.unionByName(labels.select(col("_id"), col("group_id"),
        col("group_id").as("_self")))
      .groupBy(col("_id"))
      .agg(min(col("group_id")).as("group_id"), max(col("_self")).as("_old"))
  }

  /** Round cap of [[duplicateGroupsConverged]]: with pointer jumping a
    * component of diameter up to ~2^24 converges within it. */
  private val MaxLabelRounds = 24

  /** Convergence-checked connected components for graphs of unknown
    * diameter. Each round runs (a) one-hop min-label propagation and (b) a
    * path-halving pointer jump — every node adopts the CURRENT label of
    * its label. Propagation alone moves the component minimum one hop per
    * round (linear in the diameter — a 10M-link duplicate chain would need
    * 10M rounds); the jump halves label-path depth each round, making
    * convergence LOGARITHMIC in the diameter, so [[MaxLabelRounds]] = 24
    * covers any component a physical corpus can produce (diameter up to
    * ~2^24 after the combined step).
    *
    * Convergence is a fixpoint check: a changed-row count observed as a
    * CollectMetrics accumulator on the per-round checkpoint job itself
    * (no extra action, no data collected). At the fixpoint every node's
    * label equals its component
    * minimum (labels only decrease, the minimum is stable, and a fixpoint
    * of one-hop min-propagation forces equal labels across each
    * component). If the rounds are exhausted before the fixpoint this
    * THROWS rather than silently returning a partial labeling — wrong
    * `group_id`s at scale are a data-corruption bug, not a tuning knob.
    */
  private def duplicateGroupsConverged(p: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // `p` arrives persisted AND counted ([[duplicateGroupsAuto]]): the
    // pairs may be an expensive upstream plan (e.g. the full MinHash
    // pipeline), and undirectedEdges references them twice — over a lazy
    // persist the two union branches would RACE to compute it twice
    val edges = Persisted.track(undirectedEdges(p).persist(lvl))
    // iteration state is localCheckpoint'ed (eager), not persist'ed: each
    // round references the previous labels three times, so without lineage
    // TRUNCATION the logical plan grows 3^k — by round ~10 the plan tree
    // itself (not the data) overwhelms the driver. Checkpointing cuts the
    // plan at materialized state, the standard shape for iterative Spark.
    var labels = edges.select(col("src").as("_id")).distinct()
      .withColumn("group_id", col("_id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < MaxLabelRounds) {
      // _old (the pre-round label) rides the propagation agg, so the
      // fixpoint check below needs no join against the previous labels
      val propagated = propagateOnceWithOld(labels, edges).localCheckpoint(true)
      // path-halving: group_id := label(group_id). Labels are always node
      // ids of the same component, so the self-join always matches (left +
      // coalesce only guards the invariant).
      // The fixpoint probe RIDES the checkpoint job as an observed metric
      // (CollectMetrics accumulator — verified to fire on the eager
      // localCheckpoint action), so convergence costs zero extra jobs per
      // round instead of a second filter+count scan of the labels.
      val obs = org.apache.spark.sql.Observation(s"graft_cc_round_$iter")
      val jumped = propagated
        .join(propagated.select(col("_id").as("_lid"), col("group_id").as("_lgid")),
          col("group_id") === col("_lid"), "left")
        .select(col("_id"),
          coalesce(col("_lgid"), col("group_id")).as("group_id"), col("_old"))
        .observe(obs,
          sum(when(col("group_id") =!= col("_old"), 1L).otherwise(0L)).as("changed"))
        .localCheckpoint(true)
      val changed = obs.get("changed") match {
        case null => 0L // empty label relation: sum over zero rows is null
        case v => v.asInstanceOf[Number].longValue()
      }
      propagated.unpersist(false) // folded into jumped's checkpoint
      labels.unpersist(false) // superseded iteration state
      labels = jumped
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      labels.unpersist(false)
      throw new IllegalStateException(
        s"duplicateGroupsConverged: no fixpoint after $MaxLabelRounds rounds " +
          "(component diameter beyond ~2^24?) — the pair set is not a " +
          "duplicate graph a physical corpus produces")
    }
    Persisted.track(labels.select(col("_id"), col("group_id")))
  }

  /** Adaptive connected components: the near-dup pair set is orders of
    * magnitude smaller than the corpus (it is the duplicates, not the
    * data), so when its materialized count fits comfortably on the driver
    * we solve components EXACTLY with an in-memory union-find and ship the
    * result back as a broadcastable relation — no iteration count to
    * tune, no per-iteration shuffle latency. Pair sets above the threshold
    * fall back to [[duplicateGroupsConverged]] — convergence-checked, NOT
    * a fixed iteration count: huge pair sets are exactly where long
    * duplicate chains (large component diameter) appear, so a fixed
    * unroll would silently mislabel at scale. `pairs` carries the ids as
    * `(id_a, id_b)`; both paths return (_id, group_id = component minimum).
    */
  def duplicateGroupsAuto(pairs: DataFrame,
      maxDriverPairs: Long = 2L * 1000 * 1000): DataFrame = {
    val p = Persisted.track(pairs
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    if (p.count() <= maxDriverPairs) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // collect as Dataset[(Long, Long)] — Tuple2 is @specialized on Long,
      // so this lands as unboxed pairs, not driver-heavy boxed Rows
      val edges = p.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .as[(Long, Long)].collect()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x // path compression
        while (parent.getOrElse(cur, cur) != root) {
          val next = parent(cur); parent(cur) = root; cur = next
        }
        root
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by MIN root: group id = component minimum
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      // primitive-keyed node set (no boxed Seq.distinct over 2x the edges)
      val nodeSet = scala.collection.mutable.LongMap.empty[Unit]
      edges.foreach { case (a, b) => nodeSet(a) = (); nodeSet(b) = () }
      nodeSet.keysIterator.map(x => (x, find(x))).toSeq.toDF("_id", "group_id")
    } else duplicateGroupsConverged(p)
  }

  /** End-to-end near-dup removal: MinHash near-dup pairs -> connected
    * components -> keep each group's minimum id. Returns the surviving
    * rows of `df`.
    *
    * `precomputedPairs` short-circuits the pair generation with an
    * already-materialized (id_a, id_b, ...) relation — the incremental
    * deployment persists its pair set once and reuses it across the
    * dedup, grouping, and survivorship queries instead of re-shingling
    * the corpus per consumer.
    */
  def nearDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.8,
      maxDf: Option[Int] = None,
      maxDfFraction: Option[Double] = Some(DefaultMaxDfFraction),
      precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val pairs = precomputedPairs.getOrElse(
      minhashNearDuplicates(df, idCol, textCol, n, tau,
        maxDf = maxDf, maxDfFraction = maxDfFraction))
    val groups = duplicateGroupsAuto(pairs)
    val losers = groups.filter(col("_id") =!= col("group_id"))
      .select(col("_id").as("_graft_loser"))
    // no broadcast hint: the loser set is the duplicate population, which
    // at scale can be a large fraction of the corpus — let AQE pick
    df.join(losers, df(idCol) === col("_graft_loser"), "left_anti")
  }

  /** [[nearDedup]] with a SURVIVORSHIP POLICY: within each near-dup
    * component keep the single best row under `keepBy` (e.g. longest
    * text, highest quality score — what production dedup actually wants;
    * min-id is an arbitrary survivor), ties broken by lowest id.
    * Documents in no component survive untouched. One extra shuffle vs
    * [[nearDedup]] (the per-component ranking window keyed on the group
    * id); everything else shares the pairs → components machinery.
    */
  def nearDedupBy(df: DataFrame, idCol: String, textCol: String,
      keepBy: Seq[Column],
      n: Int = 3, tau: Double = 0.8,
      maxDf: Option[Int] = None,
      maxDfFraction: Option[Double] = Some(DefaultMaxDfFraction),
      precomputedPairs: Option[DataFrame] = None): DataFrame = {
    val pairs = precomputedPairs.getOrElse(
      minhashNearDuplicates(df, idCol, textCol, n, tau,
        maxDf = maxDf, maxDfFraction = maxDfFraction))
    val groups = duplicateGroupsAuto(pairs)
    // singletons never appear in pairs: their group is their own id
    val assigned = df.join(groups, df(idCol) === groups("_id"), "left")
      .withColumn("_graft_gid", coalesce(col("group_id"), col(idCol)))
    val w = Window.partitionBy(col("_graft_gid"))
      .orderBy(keepBy :+ col(idCol).asc: _*)
    assigned.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1)
      .drop("_id", "group_id", "_graft_gid", "_graft_rn")
  }

  /** The persistable corpus-side index for [[incrementalDedup]]: every
    * relation is a pure function of the corpus — a deployment builds it
    * ONCE (or appends each accepted batch's rows), persists all three to
    * the cluster store, and each arriving batch pays only O(batch) probe
    * work against them. `hashes` = distinct md5 content hashes
    * (`_chash`); `buckets` = LSH band buckets (`_id, band, bucket`);
    * `shingles` = distinct (`_id, ngram`) pairs. Build with
    * [[buildCorpusDedupIndex]] using the SAME (n, numHashes, rowsPerBand)
    * the probe will use — mismatched parameters silently change recall
    * (caller's contract, like `precomputedPairs` on [[nearDedup]]).
    */
  final case class CorpusDedupIndex(hashes: DataFrame, buckets: DataFrame,
      shingles: DataFrame)

  /** Builds [[CorpusDedupIndex]] — the relations [[incrementalDedup]]
    * derives from the corpus when no index is supplied, exposed so
    * deployments can stage them (see `SparkEntry.incrementalIndexDims`
    * for the staged shape the gates exercise).
    */
  def buildCorpusDedupIndex(corpus: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 32,
      rowsPerBand: Int = 2,
      precomputedShingles: Option[DataFrame] = None): CorpusDedupIndex = {
    precomputedShingles.foreach(validateShingleArtifact(_, n))
    CorpusDedupIndex(
      hashes = corpus
        .select(md5(col(textCol).cast("binary")).as("_chash")).distinct(),
      buckets = bandBuckets(
        minhashSignatures(corpus, idCol, textCol, n, numHashes,
          precomputedShingles = precomputedShingles),
        numHashes, rowsPerBand),
      shingles = precomputedShingles
        .getOrElse(shingles(corpus, idCol, textCol, n)))
  }

  /** Incremental (batch-vs-corpus) dedup — the production regime for a
    * continuously-ingesting pipeline: clean the arriving `batch` against
    * the EXISTING `corpus` without re-deduplicating the corpus. A batch
    * row is dropped iff
    *   (1) exact: its md5 content hash exists in the corpus, or
    *   (2) near: it shares an LSH band bucket with a corpus doc AND the
    *       exact n-gram Jaccard of that (batch, corpus) pair is >= tau.
    * Survivors are returned unchanged (batch-internal duplicates are out
    * of contract — compose [[nearDedup]] over the batch first).
    *
    * Scale shape: every corpus-side relation here (content-hash set, band
    * buckets, shingle lists + counts) is a pure function of the corpus
    * that an incremental deployment PERSISTS once and appends each
    * accepted batch to — so per-batch cost is O(batch) hash/bucket probe
    * work against those indexes (equi-joins all), never O(corpus) rescans
    * and never any self-join. The corpus SHINGLE side is additionally
    * candidate-pruned (guarded broadcast semi-join, r16) so the Jaccard
    * verification shuffles only candidate docs' shingles — without it
    * the SMJ sorted the whole corpus shingle relation per batch, the
    * one O(corpus)-shuffle step hiding in the otherwise batch-sized
    * plan. Jaccard is verified over the UNGUARDED
    * shingle universe (the [[minhashNearDuplicates]] truth-set setting).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, n: Int = 3, tau: Double = 0.8,
      numHashes: Int = 32, rowsPerBand: Int = 2,
      precomputedIndex: Option[CorpusDedupIndex] = None): DataFrame = {
    // (1) exact content probe: anti-join against the distinct corpus hash set
    val corpusHashes = precomputedIndex.map(_.hashes).getOrElse(corpus
      .select(md5(col(textCol).cast("binary")).as("_chash")).distinct())
    val exactClean = Persisted.track(batch
      .withColumn("_chash", md5(col(textCol).cast("binary")))
      .join(corpusHashes, Seq("_chash"), "left_anti")
      .drop("_chash")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // batch shingles are needed TWICE (minhash signatures + the Jaccard
    // verification) — compute and persist them once and feed the same
    // relation to both consumers (r17; previously the signature path
    // re-ran the whole tokenize+shingle explode over the batch)
    val bNg = Persisted.track(shingles(exactClean, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // (2) near probe: batch band buckets against the corpus bucket index
    val bBuckets = bandBuckets(
      minhashSignatures(exactClean, idCol, textCol, n, numHashes,
        precomputedShingles = Some(bNg)),
      numHashes, rowsPerBand)
    val cBuckets = precomputedIndex.map(_.buckets).getOrElse(bandBuckets(
      minhashSignatures(corpus, idCol, textCol, n, numHashes),
      numHashes, rowsPerBand))
    // cand feeds the Jaccard join AND the corpus-side pruning below —
    // persist so the bucket join runs once, not per consumer
    val cand = Persisted.track(
      bBuckets.as("b").join(cBuckets.as("c"), Seq("band", "bucket"))
        .select(col("b._id").as("id_b"), col("c._id").as("id_c"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // exact cross-side Jaccard for the candidates: shingle equi-joins keyed
    // on (id, ngram) — per pair we stream |shingles(batch doc)| probe rows
    // (bNg persisted above, shared with the signature path)
    val cNgAll = precomputedIndex.map(_.shingles).getOrElse(
      Persisted.track(shingles(corpus, idCol, textCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    // CANDIDATE-PRUNE the corpus shingle side before the count+join:
    // only corpus docs sharing a bucket with the batch can be verified,
    // yet the unpruned plan SORT-SHUFFLES the ENTIRE corpus shingle
    // relation through the SMJ — measured 9.4 GB shuffle / 125 s of the
    // 150 s probe at 10.4M docs for a 104k batch (r16 `indexrefresh`
    // probe, NOTES). A broadcast semi-join on the candidate id set makes
    // per-batch probe work candidate-proportional (the corpus side
    // still pays one scan, never a shuffle). Broadcast is guarded: the
    // id set is counted first (cand is persisted — cheap second pass)
    // and pruning is skipped above `maxBroadcastCandIds` (hot-bucket
    // blowup protection; the unpruned plan remains correct, just
    // slower). Per-doc counts stay complete under pruning because the
    // semi-join keeps ALL of a kept doc's shingles.
    val maxBroadcastCandIds = 2000000L
    val candIds = cand.select(col("id_c").as("_id")).distinct()
    val cNg =
      if (candIds.count() <= maxBroadcastCandIds)
        cNgAll.join(broadcast(candIds), Seq("_id"), "left_semi")
      else cNgAll
    val bCnt = bNg.groupBy(col("_id")).agg(count(lit(1)).as("n_b"))
    val cCnt = cNg.groupBy(col("_id")).agg(count(lit(1)).as("n_c"))
    val drops = cand
      .join(bNg.select(col("_id").as("id_b"), col("ngram")), Seq("id_b"))
      .join(cNg.select(col("_id").as("id_c"), col("ngram")), Seq("id_c", "ngram"))
      .groupBy(col("id_b"), col("id_c"))
      .agg(count(lit(1)).as("n_inter"))
      .join(bCnt.select(col("_id").as("id_b"), col("n_b")), Seq("id_b"))
      .join(cCnt.select(col("_id").as("id_c"), col("n_c")), Seq("id_c"))
      .filter(col("n_inter").cast("double") /
        (col("n_b") + col("n_c") - col("n_inter")) >= tau)
      .select(col("id_b").as("_graft_drop"))
      .distinct()
    exactClean.join(drops, exactClean(idCol) === col("_graft_drop"), "left_anti")
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash over distinct tokens: per bit, the sign of the sum of
    * +/-1 contributions from each token's xxhash64 bit. One codegen'd
    * scan-speed expression per row ([[SimHashExpr]]), no token shuffle.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // the whole-doc hash expression rides the scan stage — floor its
    // parallelism on narrow inputs (see ops.Parallelism)
    graft.ops.Parallelism.spreadIfNarrow(df)
      .select(col(idCol).as("_id"),
        SimHashExpr.simhashCol(col(textCol)).as("simhash"))

  /** SimHash near-dup candidates: pairs within `maxHamming` bits. Pair
    * generation via block banding (split the 64-bit hash into
    * `maxHamming + 1` equal blocks; pigeonhole: a pair within `maxHamming`
    * differing bits has at least one block with zero differences, i.e.
    * shares at least one exact block) — an equi-join on (block index,
    * block value), no all-pairs.
    *
    * Block width is derived from `maxHamming`, as WIDE as the pigeonhole
    * argument allows: for the default `maxHamming = 3` that is 4 x 16-bit
    * blocks, giving 2^16 distinct values per block — expected bucket size
    * n/65536, 256x smaller than the 8-bit-block alternative, which at
    * corpus scale is the difference between bounded buckets and
    * quadratic-within-bucket blowup.
    */
  /** [[simhashPairs]] with a SECOND-KEY SPLIT of oversized buckets — the
    * 100 TB guard for the n²/65536 candidate growth (TUNING: at n=10M the
    * flat banding yields ~4B candidates). Buckets at or under
    * `bucketLimit` pair exactly as [[simhashPairs]]; a bucket OVER the
    * limit is re-split by a secondary key before pairing.
    *
    * The secondary key applies the pigeonhole argument RECURSIVELY
    * instead of hashing a different field: members of bucket (i, v)
    * already agree exactly on block i, so a true pair (≤ `maxHamming`
    * differing bits total) has all its differing bits in the REMAINING
    * 64 − width bits — re-splitting those into `maxHamming + 1`
    * sub-blocks guarantees at least one shared sub-block. Unlike a
    * second simhash over another field (which bounds nothing for pairs
    * whose secondary hamming distance exceeds the band tolerance), this
    * split is LOSSLESS: the pair set is provably identical to the flat
    * banding, which the driver oracle checks. Expected quadratic unit
    * drops from m² per oversized bucket to ~m²/2^(subWidth) · (h+1) —
    * for the default 3-bit tolerance, 12-bit sub-blocks cut a bucket's
    * candidates ~1000×.
    */
  def simhashPairsSplit(hashes: DataFrame, maxHamming: Int = 3,
      bucketLimit: Long = 4096): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val numBlocks = maxHamming + 1
    val width = 64 / numBlocks
    val subWidth = (64 - width) / numBlocks
    if (subWidth < 1) return simhashPairs(hashes, maxHamming)
    def bounds(i: Int): (Int, Int) =
      (i * width, if (i == numBlocks - 1) 64 else (i + 1) * width)
    val blocks = (0 until numBlocks).map { i =>
      val (lo, hi) = bounds(i)
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      struct(lit(i).as("blk"),
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask)).as("blkval"))
    }
    val exploded = hashes.select(col("_id"), col("simhash"),
      explode(array(blocks: _*)).as("bb"))
      .select(col("_id"), col("simhash"), col("bb.blk").as("blk"),
        col("bb.blkval").as("blkval"))
    // bucket occupancy: map-side-combined count per (blk, blkval) — at
    // most 4 x 65536 groups regardless of n — then ONLY the oversized
    // keys (≤ numBlocks·n/bucketLimit of them by definition) are kept and
    // broadcast, so routing rows to the small/big path is a broadcast
    // semi/anti join that never shuffles the exploded relation
    val bigKeys = broadcast(
      exploded.groupBy(col("blk"), col("blkval"))
        .agg(count(lit(1)).as("_bsz"))
        .filter(col("_bsz") > bucketLimit)
        .select(col("blk"), col("blkval")))
    val small = exploded.join(bigKeys, Seq("blk", "blkval"), "left_anti")
    val smallPairs = small.as("x").join(small.as("y"), Seq("blk", "blkval"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .filter(col("id_a") < col("id_b"))
    // the bits OUTSIDE block blk, packed contiguously: low bits [0, lo)
    // stay, high bits [hi, 64) shift down next to them. shiftrightunsigned
    // (not shiftright): Java's >> sign-extends and >>/>>> by 64 are no-ops,
    // so hi == 64 must yield an explicit 0
    val remCol = (0 until numBlocks).map { i =>
      val (lo, hi) = bounds(i)
      val lowBits = if (lo == 0) lit(0L)
        else col("simhash").bitwiseAND(lit((1L << lo) - 1))
      val highBits = if (hi == 64) lit(0L)
        else shiftleft(shiftrightunsigned(col("simhash"), hi), lo)
      (i, lowBits.bitwiseOR(highBits))
    }.foldLeft(lit(0L)) { case (acc, (i, e)) =>
      when(col("blk") === i, e).otherwise(acc)
    }
    val subBlocks = (0 until numBlocks).map { j =>
      val lo = j * subWidth
      val hi = if (j == numBlocks - 1) 64 else (j + 1) * subWidth
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      struct(lit(j).as("sub"),
        shiftrightunsigned(col("_rem"), lo).bitwiseAND(lit(mask)).as("subval"))
    }
    val bigExploded = exploded.join(bigKeys, Seq("blk", "blkval"), "left_semi")
      .withColumn("_rem", remCol)
      .select(col("_id"), col("simhash"), col("blk"), col("blkval"),
        explode(array(subBlocks: _*)).as("sb"))
      .select(col("_id"), col("simhash"), col("blk"), col("blkval"),
        col("sb.sub").as("sub"), col("sb.subval").as("subval"))
    val bigPairs = bigExploded.as("x")
      .join(bigExploded.as("y"), Seq("blk", "blkval", "sub", "subval"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .filter(col("id_a") < col("id_b"))
    smallPairs.unionByName(bigPairs)
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  def simhashPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val numBlocks = maxHamming + 1
    // equal split; when 64 % numBlocks != 0 the last block takes the
    // remainder (pigeonhole only needs >= numBlocks blocks in total)
    val width = 64 / numBlocks
    val blocks = (0 until numBlocks).map { i =>
      val hi = if (i == numBlocks - 1) 64 else (i + 1) * width
      val mask = if (hi - i * width == 64) -1L else (1L << (hi - i * width)) - 1L
      struct(lit(i).as("blk"),
        shiftright(col("simhash"), i * width).bitwiseAND(mask).as("blkval"))
    }
    val exploded = hashes.select(col("_id"), col("simhash"),
      explode(array(blocks: _*)).as("bb"))
      .select(col("_id"), col("simhash"), col("bb.blk").as("blk"), col("bb.blkval").as("blkval"))
    exploded.as("x").join(exploded.as("y"), Seq("blk", "blkval"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---------------- exact duplicated-span removal ----------------

  /** SUBSTRING-granularity exact dedup (the ExactSubstr modality of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better"): any `k`-token span whose text occurs more than once in the
    * corpus — across documents OR repeated within one — is removed from
    * every occurrence except the globally first (ordered by (id, pos)).
    * Overlapping duplicated spans inside a document merge into maximal
    * removal intervals, so a long shared passage disappears as one block
    * even though it was detected k tokens at a time. Documents shorter
    * than `k` tokens pass through untouched; fully-duplicated documents
    * survive as empty strings (never dropped — the caller decides).
    *
    * Output: (idCol, n_tokens, n_removed, clean_text) with the cleaned
    * document rebuilt from its surviving tokens in original order.
    *
    * Scale shape — strictly LINEAR in corpus token count, unlike every
    * pairwise dedup in this file: (1) one content-keyed aggregation on
    * the span hash (count + min-occurrence are both map-side partial, so
    * the exchange carries one row per distinct span per map partition);
    * (2) one equi-join back on the same hash key that fans out exactly
    * one row per duplicated occurrence — never occurrence², because the
    * keep-first policy needs only the argmin, not the pairs; (3) one
    * doc-keyed window to merge intervals (per-document row counts are
    * bounded by doc length). A boilerplate span shared by a million
    * documents costs a million span rows — linear — where the Jaccard /
    * minhash self-joins would pay a trillion. At 100 TB the md5 span key
    * (32 hex chars) is the dominant shuffle payload; `spanKey =
    * "xxhash64"` swaps it for an 8-byte long and cuts the exchange
    * (TUNING, `k` (span tokens) row) at the cost
    * of the replayable oracle (DuckDB has no xxhash64) and a 2^-64
    * collision risk per span pair — the plan is otherwise IDENTICAL,
    * which is why the md5 form stays the gated default: correctness is
    * proven on the same shape the fast key runs.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, spanKey: String = "md5"): DataFrame = {
    require(k >= 2, s"span length must be >= 2 tokens, got $k")
    require(spanKey == "md5" || spanKey == "xxhash64",
      s"spanKey must be md5 or xxhash64, got $spanKey")
    // base feeds occurrence generation AND the final rebuild join
    val base = Persisted.track(df.select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("_graft_toks"))
      .withColumn("_graft_n", size(col("_graft_toks")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // positional k-gram occurrences: (id, pos, md5(span text)); the span
    // text itself never leaves the projection
    def spanHash(spanText: Column): Column = spanKey match {
      case "md5" => md5(spanText.cast("binary"))
      case _     => xxhash64(spanText)
    }
    val occ = Persisted.track(base.filter(col("_graft_n") >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), (col("_graft_n") - k).cast("int")),
        i => spanHash(array_join(slice(col("_graft_toks"), i + 1, lit(k)), " ")))))
      .withColumnRenamed("pos", "_graft_pos")
      .withColumnRenamed("col", "_graft_g")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // duplicated spans with their globally-first occurrence: count and
    // argmin in ONE map-side-combinable aggregation (struct min orders
    // lexicographically on (id, pos) — exactly the keep-first order)
    val dups = occ.groupBy(col("_graft_g"))
      .agg(count(lit(1)).as("_graft_cnt"),
        min(struct(col(idCol), col("_graft_pos"))).as("_graft_first"))
      .filter(col("_graft_cnt") > 1)
      .select(col("_graft_g"),
        col("_graft_first").getField(idCol).as("_graft_fid"),
        col("_graft_first").getField("_graft_pos").as("_graft_fpos"))
    // every non-first occurrence of a duplicated span is a removal interval
    val spans = occ.join(dups, "_graft_g")
      .filter(!(col(idCol) === col("_graft_fid") &&
        col("_graft_pos") === col("_graft_fpos")))
      .select(col(idCol), col("_graft_pos").cast("long").as("_graft_s"),
        (col("_graft_pos") + k).cast("long").as("_graft_e"))
    // gaps-and-islands merge: both windows share one (id)-keyed sort
    val w = Window.partitionBy(col(idCol)).orderBy(col("_graft_s"), col("_graft_e"))
    val merged = spans
      .withColumn("_graft_pm",
        max(col("_graft_e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_graft_isl", sum(
        when(col("_graft_pm").isNull || col("_graft_s") > col("_graft_pm"), 1L)
          .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_graft_isl"))
      .agg(min(col("_graft_s")).as("_graft_s"), max(col("_graft_e")).as("_graft_e"))
    val perDoc = merged.groupBy(col(idCol))
      .agg(collect_list(struct(col("_graft_s"), col("_graft_e"))).as("_graft_spans"),
        sum(col("_graft_e") - col("_graft_s")).as("_graft_removed"))
    base.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("_graft_n").as("n_tokens"),
        coalesce(col("_graft_removed"), lit(0L)).as("n_removed"),
        when(col("_graft_spans").isNull, array_join(col("_graft_toks"), " "))
          .otherwise(array_join(filter(col("_graft_toks"), (_, i) =>
            !exists(col("_graft_spans"), sp =>
              i.cast("long") >= sp.getField("_graft_s") &&
                i.cast("long") < sp.getField("_graft_e"))), " "))
          .as("clean_text"))
  }

  /** DuckDB twin of [[spanDedup]] — same tokenization, same md5 span key,
    * same keep-first rank, same island merge, tokens rebuilt by position.
    * Keep formula-identical to the Column version.
    */
  def spanDedupSql(table: String, idCol: String, textCol: String,
      k: Int = 8): String = {
    s"""WITH _t AS (
       |  SELECT $idCol, string_split(trim($textCol), ' ') AS tk,
       |         CAST(len(string_split(trim($textCol), ' ')) AS BIGINT) AS n
       |  FROM $table),
       |_occ0 AS (SELECT $idCol, tk, unnest(range(n - ${k - 1})) AS pos
       |          FROM _t WHERE n >= $k),
       |_occ AS (SELECT $idCol, CAST(pos AS BIGINT) AS pos,
       |    md5(array_to_string(list_slice(tk, CAST(pos + 1 AS BIGINT),
       |      CAST(pos + $k AS BIGINT)), ' ')) AS g
       |  FROM _occ0),
       |_ranked AS (
       |  SELECT $idCol, pos,
       |    count(*) OVER (PARTITION BY g) AS c,
       |    row_number() OVER (PARTITION BY g ORDER BY $idCol, pos) AS rn
       |  FROM _occ),
       |_spans AS (SELECT $idCol, pos AS s, pos + $k AS e
       |           FROM _ranked WHERE c > 1 AND rn > 1),
       |_isl AS (
       |  SELECT $idCol, s, e,
       |    SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY $idCol ORDER BY s, e
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM (SELECT $idCol, s, e,
       |          max(e) OVER (PARTITION BY $idCol ORDER BY s, e
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
       |        FROM _spans) q),
       |_merged AS (SELECT $idCol, isl, min(s) AS s, max(e) AS e
       |            FROM _isl GROUP BY $idCol, isl),
       |_tok AS (SELECT $idCol, unnest(tk) AS tok, unnest(range(n)) AS pos FROM _t),
       |_kept AS (
       |  SELECT t.$idCol, t.tok, t.pos FROM _tok t
       |  WHERE NOT EXISTS (SELECT 1 FROM _merged m
       |                    WHERE m.$idCol = t.$idCol AND t.pos >= m.s AND t.pos < m.e)),
       |_clean AS (SELECT $idCol, string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |           FROM _kept GROUP BY $idCol),
       |_rm AS (SELECT $idCol, SUM(e - s) AS n_removed FROM _merged GROUP BY $idCol)
       |SELECT t.$idCol, t.n AS n_tokens,
       |  CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
       |  coalesce(c.clean_text, '') AS clean_text
       |FROM _t t LEFT JOIN _rm r USING ($idCol) LEFT JOIN _clean c USING ($idCol)""".stripMargin
  }
}
