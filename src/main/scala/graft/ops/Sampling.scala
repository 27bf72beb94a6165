package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reproducible sampling for training-data pipelines.
  *
  * `df.sample()` draws from a per-partition RNG — the result changes with
  * partitioning, retries, and engine, which is useless for a dataset
  * recipe that must be re-runnable and auditable. Content-hash sampling
  * fixes that: a row is in the sample iff a hash of its KEY falls in the
  * accept range, so membership is a pure function of the data. Any
  * engine (and the DuckDB oracle) reproduces the exact same subset, the
  * filter pipelines into the scan (no shuffle), and the rate holds per
  * partition at any scale.
  */
object Sampling {

  /** Accept iff the first hex nibble of md5(key) is < `sixteenths`
    * (rate = sixteenths/16). md5 of the stringified key is deliberately
    * the hash: every engine agrees on it byte-for-byte.
    */
  def hashSample(df: DataFrame, keyCol: String, sixteenths: Int): DataFrame = {
    require(sixteenths >= 1 && sixteenths <= 16)
    val accepted = (0 until sixteenths).map(i => i.toHexString)
    df.filter(substring(md5(col(keyCol).cast("string").cast("binary")), 1, 1)
      .isin(accepted: _*))
  }

  /** Deterministic stratified sample: the `quota` hash-smallest rows per
    * stratum, ordered by (md5(key), key) — a total order, so the selected
    * set is unique and stable. One shuffle on the stratum column; at
    * scale, quotas per stratum bound the reducer-side state.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, keyCol: String,
      quota: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(keyCol).cast("string").cast("binary")), col(keyCol))
    df.withColumn("_graft_sample_rn", row_number().over(w))
      .filter(col("_graft_sample_rn") <= quota)
      .drop("_graft_sample_rn")
  }

  /** Content-hash sort key: a reproducible "random" total order. */
  def shuffleKey(key: Column): Column = md5(key.cast("string").cast("binary"))

  /** Hex characters of [[shuffleKey]] that name a cumsum bucket in the
    * position/budget/packing constructions ([[withGlobalPosition]],
    * [[tokenBudgetSelect]], `Chunking.packSequences`/`lengthBatches`):
    * 16^2 = 256 buckets, so the single-partition offsets window stays
    * a few hundred rows while each bucket is 1/256 of the data.
    */
  private[graft] val PrefixChars = 2

  /** First 8 hex chars of floor(f·2^32), the comparison literal for
    * [[weightedSample]]: fixed-width lowercase hex compares exactly like
    * the 32-bit integer it encodes, in every engine, with no hex-to-int
    * builtin needed.
    */
  def weightThresholdHex(f: Double): String =
    f"${math.floor(f * 4294967296.0).toLong}%08x"

  /** Corpus mixing: deterministic per-group keep fractions (e.g. "50% of
    * web, 10% of low-quality, all of code") — the data-recipe step of a
    * training pipeline. A row is kept iff the first 8 hex chars of
    * md5(key) fall below its group's threshold, so (a) membership is a
    * pure function of the data (auditable, re-runnable, engine-agnostic),
    * (b) the sample for weight f is a SUBSET of the sample for f' > f —
    * recipes can be tightened without resampling everything, and (c) the
    * filter is a scan-level predicate: no shuffle, no state, any scale.
    */
  def weightedSample(df: DataFrame, keyCol: String, groupCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0): DataFrame = {
    def keep(f: Double): Column =
      if (f >= 1.0) lit(true)
      else if (f <= 0.0) lit(false)
      else substring(shuffleKey(col(keyCol)), 1, 8) < lit(weightThresholdHex(f))
    df.filter(weights.toSeq.sortBy(_._1).foldRight(keep(defaultWeight)) {
      case ((g, f), els) => when(col(groupCol) === g, keep(f)).otherwise(els)
    })
  }

  /** DuckDB twin of [[weightedSample]]'s predicate (same thresholds, same
    * hex-string comparison) for a WHERE clause — keep formula-identical.
    */
  def weightedSampleSql(keyCol: String, groupCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0): String = {
    def keep(f: Double): String =
      if (f >= 1.0) "TRUE"
      else if (f <= 0.0) "FALSE"
      else s"substr(md5(CAST($keyCol AS VARCHAR)), 1, 8) < '${weightThresholdHex(f)}'"
    val cases = weights.toSeq.sortBy(_._1)
      .map { case (g, f) => s"WHEN $groupCol = '$g' THEN ${keep(f)}" }
    s"CASE ${cases.mkString(" ")} ELSE ${keep(defaultWeight)} END"
  }

  /** Fractional epoch UPSAMPLING — the complement of [[weightedSample]]'s
    * downsampling: each domain repeats by its epoch factor `e_d` (e.g.
    * Wikipedia 3.5 epochs, web 1.0 — the Pile/LLaMA-style pretraining
    * recipe). A row emits `floor(e_d)` copies plus one extra iff its md5
    * hash falls below `frac(e_d)` — [[weightedSample]]'s membership test
    * exactly, so the extra-copy population for fraction f nests inside
    * that of f' > f (recipes tighten without re-drawing). Output rows
    * carry `epoch_idx` (0-based copy index) so downstream shuffles can
    * still dedup or stratify by physical copy.
    *
    * Scale shape: pure scan-level row generation (an explode of a
    * per-row integer sequence) — no shuffle, no state; the upsampled
    * stream feeds whatever comes next, which is the recipe's point.
    * NOTE the `> 0` filter runs BEFORE the explode: Spark's
    * `sequence(0, -1)` is a DESCENDING 2-element sequence, not empty
    * (the BPE ANSI trap) — zero-copy rows must never reach it.
    */
  def epochRepeat(df: DataFrame, keyCol: String, groupCol: String,
      epochs: Map[String, Double], defaultEpochs: Double = 1.0): DataFrame = {
    require((epochs.values ++ Seq(defaultEpochs)).forall(e => e >= 0.0 && e <= 100.0),
      "epoch factors in [0, 100]")
    def copies(e: Double): Column = {
      val base = math.floor(e).toLong
      val frac = e - base
      if (frac == 0.0) lit(base)
      else lit(base) + when(substring(shuffleKey(col(keyCol)), 1, 8) <
        lit(weightThresholdHex(frac)), 1L).otherwise(0L)
    }
    val n = epochs.toSeq.sortBy(_._1).foldRight(copies(defaultEpochs)) {
      case ((g, e), els) => when(col(groupCol) === g, copies(e)).otherwise(els)
    }
    df.withColumn("_graft_copies", n)
      .filter(col("_graft_copies") > 0)
      .withColumn("epoch_idx", explode(expr("sequence(0, _graft_copies - 1)")))
      .drop("_graft_copies")
  }

  /** DuckDB twin of [[epochRepeat]] over `table` — same thresholds, same
    * hex compare, `unnest(range(0, n))` for the copy expansion (empty at
    * n <= 0, matching the pre-explode filter).
    */
  def epochRepeatSql(table: String, keyCol: String, groupCol: String,
      epochs: Map[String, Double], defaultEpochs: Double = 1.0,
      selectCols: String = "*"): String = {
    def copies(e: Double): String = {
      val base = math.floor(e).toLong
      val frac = e - base
      if (frac == 0.0) s"CAST($base AS BIGINT)"
      else s"CAST($base AS BIGINT) + CASE WHEN substr(md5(CAST($keyCol AS VARCHAR)), 1, 8) " +
        s"< '${weightThresholdHex(frac)}' THEN 1 ELSE 0 END"
    }
    val cases = epochs.toSeq.sortBy(_._1)
      .map { case (g, e) => s"WHEN $groupCol = '$g' THEN ${copies(e)}" }
    s"""SELECT $selectCols, CAST(unnest(range(0, n_copies)) AS BIGINT) AS epoch_idx FROM (
       |  SELECT *, CASE ${cases.mkString(" ")} ELSE ${copies(defaultEpochs)} END AS n_copies
       |  FROM $table) WHERE n_copies > 0""".stripMargin
  }

  /** Temperature-scaled corpus mixing at α = 0.5 (the mT5/multilingual
    * recipe, Xue et al. 2021: sample domain d with probability
    * ∝ count_d^α, upweighting small domains so big ones don't drown
    * them): per-domain keep rate `r_d = min(1, target·√c_d / (Σ√c · c_d))`
    * applied as a [[hashSample]]-style content-hash threshold, so the
    * drawn mixture is a pure function of the data — re-runnable,
    * auditable, engine-independent. Unlike [[weightedSample]] the rates
    * are COMPUTED from corpus stats, not supplied.
    *
    * Determinism contract: `√c_d` is the EXACT integer isqrt (a
    * floor(sqrt) seed ±1-corrected by integer comparison — immune to the
    * double sqrt's rounding at any magnitude); the threshold then takes
    * one pinned IEEE op sequence (int64→double divide, scale by 2^32,
    * floor) that every IEEE-754 engine evaluates identically, and
    * membership compares the first 8 md5 hex chars against the
    * threshold rendered in hex. Rate-1 domains short-circuit (a 9-hex
    * threshold would compare wrong as a string).
    *
    * Scale shape: one domain-bounded count agg (map-side combined), the
    * isqrt/threshold arithmetic over the ≤|domains| relation, then a
    * broadcast join + scan predicate — the corpus itself never shuffles.
    * Rows out ≈ `targetRows` in expectation (hash-binomial per domain).
    */
  def temperatureMixSample(df: DataFrame, domainCol: String, keyCol: String,
      targetRows: Long, persistStats: Boolean = true): DataFrame = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("_cd"))
    // the per-domain stats feed BOTH the grand-total agg and the
    // per-domain threshold rows. `persistStats` (default ON) caches them
    // so a derived/expensive `df` is aggregated once — the right posture
    // when the input is itself a pipeline (x_pipeline_curate's deduped
    // head). For a RAW staged table the count agg is a single-column
    // columnar scan, and re-running it is cheaper than the persist's
    // extra stage barrier (measured ~0.3-0.6 s on the sf0.1 gate, r12
    // driver bench) — pass false there. The opt-out is only sound when
    // re-evaluating `df` yields the same rows: without the persist the
    // total branch and the per-domain branch each re-run the stats
    // subtree, and a nondeterministic input (sample()/rand()) would give
    // them INCONSISTENT counts — thresholds normalized by a total that
    // disagrees with its own parts. Enforce rather than document: a
    // nondeterministic plan keeps the persist regardless of the knob.
    val inputDeterministic =
      df.queryExecution.analyzed.find(p =>
        p.expressions.exists(e => e.find(!_.deterministic).isDefined)).isEmpty
    val persist = persistStats || !inputDeterministic
    val seededRaw = counts
      .withColumn("_s0", floor(sqrt(col("_cd").cast("double"))).cast("long"))
      .withColumn("_sd",
        when((col("_s0") + 1) * (col("_s0") + 1) <= col("_cd"), col("_s0") + 1)
          .when(col("_s0") * col("_s0") > col("_cd"), col("_s0") - 1)
          .otherwise(col("_s0")))
    val seeded =
      if (persist) graft.Persisted.track(seededRaw
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else seededRaw
    // grand total as a 1-row aggregate broadcast back over the per-domain
    // relation — NOT a partitionless window: the domain universe is
    // usually bounded, but nothing in the API enforces that, and the
    // agg+cross-join shape survives a high-cardinality domain column
    // where the single-partition window funnel would not (the
    // unigramDrift pattern; r11 ADVICE closed the last of these)
    val total = seeded.agg(sum(col("_sd")).as("_ss"))
    val thresholds = seeded
      .crossJoin(broadcast(total))
      .withColumn("_thr", floor(
        (lit(targetRows) * col("_sd")).cast("double") /
          (col("_ss") * col("_cd")).cast("double") * lit(4294967296.0))
        .cast("long"))
      .select(col(domainCol), col("_thr"))
    df.join(broadcast(thresholds), Seq(domainCol))
      .filter(col("_thr") >= lit(4294967296L) ||
        substring(md5(col(keyCol).cast("string").cast("binary")), 1, 8) <
          lpad(lower(hex(col("_thr"))), 8, "0"))
      .drop("_thr")
  }

  /** DuckDB twin of [[temperatureMixSample]] over a table: identical
    * integer isqrt correction, identical pinned IEEE threshold ops,
    * identical hex-string membership compare.
    */
  def temperatureMixSampleSql(table: String, domainCol: String,
      keyCol: String, targetRows: Long, selectCols: String): String =
    s"""WITH ${temperatureMixSqlCtes(table, domainCol, targetRows)}
       |SELECT $selectCols FROM $table d JOIN _t ON d.$domainCol = _t._dom
       |WHERE ${temperatureMixSqlWhere(keyCol)}""".stripMargin

  /** The CTE chain of [[temperatureMixSampleSql]] (no leading WITH) and
    * its membership predicate — composable into larger oracle pipelines
    * (`table` may be an earlier CTE name).
    */
  private[graft] def temperatureMixSqlCtes(table: String, domainCol: String,
      targetRows: Long): String =
    s"""_c AS (
       |  SELECT $domainCol AS _dom, CAST(count(*) AS BIGINT) AS _cd
       |  FROM $table GROUP BY $domainCol),
       |_s AS (
       |  SELECT _dom, _cd,
       |    CAST(floor(sqrt(CAST(_cd AS DOUBLE))) AS BIGINT) AS _s0
       |  FROM _c),
       |_e AS (
       |  SELECT _dom, _cd,
       |    CASE WHEN (_s0 + 1) * (_s0 + 1) <= _cd THEN _s0 + 1
       |         WHEN _s0 * _s0 > _cd THEN _s0 - 1
       |         ELSE _s0 END AS _sd
       |  FROM _s),
       |_t AS (
       |  SELECT _dom,
       |    CAST(floor(CAST($targetRows * _sd AS DOUBLE) /
       |      CAST(sum(_sd) OVER () * _cd AS DOUBLE) * 4294967296.0)
       |      AS BIGINT) AS _thr
       |  FROM _e)""".stripMargin

  private[graft] def temperatureMixSqlWhere(keyCol: String): String =
    s"""_thr >= 4294967296 OR
       |  substr(md5(CAST(d.$keyCol AS VARCHAR)), 1, 8) <
       |    lpad(lower(to_hex(_thr)), 8, '0')""".stripMargin

  /** Deterministic train/val/test split: add a `split` label column by
    * where the first 8 hex chars of md5(key) fall in `[0, 2^32)` —
    * `[0, train)` / `[train, train+val)` / the rest. Membership is a pure
    * function of the key (auditable, engine-agnostic, stable under
    * re-partitioning and re-runs — everything `randomSplit` is not), the
    * assignment is a scan-level expression (no shuffle, no state), and
    * growing `trainFrac` only MOVES the band edges: the train set for a
    * smaller fraction is a subset of the train set for a larger one, so
    * scaling-law ablations nest.
    */
  def datasetSplit(df: DataFrame, keyCol: String,
      trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    require(trainFrac >= 0.0 && valFrac >= 0.0 && trainFrac + valFrac <= 1.0,
      s"datasetSplit: bad fractions train=$trainFrac val=$valFrac")
    val h = substring(shuffleKey(col(keyCol)), 1, 8)
    df.withColumn("split",
      when(h < lit(weightThresholdHex(trainFrac)), "train")
        .when(h < lit(weightThresholdHex(trainFrac + valFrac)), "val")
        .otherwise("test"))
  }

  /** DuckDB twin of [[datasetSplit]]'s label expression. */
  def datasetSplitSql(keyCol: String, trainFrac: Double = 0.8,
      valFrac: Double = 0.1): String =
    s"""CASE WHEN substr(md5(CAST($keyCol AS VARCHAR)), 1, 8) < '${weightThresholdHex(trainFrac)}' THEN 'train'
       |     WHEN substr(md5(CAST($keyCol AS VARCHAR)), 1, 8) < '${weightThresholdHex(trainFrac + valFrac)}' THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** Reproducible global shuffle for training-data export: total-order the
    * rows by (md5(key), key). Epoch-shuffled training data must be
    * RE-creatable (audits, restarts, ablations) — `orderBy(rand())` is
    * none of that, while a content-hash order is a pure function of the
    * data. The sort is a range-partitioned exchange + per-partition sort:
    * the standard scalable global sort, no single-partition stage.
    */
  def deterministicShuffle(df: DataFrame, keyCol: String): DataFrame =
    df.orderBy(shuffleKey(col(keyCol)), col(keyCol))

  /** [[deterministicShuffle]] plus an explicit contiguous 0-based
    * `position` column — the DataFrame-native `zipWithIndex`, for when the
    * consumer needs addressable sample indices (epoch slicing, resumable
    * data loaders) rather than just file order.
    *
    * A single `row_number()` window over the whole table would funnel
    * 100 TB through ONE partition. Instead the rows are bucketed by the
    * first [[PrefixChars]] hex characters of the md5 sort key — buckets that
    * are (a) a pure function of the data (no sampled range boundaries, so
    * every recomputation and every plan branch agrees on them, unlike
    * `spark_partition_id()` after a `repartitionByRange`, whose sampled
    * boundaries can differ per computation), (b) PREFIX-ALIGNED with the
    * (md5, key) total order, and (c) uniformly sized (md5 is uniform), so
    * no bucket skews. Per-bucket ranks come from one windowed pass; bucket
    * offsets are the cumulative counts of the preceding buckets — a tiny
    * 16^PrefixChars-row relation, broadcast back. Cost: ONE hash exchange
    * of the data (the window's), one small aggregation, one broadcast
    * join. position = bucket offset + local rank − 1, which depends only
    * on the total order — deterministic at any parallelism.
    */
  def withGlobalPosition(df: DataFrame, keyCol: String): DataFrame = {
    val bucket = substring(shuffleKey(col(keyCol)), 1, PrefixChars)
    val bucketed = df.withColumn("_graft_bkt", bucket)
    val offsets = bucketed.groupBy(col("_graft_bkt"))
      .agg(count(lit(1)).as("_graft_n"))
      // single-partition BY DESIGN: the cumsum runs over the bucket-
      // offsets relation (<= 16^PrefixChars rows), never the data — the
      // "WindowExec: No Partition Defined" warning it logs is benign
      .withColumn("_graft_offset",
        coalesce(sum(col("_graft_n")).over(
          Window.orderBy(col("_graft_bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_graft_bkt"), col("_graft_offset"))
    val localRank = row_number().over(
      Window.partitionBy(col("_graft_bkt"))
        .orderBy(shuffleKey(col(keyCol)), col(keyCol)))
    bucketed.join(broadcast(offsets), "_graft_bkt")
      .withColumn("position", (col("_graft_offset") + localRank).cast("long") - 1L)
      .drop("_graft_bkt", "_graft_offset")
  }

  /** [[withGlobalPosition]] in VALUE order instead of hash order:
    * contiguous 0-based rank by `(valueCol, keyCol)`, via the same
    * bucket-offset cumsum (bucket = value DIV width with width sized so
    * ~256 ordered bands exist below `maxValue`; values above `maxValue`
    * simply land in further bands — no clamp). The clustered-layout
    * writer's positioning primitive: unlike `repartitionByRange`, the
    * shard boundaries are a pure function of the DATA (range sampling
    * is not), so written file contents replay in an external oracle.
    */
  def withGlobalPositionByValue(df: DataFrame, keyCol: String,
      valueCol: String, maxValue: Long): DataFrame = {
    require(maxValue >= 0)
    val width = math.max(1L, (maxValue + 256) / 256)
    val bucketed = df.withColumn("_graft_bkt", expr(s"$valueCol DIV ${width}L"))
    val offsets = bucketed.groupBy(col("_graft_bkt"))
      .agg(count(lit(1)).as("_graft_n"))
      // single-partition BY DESIGN over the ~256-row band-offsets
      // relation, never the data — the "WindowExec: No Partition
      // Defined" warning it logs is benign
      .withColumn("_graft_offset",
        coalesce(sum(col("_graft_n")).over(
          Window.orderBy(col("_graft_bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_graft_bkt"), col("_graft_offset"))
    val localRank = row_number().over(
      Window.partitionBy(col("_graft_bkt"))
        .orderBy(col(valueCol), col(keyCol)))
    bucketed.join(broadcast(offsets), "_graft_bkt")
      .withColumn("position", (col("_graft_offset") + localRank).cast("long") - 1L)
      .drop("_graft_bkt", "_graft_offset")
  }

  /** Per-domain document cap (the CommonCrawl/C4 host-cap curation
    * step: no single domain may contribute more than `cap` documents,
    * survivors chosen by deterministic hash order, not arrival order).
    * Keeps each domain's first `cap` rows in `(md5(key), key)` order —
    * an unbiased, partition-stable sample that is STABLE UNDER CORPUS
    * GROWTH: a doc kept at cap k is kept at any cap ≥ k, and re-running
    * after appending new docs only swaps survivors where new hashes
    * rank earlier.
    *
    * Scale: deliberately the PLAIN rank window — Catalyst plans a
    * `row_number ≤ k` filter as WindowGroupLimit (map-side per-domain
    * top-k BEFORE the shuffle, since Spark 3.5), so only
    * ~tasks·cap rows per domain ever shuffle and the single-partition-
    * per-domain failure mode never materializes (the plan audit pins
    * the operator). A hand-built md5-prefix bucket-offset construction
    * (the [[withGlobalPosition]] pattern, which IS required for cumsum
    * shapes where no limit can push down) was measured 5× SLOWER here —
    * 32.9 s vs 6.3 s at 20M rows × 256 B payload in one domain
    * (TUNING, `cap` row, r10): it pays two extra full passes for a
    * prune the optimizer already performs. Don't hand-schedule what
    * Catalyst does.
    */
  def domainCapSample(df: DataFrame, domainCol: String, keyCol: String,
      cap: Long): DataFrame = {
    require(cap >= 1)
    val w = Window.partitionBy(col(domainCol))
      .orderBy(shuffleKey(col(keyCol)), col(keyCol))
    df.withColumn("_graft_rk", row_number().over(w))
      .filter(col("_graft_rk") <= cap)
      .drop("_graft_rk")
  }

  /** Greedy token-budget fill: rank rows best-first by (`scoreCol` desc,
    * hashed id, id) and keep every row whose running token total BEFORE it
    * is still under `budget` — the "fill a 1T-token training budget by
    * quality rank" selection step. The straddling row is kept (overshoot
    * is at most one document), all later rows drop. `scoreCol` must be an
    * integral type (the repo's fixed-point score convention) and non-null
    * (null-score rows are silently excluded — the offsets join is inner);
    * ties at equal score are broken by the md5 of the id — an unbiased,
    * partition-stable tie-break, not an id-order bias.
    *
    * Scale: a single `sum() over (order by ...)` window would funnel the
    * corpus through ONE partition. Instead the [[withGlobalPosition]]
    * construction generalizes to a weighted cumsum over a composite
    * order: rows bucket by (exact score, md5-prefix of the id) — buckets
    * are order-convex w.r.t. (score desc, md5, id), a pure function of
    * the data, and sized n / (|score values| * 16^PrefixChars). Per-bucket
    * token totals (a tiny relation) broadcast back as exclusive offsets;
    * within-bucket running sums are one windowed pass partitioned by
    * bucket. Cost: one hash exchange + one small agg + one broadcast
    * join, at any corpus size.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, tokensCol: String,
      scoreCol: String, budget: Long): DataFrame = {
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.ShortType, org.apache.spark.sql.types.ByteType)
        .contains(df.schema(scoreCol).dataType),
      s"scoreCol $scoreCol must be integral (fixed-point) for exact replay")
    val b = df
      .withColumn("_graft_sk", shuffleKey(col(idCol)))
      .withColumn("_graft_bkt", substring(col("_graft_sk"), 1, PrefixChars))
    val offsets = b.groupBy(col(scoreCol).as("_graft_s"), col("_graft_bkt"))
      .agg(sum(col(tokensCol).cast("long")).as("_graft_t"))
      // single-partition BY DESIGN: the cumsum runs over the (score x
      // 16^PrefixChars)-row offsets relation, never the data — the
      // "WindowExec: No Partition Defined" warning it logs is benign
      .withColumn("_graft_offset",
        coalesce(sum(col("_graft_t")).over(
          Window.orderBy(col("_graft_s").desc, col("_graft_bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_graft_s"), col("_graft_bkt").as("_graft_b2"), col("_graft_offset"))
    val localBefore = coalesce(sum(col(tokensCol).cast("long")).over(
      Window.partitionBy(col(scoreCol), col("_graft_bkt"))
        .orderBy(col("_graft_sk"), col(idCol))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    b.withColumn("_graft_local", localBefore)
      .join(broadcast(offsets),
        col(scoreCol) === col("_graft_s") && col("_graft_bkt") === col("_graft_b2"))
      .withColumn("tokens_before", col("_graft_offset") + col("_graft_local"))
      .filter(col("tokens_before") < budget)
      .drop("_graft_sk", "_graft_bkt", "_graft_s", "_graft_b2",
        "_graft_offset", "_graft_local")
  }

  /** DuckDB twin of [[tokenBudgetSelect]]: the bucket decomposition is
    * exactly consistent with the (score desc, md5, id) total order, so
    * the oracle states the SEMANTICS independently with one global
    * window — a stronger check than replaying the decomposition.
    */
  def tokenBudgetSelectSql(table: String, idCol: String, tokensCol: String,
      scoreExpr: String, budget: Long, selectCols: String): String =
    s"""SELECT $selectCols, tokens_before FROM (
       |  SELECT *, CAST(COALESCE(SUM(CAST($tokensCol AS BIGINT)) OVER (
       |      ORDER BY $scoreExpr DESC, md5(CAST($idCol AS VARCHAR)), $idCol
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
       |  FROM $table)
       |WHERE tokens_before < $budget""".stripMargin
}
