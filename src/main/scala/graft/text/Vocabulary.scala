package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer-training prep: corpus-wide token frequencies → a
  * deterministic top-N vocabulary → documents encoded as id sequences.
  * (Reference scope: the reference has no tokenizer surface — this is
  * north-star training-pipeline territory, like the dedup/ANN families.)
  *
  * Scale shape: the frequency pass is the canonical map-side-combined
  * `groupBy(token).count` — the shuffle carries at most
  * (partitions × distinct tokens) rows, not the token stream. The top-N
  * cut is an ordered limit (TakeOrdered); the id-assignment window runs
  * AFTER the cut, over ≤ `size` rows — a deliberate tiny global window,
  * never one over the corpus. Encoding broadcasts the vocab (a top-N
  * vocab is KBs–MBs) so the token stream never shuffles to look ids up;
  * the only wide op is the per-doc reassembly groupBy.
  */
object Vocabulary {

  /** Top-`size` tokens by (freq desc, token asc) — the tie-break makes
    * vocab ids reproducible across runs and engines — with 0-based ids
    * assigned in rank order.
    */
  def buildVocab(df: DataFrame, textCol: String, size: Int,
      minCount: Long = 1L): DataFrame = {
    val top = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minCount)
      .orderBy(col("freq").desc, col("token"))
      .limit(size)
    // window input is the ≤ size-row top cut, not the corpus
    top.withColumn("token_id",
      (row_number().over(Window.orderBy(col("freq").desc, col("token"))) - 1)
        .cast("long"))
  }

  /** DuckDB twin of [[buildVocab]] over the `documents` table. */
  def buildVocabSql(size: Int, minCount: Long = 1L): String =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents),
       |c AS (
       |  SELECT token, count(*) AS freq FROM tok GROUP BY token
       |  HAVING count(*) >= $minCount)
       |SELECT token, freq,
       |  CAST(row_number() OVER (ORDER BY freq DESC, token) - 1 AS BIGINT) AS token_id
       |FROM c ORDER BY freq DESC, token LIMIT $size""".stripMargin

  /** The id every encode form gives an out-of-vocabulary token. */
  private[text] val OovId = -1L

  /** Encode each document as its token-id sequence under `vocab`
    * (out-of-vocabulary → [[OovId]]). The vocab side broadcasts; token
    * order is preserved via posexplode + array_sort on (pos, id).
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    // NO spreadIfNarrow here (r16 verdict item 1): the driver's in-suite
    // map showed the added shuffle costs more than the light per-row
    // compute it parallelizes (x_vocab_encode 0.47 → 0.86 s) — this path
    // is one broadcast join + one doc-keyed agg per token
    df.select(col(idCol),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "token")))
      .join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("token_id"), lit(OovId)).as("tid"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("tid")))).as("_pt"))
      .select(col(idCol), expr("transform(_pt, x -> x.tid)").as("token_ids"))

  /** [[encode]] with the id sequence rendered as a space-joined string —
    * the GATED form: the driver's oracle compare hashes scalar columns
    * (a pandas sort over an array column crashes), so the hash gate
    * carries the encoding as `"12 7 -1 3"` instead of `array<bigint>`.
    * Library callers wanting the typed sequence use [[encode]].
    */
  def encodeJoined(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    encode(df, idCol, textCol, vocab)
      .select(col(idCol),
        array_join(transform(col("token_ids"), _.cast("string")), " ")
          .as("token_ids"))

  /** [[encode]] in ONE scan — zero joins, zero exchanges: the vocab
    * (≤ `size` entries, the same bound that makes the relational
    * broadcast legal) is collected once on the driver and embedded in a
    * codegen expression with an O(1) hash lookup per token
    * ([[VocabEncodeExpr]]). Output is bit-identical to [[encode]]
    * (spec-pinned). This is the at-scale posture the `vocabdecade` r14
    * measurement motivates: the relational form's per-doc reassembly
    * exchange is 36.9 GB shuffle + 87.9 GB spill at 4.24B tokens, and
    * this form eliminates it — encode rides the same scan as any other
    * per-row text signal.
    */
  def encodeInRow(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    // vocab-bounded driver collect (same staging bound as the DSIR
    // weights map); deterministic content, so every consumer agrees
    val entries = vocab.select(col("token"), col("token_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // NULL-text rows: [[encode]]'s posexplode emits no rows for a null
    // token array, so the doc is ABSENT from its output; match that
    // row-presence semantics here (VocabEncodeExpr would otherwise keep
    // the row with token_ids = NULL — r14 ADVICE)
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        VocabEncodeExpr.encodeCol(TextFunctions.tokens(col(textCol)),
          entries).as("token_ids"))
  }

  /** [[encodeInRow]] in the gated space-joined form of [[encodeJoined]]. */
  def encodeInRowJoined(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    encodeInRow(df, idCol, textCol, vocab)
      .select(col(idCol),
        array_join(transform(col("token_ids"), _.cast("string")), " ")
          .as("token_ids"))

  /** Per-document out-of-vocabulary stats under `vocab` — the quality
    * signal a tokenizer-aware curation gate filters on (high OOV ⇒ the
    * vocab doesn't model the doc). Integer counts only, so the result is
    * exactly replayable; compute the ratio downstream. Broadcast lookup,
    * one per-doc aggregation.
    */
  def oovStats(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    // NO spreadIfNarrow (r16 verdict item 1: x_vocab_oov 0.44 → 0.73 s
    // in-suite with it) — same light broadcast-join + doc-keyed agg shape
    // as [[encode]]
    df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
      .join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("token_id").isNull, 1)).as("n_oov"))

  /** DuckDB twin of [[oovStats]] over `documents`. */
  def oovStatsSql(size: Int, minCount: Long = 1L): String =
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
       |  FROM documents),
       |tcnt AS (
       |  SELECT token, count(*) AS freq FROM tok GROUP BY token
       |  HAVING count(*) >= $minCount),
       |v AS (
       |  SELECT token FROM tcnt ORDER BY freq DESC, token LIMIT $size)
       |SELECT t.doc_id, count(*) AS n_tokens,
       |  count(CASE WHEN v.token IS NULL THEN 1 END) AS n_oov
       |FROM tok t LEFT JOIN v ON t.token = v.token
       |GROUP BY t.doc_id""".stripMargin

  /** BLOCK-PARTITIONED INVERTED INDEX build — the staged artifact the
    * ranked-retrieval gates ([[searchByTokens]], [[bm25SearchFixed]])
    * probe implicitly; building it ONCE and serving lookups is the
    * deployment shape of search over a corpus. One row per
    * `(term, block)` with the block's sorted posting list and its count:
    *
    *   `block = doc_id DIV blockSize` — the Lucene-segment analogue.
    *
    * Why blocks and not one list per term: posting lists are the most
    * skewed relation in a corpus (a stopword's list is the corpus), so a
    * plain `collect_list` per term re-creates the giant-row problem at
    * 100 TB. Block partitioning bounds every row by `blockSize`, keeps
    * the build a single (term, block) agg (map-side combined), makes
    * incremental maintenance append-only (new docs touch only the
    * newest block), and intersects/merges block-by-block downstream.
    * Postings are the DISTINCT docs containing the term, sorted — the
    * a1 sorted-collect convention, so the oracle replays the arrays
    * exactly.
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
      blockSize: Long): DataFrame = {
    require(blockSize >= 1)
    df.select(col(idCol).as("_id"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .select(col("_id"), col("term")).distinct()
      .groupBy(col("term"), expr(s"_id DIV ${blockSize}L").as("block"))
      .agg(count(lit(1)).as("block_df"),
        sort_array(collect_list(col("_id"))).as("postings"))
  }

  /** DuckDB twin of [[invertedIndex]] over `documents`. */
  def invertedIndexSql(blockSize: Long): String =
    s"""WITH tok AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(trim(text), ' ')) AS term
       |  FROM documents)
       |SELECT term, doc_id // $blockSize AS block,
       |  CAST(count(*) AS BIGINT) AS block_df,
       |  list_sort(list(doc_id)) AS postings
       |FROM tok WHERE term <> ''
       |GROUP BY term, block""".stripMargin

  /** Integer-scored keyword search: rank documents by (distinct query
    * terms matched, total matches, id). The query-term set is a literal
    * broadcast into the scan predicate (an `IN` filter — pushdown-
    * friendly), scoring is a map-side-combined per-doc aggregation, and
    * the top-k is an ordered limit. Deliberately integer-only scoring
    * (no tf-idf floats) so the ranking replays exactly; a BM25-style
    * score would slot into the same plan with the same shape.
    */
  def searchByTokens(df: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k: Int): DataFrame =
    df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
      .filter(col("token").isin(query: _*))
      .groupBy(col(idCol))
      .agg(countDistinct(col("token")).as("distinct_terms"),
        count(lit(1)).as("matches"))
      .orderBy(col("distinct_terms").desc, col("matches").desc, col(idCol))
      .limit(k)

  /** Fixed-point log2 parameters shared by [[log2Fixed]], its Column twin
    * inside [[bm25SearchFixed]], and the DuckDB replay in
    * [[bm25SearchFixedSql]]: `MantBits`-bit mantissa, `FracBits` result
    * fraction bits, exponents up to `EMax`. The three implementations run
    * the IDENTICAL integer op sequence (shift-and-square with truncation),
    * so they agree bit-for-bit — the determinism comes from the shared
    * operational definition, not from floating-point luck.
    */
  private[graft] val MantBits = 30
  private[graft] val FracBits = 20
  private[graft] val EMax = 40
  private val Log2FixedBound =
    s"log2Fixed needs 0 < den <= num < 2^${63 - MantBits}, got "

  /** `floor`-style fixed-point `log2(num/den)` with [[FracBits]] fraction
    * bits, defined OPERATIONALLY as integer ops only (compare, multiply,
    * shift): normalize `num/den = 2^e * m` with `m ∈ [1, 2)` held as a
    * [[MantBits]]-bit fixed-point integer, then extract one fraction bit
    * per squaring round (truncating the mantissa back to [[MantBits]] bits
    * each round). Requires `0 < den <= num < 2^(63 - MantBits)` and
    * `num/den < 2^EMax` — callers at larger magnitudes rescale first.
    * Accuracy: within ~2^-FracBits + FracBits·2^-MantBits of exact log2
    * (spec-checked); EXACTNESS across engines is what the gate needs, and
    * that follows from the op sequence alone.
    */
  private[graft] def log2Fixed(num: Long, den: Long): Long = {
    require(den > 0 && num >= den && num < (1L << (63 - MantBits)),
      s"$Log2FixedBound$num/$den")
    var e = 0
    while (e < EMax && (den << (e + 1)) <= num) e += 1
    var m = (num << MantBits) / (den << e)
    var frac = 0L
    var i = 0
    while (i < FracBits) {
      val msq = (m * m) >> MantBits
      frac = frac * 2 + (if (msq >= (2L << MantBits)) 1L else 0L)
      m = if (msq >= (2L << MantBits)) msq >> 1 else msq
      i += 1
    }
    (e.toLong << FracBits) + frac
  }

  /** Column twin of [[log2Fixed]] over a relation carrying `_num`/`_den`:
    * the exponent is an exact indicator sum (`e = Σ_k [den·2^k <= num]`,
    * k = 1..EMax), the mantissa loop unrolls into [[FracBits]] chained
    * projections — the relation here is the ≤|query|-row per-term df
    * table, so the unrolled plan is trivially small.
    */
  // right for vocab-bounded relations; at corpus-scale row counts use a
  // codegen scalar instead (the [[KnScoreExpr]] lesson: this unrolled
  // chain costs ~66 µs/row)
  private[graft] def log2FixedCols(df: DataFrame): DataFrame = {
    val mantBits = MantBits
    val two = lit(2L << mantBits)
    var cur = df
      // den*2^k <= num  ⟺  den <= floor(num / 2^k) for integers — the
      // shift-right form never overflows, where den << k would for
      // den >= 2^(63-EMax) (drift's rescaled operands reach 2^33)
      .withColumn("_e", (1 to EMax).map(k =>
        when(shiftright(col("_num"), k) >= col("_den"), 1L).otherwise(0L))
        .reduce(_ + _))
      // num << MantBits overflows int64 from num = 2^(63 - MantBits) on:
      // fail per row with the scalar's message instead of wrapping
      .withColumn("_m", expr(
        s"CASE WHEN _num >= ${1L << (63 - mantBits)}L " +
          s"THEN raise_error(concat('$Log2FixedBound', _num, '/', _den)) " +
          s"ELSE shiftleft(_num, $mantBits) DIV shiftleft(_den, CAST(_e AS INT)) END"))
      .withColumn("_frac", lit(0L))
    for (_ <- 1 to FracBits) {
      cur = cur
        .withColumn("_msq", shiftright(col("_m") * col("_m"), mantBits))
        .withColumn("_frac",
          col("_frac") * 2 + when(col("_msq") >= two, 1L).otherwise(0L))
        .withColumn("_m",
          when(col("_msq") >= two, shiftright(col("_msq"), 1)).otherwise(col("_msq")))
    }
    cur.withColumn("_idf_fp", col("_e") * lit(1L << FracBits) + col("_frac"))
      .drop("_e", "_m", "_msq", "_frac")
  }

  /** BM25 ranked search as EXACT INTEGER arithmetic — the integer-scored
    * upgrade of [[searchByTokens]]. `ln` is not bit-identical across
    * engines (JVM `Math.log` vs DuckDB's libm are each ≤1 ulp, not equal),
    * so a float BM25 could not hash-match an oracle; here every float
    * source is replaced by a deterministic integer reformulation, so a
    * DuckDB oracle hash-matches bit-for-bit. TextFunctionsSpec keeps the
    * float formula as the ranking reference.
    *
    *  - `idf`: `ln(1 + (N−df+0.5)/(df+0.5)) = ln((2N+2)/(2df+1))` — an
    *    integer ratio. `ln` becomes [[log2Fixed]] (log2 = ln/ln 2 is a
    *    constant positive factor on EVERY term's idf, so the ranking is
    *    BM25's exactly).
    *  - tf-weight with `k1 = 6/5`, `b = 3/4` multiplied through:
    *    `tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl))
    *       = 22·tf·SDL / (10·tf·SDL + 3·SDL + 9·dl·N)` with
    *    `SDL = Σ dl` — all integers.
    *  - per (doc, term): `ts = (idf_fp · 22 · tf · SDL) DIV denom` (one
    *    floor per term, positive operands so DIV = floor in both engines);
    *    per doc: integer sum, ranked (score desc, id asc).
    *
    * Scale shape: corpus stats are a 1-row broadcast,
    * per-term idf a ≤|query|-row broadcast; the wide ops are the tf agg
    * and the per-doc sum, both map-side combined. Magnitude bound:
    * `idf_fp·22·tf·SDL < 2^63` holds while `SDL·tf < 2^33` — a petabyte
    * corpus rescales SDL (idf and the tf-weight are ratio-invariant under
    * a common floor-rescale of SDL at the precision the gate carries).
    *
    * Execution (r17): for literal query sets up to [[Bm25WideTermCap]]
    * terms, tf per (doc, term) is a per-row array count
    * (`size(toks) - size(array_remove(toks, t))` — one column per term,
    * whole-stage-codegen'd), NOT an explode + shuffle. ONE global
    * aggregate carries N, SDL and every per-term df; that 1-row result
    * is fetched to the driver (O(1) bytes — the [[graft.graph.PageRank]]
    * `nodes.count()` precedent, not a data collect) and idf is computed
    * with the scalar [[log2Fixed]] — the IDENTICAL op sequence
    * [[log2FixedCols]] unrolls, so the values are bit-equal. Scoring is
    * then a pure map-side projection against literal constants followed
    * by a TakeOrdered: the corpus is scanned twice and NOTHING wide ever
    * shuffles. The r16 plan scanned and
    * re-tokenized the corpus in 5 subtrees, ran 3 wide aggregations, and
    * — the dominant cost at bench scale — carried the FracBits-unrolled
    * idf chain as ~120 Project nodes that the driver re-analyzed and
    * AQE re-optimized per stage (measured: ~2.8 s of a 4.6 s solo run
    * was plan processing; corpus compute is ms at sf0.1). Score/rank
    * arithmetic is unchanged op-for-op (oracle re-proven bit-identical).
    * Query sets wider than the cap keep the exploded shape — a column
    * per term stops being a sane plan somewhere past a dozen terms.
    *
    * Build-time snapshot: the stats fetch runs when the DataFrame is
    * BUILT, and N, SDL and every df enter the plan as literals. Executing
    * the returned DataFrame again after the source changed scores against
    * the old stats; the exploded shape recomputes them per execution.
    * Batch input only: a ranked top-k over corpus-wide statistics is no
    * streaming query (neither shape passes Spark's streaming checks), so
    * a streaming input fails here by name. Bound: idf is
    * `log2Fixed(2N+2, 2df+1)`, which needs
    * `2N+2 < 2^33`, i.e. N < 2^32 documents; a larger corpus fails at
    * build time with log2Fixed's message. An empty corpus runs the same
    * column expressions over no rows, so both outcomes share one schema.
    */
  private[graft] val Bm25WideTermCap = 8

  def bm25SearchFixed(df: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k: Int): DataFrame = {
    require(!df.isStreaming, "bm25SearchFixed needs a batch input, got a streaming one")
    val terms = query.distinct
    if (terms.isEmpty || terms.size > Bm25WideTermCap)
      return bm25SearchFixedExploded(df, idCol, textCol, query, k)
    // tf per term as size(toks) - size(array_remove(toks, t)): ArrayRemove
    // is whole-stage-codegen'd, where the lambda form filter(toks, _ = t)
    // is interpreted per element (HigherOrderFunction, no codegen) and
    // measured slower end-to-end. split() yields no null elements, so
    // remove-count equals occurrence-count exactly.
    val toks = TextFunctions.tokens(col(textCol))
    val base = df.select(
      col(idCol) +:
        TextFunctions.tokenCount(col(textCol)).cast("long").as("_dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          (size(toks) - size(array_remove(toks, lit(t))))
            .cast("long").as(s"_tf$i")
        }: _*)
    // ONE global aggregate: N, SDL, and df per term (docs with tf > 0) —
    // a single row regardless of corpus size, fetched to the driver
    val statsRow = base.agg(count(lit(1)).as("_n"),
      sum(col("_dl")).as("_sdl") +:
        terms.indices.map(i =>
          sum(when(col(s"_tf$i") > 0L, 1L).otherwise(0L)).as(s"_df$i")): _*)
      .head()
    // SUM over no rows is null; an empty corpus scores no rows anyway
    def stat(i: Int): Long = if (statsRow.isNullAt(i)) 0L else statsRow.getLong(i)
    val n = stat(0)
    val sdl = stat(1)
    val idf = terms.indices.map(i => log2Fixed(2L * n + 2L, 2L * stat(2 + i) + 1L))
    val termScore = terms.indices.map { i =>
      when(col(s"_tf$i") > 0L, expr(
        s"(${idf(i)}L * 22L * _tf$i * ${sdl}L) DIV " +
          s"(10L * _tf$i * ${sdl}L + 3L * ${sdl}L + 9L * _dl * ${n}L)"))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val distinctTerms = terms.indices.map(i =>
      when(col(s"_tf$i") > 0L, 1L).otherwise(0L)).reduce(_ + _)
    base
      .withColumn("bm25_fp", termScore)
      .withColumn("distinct_terms", distinctTerms)
      .filter(col("distinct_terms") > 0L)
      .select(col(idCol), col("bm25_fp"), col("distinct_terms"))
      .orderBy(col("bm25_fp").desc, col(idCol))
      .limit(k)
  }

  /** The pre-r17 exploded shape — still the right plan when the query
    * set is too wide for a column per term. */
  private def bm25SearchFixedExploded(df: DataFrame, idCol: String,
      textCol: String, query: Seq[String], k: Int): DataFrame = {
    val docLens = df.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("_dl"))
    val stats = docLens.agg(count(lit(1)).as("_n"), sum(col("_dl")).as("_sdl"))
    val tf = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("_term"))
      .filter(col("_term").isin(query: _*))
      .groupBy(col(idCol), col("_term"))
      .agg(count(lit(1)).as("_tf"))
    val idf = log2FixedCols(
      tf.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
        .crossJoin(broadcast(stats))
        .withColumn("_num", lit(2L) * col("_n") + lit(2L))
        .withColumn("_den", lit(2L) * col("_df") + lit(1L)))
      .select(col("_term"), col("_idf_fp"))
    tf.join(docLens, Seq(idCol))
      .join(broadcast(idf), Seq("_term"))
      .crossJoin(broadcast(stats))
      .withColumn("_ts", expr(
        "(_idf_fp * 22L * _tf * _sdl) DIV (10L * _tf * _sdl + 3L * _sdl + 9L * _dl * _n)"))
      .groupBy(col(idCol))
      .agg(sum(col("_ts")).as("bm25_fp"), count(lit(1)).as("distinct_terms"))
      .orderBy(col("bm25_fp").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB twin of [[bm25SearchFixed]] over `documents`: the identical
    * integer op sequence — indicator-sum exponent, [[FracBits]] unrolled
    * square-and-truncate CTEs (`//` and `>>` are floor on the positive
    * operands here, matching Spark's `DIV`/`shiftright`), then the same
    * integer score. */
  def bm25SearchFixedSql(query: Seq[String], k: Int): String = {
    val inList = query.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT term,  e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
       |  FROM documents),
       |dl AS MATERIALIZED (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sdl
       |  FROM dl),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok WHERE token IN ($inList) GROUP BY doc_id, token),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |nrm AS (
       |  SELECT term, 2 * n + 2 AS num, 2 * df + 1 AS den
       |  FROM dft CROSS JOIN stats),
       |it0 AS (
       |  SELECT term, ($eSum) AS e,
       |    (num << $MantBits) // (den << ($eSum)) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM nrm),
       |$iters,
       |idf AS (
       |  SELECT term, e * (CAST(1 AS BIGINT) << $FracBits) + frac AS idf_fp
       |  FROM it$FracBits),
       |scored AS (
       |  SELECT t.doc_id,
       |    (i.idf_fp * 22 * t.tf * s.sdl)
       |      // (10 * t.tf * s.sdl + 3 * s.sdl + 9 * d.dl * s.n) AS ts
       |  FROM tf t JOIN dl d USING (doc_id) JOIN idf i USING (term)
       |    CROSS JOIN stats s)
       |SELECT doc_id, CAST(sum(ts) AS BIGINT) AS bm25_fp,
       |  CAST(count(*) AS BIGINT) AS distinct_terms
       |FROM scored GROUP BY doc_id
       |ORDER BY bm25_fp DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Per-document unigram LM surprisal as EXACT INTEGER arithmetic — the
    * CCNet/Gopher-style statistical quality signal (a doc whose tokens
    * are all corpus-rare scores high; boilerplate scores low), scored
    * against the corpus's own unigram model:
    *
    *   `surprisal(doc) = Σ_t −log2 P(t) = Σ_t log2(TOTAL / count(t))`
    *
    * with the log as [[log2FixedCols]]'s floor-style [[FracBits]]-bit
    * fixed point, so every value is an integer and the DuckDB twin
    * ([[surprisalSql]]) hash-matches bit-for-bit. Output per doc:
    * `(id, n_tokens, surprisal_fp, mean_surprisal_fp)` — the mean is the
    * per-token average (integer DIV; both operands positive), the
    * filterable signal.
    *
    * Scale shape: the unigram model is the [[buildVocab]]-shaped
    * map-side-combined token agg (vocab-bounded shuffle); scoring is a
    * broadcast join onto the token stream + one per-doc sum (map-side
    * partial) — the token stream itself never shuffles. Magnitude: needs
    * `TOTAL < 2^33` for the log's mantissa shift; petabyte corpora
    * floor-rescale (TOTAL, counts) by a common factor first, which
    * perturbs each surprisal by < 2^-FracBits relative — same note as
    * [[bm25SearchFixed]]'s SDL rescale.
    */
  /** The vocab-bounded unigram surprisal model (token, _sup_fp) — the
    * stageable artifact [[surprisalScore]] probes. In a deployment this
    * is built once per corpus snapshot and persisted (the staged-model
    * pattern the DSIR weights use); every scoring pass then broadcasts
    * it instead of re-aggregating the token stream.
    */
  def surprisalModel(df0: DataFrame, textCol: String): DataFrame = {
    // tokenize+explode ride the scan stage -- floor its parallelism on
    // narrow inputs (no-op at production sizes); see ops.Parallelism
    val df = graft.ops.Parallelism.spreadIfNarrow(df0)
    val toks = df.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("_cnt"))
    val total = counts.agg(sum(col("_cnt")).as("_tot"))
    log2FixedCols(
      counts.crossJoin(broadcast(total))
        .withColumn("_num", col("_tot"))
        .withColumn("_den", col("_cnt")))
      .select(col("token"), col("_idf_fp").as("_sup_fp"))
  }

  def surprisalScore(df0: DataFrame, idCol: String, textCol: String,
      precomputedModel: Option[DataFrame] = None): DataFrame = {
    // NO spreadIfNarrow on the scoring side (r16 verdict item 1:
    // x_text_surprisal 0.67 → 0.83 s in-suite with it). It also
    // DOUBLE-spread the model branch: surprisalModel applies its own
    // gate, and the gate re-fires on an already-repartitioned input
    // because the LEAF stats it reads are unchanged.
    val df = df0
    val toks = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("token"))
    val scored = precomputedModel.getOrElse(surprisalModel(df, textCol))
    toks.join(broadcast(scored), Seq("token"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_sup_fp")).as("surprisal_fp"))
      .withColumn("mean_surprisal_fp",
        expr("surprisal_fp DIV n_tokens"))
  }

  /** Held-out LM evaluation: train the unigram model on one split,
    * score the OTHER — the proper perplexity protocol (in-sample
    * surprisal, [[surprisalScore]] on its own corpus, systematically
    * flatters the model; every LM eval holds data out). Per test doc:
    * token count, OOV count (tokens the train split never saw — the
    * honest caveat of an unsmoothed model; they carry no score), the
    * fixed-point surprisal sum over KNOWN tokens, and its per-known-
    * token mean. All integers; an all-OOV doc scores 0 with the mean
    * guarded (never a divide-by-zero — Spark would null, DuckDB would
    * error, and the engines must agree).
    *
    * Scale shape is [[surprisalScore]]'s: vocab-bounded model agg,
    * broadcast scoring join (LEFT, to keep OOV rows countable), one
    * map-side-combined per-doc agg.
    */
  def heldOutSurprisal(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val model = surprisalModel(train, textCol)
    graft.ops.Parallelism.spreadIfNarrow(test).select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .join(broadcast(model), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(lit(1)).minus(count(col("_sup_fp"))).as("n_oov"),
        coalesce(sum(col("_sup_fp")), lit(0L)).as("surprisal_fp"))
      .withColumn("mean_known_fp",
        expr("surprisal_fp DIV greatest(n_tokens - n_oov, 1L)"))
  }

  /** DuckDB twin of [[heldOutSurprisal]] over `documents` split by
    * `predTrain`/`predTest`.
    */
  def heldOutSurprisalSql(predTrain: String, predTest: String): String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT token, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH tokm AS MATERIALIZED (
       |  SELECT unnest(string_split(trim(text), ' ')) AS token
       |  FROM documents WHERE $predTrain),
       |cnt AS MATERIALIZED (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tokm GROUP BY token),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt),
       |nrm AS (SELECT token, t AS num, c AS den FROM cnt CROSS JOIN tot),
       |it0 AS (
       |  SELECT token, ($eSum) AS e,
       |    (num << $MantBits) // (den << ($eSum)) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM nrm),
       |$iters,
       |sup AS (
       |  SELECT token, e * (CAST(1 AS BIGINT) << $FracBits) + frac AS s
       |  FROM it$FracBits),
       |tokt AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
       |  FROM documents WHERE $predTest),
       |j AS (SELECT t.doc_id, s.s FROM tokt t LEFT JOIN sup s USING (token))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(count(*) - count(s) AS BIGINT) AS n_oov,
       |  CAST(COALESCE(sum(s), 0) AS BIGINT) AS surprisal_fp,
       |  CAST(COALESCE(sum(s), 0) AS BIGINT)
       |    // greatest(CAST(count(s) AS BIGINT), 1) AS mean_known_fp
       |FROM j GROUP BY doc_id""".stripMargin
  }

  /** Unigram distribution drift between two corpora as EXACT INTEGER
    * arithmetic — the ingest-audit companion to [[surprisalScore]]: score
    * corpus A's tokens against corpus B's (add-one-smoothed) unigram
    * model. Per token present in A:
    *
    *   `log_ratio_fp = ±log2fp( ca·(totB+V) , (cb+1)·totA )`
    *   `contrib_fp   = ca · log_ratio_fp`
    *
    * so `Σ contrib_fp / (totA · 2^FracBits)` is the add-one-smoothed
    * KL(A ‖ B) in bits — the "did the new drop drift from the reference
    * distribution" number — while the per-token rows rank WHICH tokens
    * drive the drift. Signs are explicit (fixed-point log2 is computed on
    * the larger/smaller ordering, then negated when the ratio < 1); when
    * the integer ratio exceeds the log mantissa bound both operands are
    * floor-shifted together (`bin`-length rescale — identical semantics
    * in both engines), a < 2^-FracBits relative perturbation.
    *
    * Scale shape: two [[buildVocab]]-shaped map-side-combined token aggs
    * (vocab-bounded shuffles), one vocab-sized full-outer join, and
    * corpus totals as a 1-row aggregate broadcast-cross-joined back over
    * the vocab relation — no single-partition stage anywhere. The token
    * streams never shuffle.
    *
    * PRECONDITION (mirrors [[surprisalScore]]'s TOTAL < 2^33 note): the
    * products `ca·(totB+V)` and `(cb+1)·totA` must fit int64 — the
    * `bin`-length rescale above runs AFTER the multiply, so it cannot
    * rescue an overflowed product. Safe whenever both corpus token totals
    * are < 2^31 (~2.1e9 tokens/side); beyond that Spark (non-ANSI) would
    * silently wrap where DuckDB errors, so the multiplies below are
    * guarded with an exact `d <= MaxValue div e` check that raises a
    * named error instead. Pre-shard bigger corpora and combine the
    * per-shard drift rows [[graft.sketch.QuantileSketch.merge]]-style,
    * or pre-scale counts.
    */
  def unigramDrift(dfA: DataFrame, dfB: DataFrame,
      textCol: String,
      precomputedCounts: Option[DataFrame] = None): DataFrame = {
    // positive-long `a * b` that raises a named error instead of silently
    // wrapping int64 (Spark non-ANSI) — see the precondition above; both
    // operands are ≥ 1 here, so `div` never sees a zero divisor
    def checkedMul(a: String, b: String, what: String) =
      checkedMulExpr(a, b, "unigramDrift", what)
    // the counts relation is referenced twice (totals + per-token rows);
    // an unstaged fallback build is persisted so the totals branch reads
    // the cache instead of re-running both corpus token scans (the
    // bigramSurprisal in-query-model pattern). Staged callers
    // (driftCountsDim) pass parquet-backed counts, which are not
    // re-cached.
    val joined = precomputedCounts
      .getOrElse(graft.Persisted.track(unigramDriftCounts(dfA, dfB, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    // corpus totals as a 1-row aggregate broadcast back over the vocab
    // relation — NOT a partitionless window, which would funnel the whole
    // vocabulary through one partition at 100x vocab.
    val totals = joined.agg(
      sum(col("_ca")).as("_tot_a"),
      sum(col("_cb")).as("_tot_b"),
      count(lit(1)).as("_v"))
    val prep = joined
      .crossJoin(broadcast(totals))
      .filter(col("_ca") > 0)
      // overflow-guarded multiply: the guard lives INSIDE the computed
      // column (a standalone guard column would be pruned away unused).
      // `a <= MaxValue div b` is exact for positive ints; vocab-bounded
      // relation, so the extra div+compare per row is noise
      .withColumn("_num0", checkedMul("_ca", "_tot_b + _v", "ca*(totB+V)"))
      .withColumn("_den0", checkedMul("_cb + 1", "_tot_a", "(cb+1)*totA"))
      .withColumn("_pos", col("_num0") >= col("_den0"))
      .withColumn("_big", when(col("_pos"), col("_num0")).otherwise(col("_den0")))
      .withColumn("_small", when(col("_pos"), col("_den0")).otherwise(col("_num0")))
      .withColumn("_sh", greatest(lit(0), length(bin(col("_big"))) - lit(33)))
      .withColumn("_num", expr("shiftright(_big, CAST(_sh AS INT))"))
      .withColumn("_den",
        greatest(expr("shiftright(_small, CAST(_sh AS INT))"), lit(1L)))
    log2FixedCols(prep)
      .select(col("token"), col("_ca").as("cnt_a"), col("_cb").as("cnt_b"),
        when(col("_pos"), col("_idf_fp")).otherwise(-col("_idf_fp"))
          .as("log_ratio_fp"))
      .withColumn("contrib_fp", col("cnt_a") * col("log_ratio_fp"))
  }

  /** The corpus-touching half of [[unigramDrift]]: both token-count aggs
    * full-outer-joined into one `(token, _ca, _cb)` relation — the
    * stageable model artifact (the `surprisalModel` pattern); everything
    * after it is vocab-bounded.
    */
  def unigramDriftCounts(dfA: DataFrame, dfB: DataFrame,
      textCol: String): DataFrame = {
    def counts(df: DataFrame, as: String) =
      df.select(explode(TextFunctions.tokens(col(textCol))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(as))
    counts(dfA, "_ca0").join(counts(dfB, "_cb0"),
        Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("_ca0"), lit(0L)).as("_ca"),
        coalesce(col("_cb0"), lit(0L)).as("_cb"))
  }

  /** DuckDB twin of [[unigramDrift]] over `documents` split by the given
    * predicates (A = `predA`, B = `predB`): identical integer op
    * sequence including the `bin`-length rescale and sign handling.
    */
  def unigramDriftSql(predA: String, predB: String): String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT token, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH ta AS MATERIALIZED (
       |  SELECT unnest(string_split(trim(text), ' ')) AS token
       |  FROM documents WHERE $predA),
       |tb AS MATERIALIZED (
       |  SELECT unnest(string_split(trim(text), ' ')) AS token
       |  FROM documents WHERE $predB),
       |ca AS (SELECT token, CAST(count(*) AS BIGINT) AS cca FROM ta GROUP BY token),
       |cb AS (SELECT token, CAST(count(*) AS BIGINT) AS ccb FROM tb GROUP BY token),
       |j AS (SELECT COALESCE(ca.token, cb.token) AS token,
       |        COALESCE(cca, 0) AS cca, COALESCE(ccb, 0) AS ccb
       |      FROM ca FULL OUTER JOIN cb USING (token)),
       |st AS (SELECT token, cca, ccb,
       |        sum(cca) OVER () AS tot_a, sum(ccb) OVER () AS tot_b,
       |        count(*) OVER () AS v
       |      FROM j),
       |sg AS (SELECT token, cca, ccb,
       |        cca * (tot_b + v) AS num0, (ccb + 1) * tot_a AS den0
       |      FROM st WHERE cca > 0),
       |rs AS (SELECT token, cca, ccb, num0 >= den0 AS pos,
       |        CASE WHEN num0 >= den0 THEN num0 ELSE den0 END AS big,
       |        CASE WHEN num0 >= den0 THEN den0 ELSE num0 END AS small
       |      FROM sg),
       |nrm AS (SELECT token, cca, ccb, pos,
       |        big >> greatest(0, length(bin(big)) - 33) AS num,
       |        greatest(small >> greatest(0, length(bin(big)) - 33), 1) AS den
       |      FROM rs),
       |it0 AS (
       |  SELECT token, ($eSum) AS e,
       |    (num << $MantBits) // (den << ($eSum)) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM nrm),
       |$iters,
       |sup AS (
       |  SELECT token, e * (CAST(1 AS BIGINT) << $FracBits) + frac AS s
       |  FROM it$FracBits)
       |SELECT r.token, r.cca AS cnt_a, r.ccb AS cnt_b,
       |  CAST(CASE WHEN r.pos THEN s ELSE -s END AS BIGINT) AS log_ratio_fp,
       |  CAST(r.cca * (CASE WHEN r.pos THEN s ELSE -s END) AS BIGINT) AS contrib_fp
       |FROM sup JOIN rs r USING (token)""".stripMargin
  }

  /** DuckDB twin of [[surprisalScore]] over `documents`: the identical
    * integer op sequence — indicator-sum exponent, [[FracBits]] unrolled
    * square-and-truncate rounds, integer sums and floor division — keyed
    * by `token` instead of [[bm25SearchFixedSql]]'s query terms.
    */
  def surprisalSql: String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT token, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${surprisalSqlCtes(eSum, iters)}
       |$surprisalSqlFinal""".stripMargin
  }

  /** The CTE chain of [[surprisalSql]] (no leading WITH), reusable by
    * composing oracles ([[surprisalBucketsSql]]).
    */
  private def surprisalSqlCtes(eSum: String, iters: String): String =
    s"""tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
       |  FROM documents),
       |cnt AS MATERIALIZED (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cnt),
       |nrm AS (SELECT token, t AS num, c AS den FROM cnt CROSS JOIN tot),
       |it0 AS (
       |  SELECT token, ($eSum) AS e,
       |    (num << $MantBits) // (den << ($eSum)) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM nrm),
       |$iters,
       |sup AS (
       |  SELECT token, e * (CAST(1 AS BIGINT) << $FracBits) + frac AS s
       |  FROM it$FracBits)""".stripMargin

  private def surprisalSqlFinal: String =
    s"""SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(s) AS BIGINT) AS surprisal_fp,
       |  CAST(sum(s) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_surprisal_fp
       |FROM tok t JOIN sup USING (token)
       |GROUP BY t.doc_id""".stripMargin

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020: split the
    * crawl into head/middle/tail thirds by LM quality and train on the
    * head): label every document by its [[surprisalScore]] mean against
    * the corpus tercile thresholds (percentile ranks 33/66 — with the
    * integer-CEILING rank target, 67 would overshoot into the top third
    * on small corpora), where the thresholds come from the
    * [[graft.sketch.QuantileSketch]] fixed grid — a corpus-size-
    * independent summary, matching CCNet's own use of approximate
    * percentiles. head = lowest mean surprisal (most LM-predictable).
    *
    * Every step is integer arithmetic (fixed-point surprisal, integer
    * grid cells, integer-ceiling rank targets, cell-edge thresholds,
    * integer compares), so the bucket assignment — the thing a curation
    * pipeline acts on — replays bit-for-bit in the oracle. Scale shape:
    * the scored relation is [[surprisalScore]]'s (vocab-bounded model +
    * broadcast-scored scan); the sketch shuffle is cell-bounded; the
    * thresholds cross-join back as a broadcast 1-row relation.
    */
  def surprisalBuckets(df: DataFrame, idCol: String, textCol: String,
      binWidth: Long = 256L,
      maxValue: Long = (1L << 24) - 1,
      precomputedModel: Option[DataFrame] = None): DataFrame = {
    val scored = surprisalScore(df, idCol, textCol, precomputedModel)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Persisted.track(scored)
    val qs = graft.sketch.QuantileSketch.valueQuantiles(
      scored, "mean_surprisal_fp", Seq(33, 66), binWidth, maxValue)
    val thr = qs.agg(
      max(when(col("pct") === 33, col("est_hi"))).as("_t33"),
      max(when(col("pct") === 66, col("est_hi"))).as("_t67"))
    scored.crossJoin(broadcast(thr))
      .select(col(idCol), col("n_tokens"), col("mean_surprisal_fp"),
        when(col("mean_surprisal_fp") <= col("_t33"), "head")
          .when(col("mean_surprisal_fp") <= col("_t67"), "middle")
          .otherwise("tail").as("ppl_bucket"))
  }

  /** DuckDB twin of [[surprisalBuckets]] over `documents`: the
    * [[surprisalSql]] CTE chain, the identical integer grid/cumulative/
    * rank-target/cell-edge sequence, the identical label compares.
    */
  def surprisalBucketsSql(binWidth: Long = 256L,
      maxValue: Long = (1L << 24) - 1): String = {
    s"""WITH ${surprisalBucketsSqlCtes(binWidth, maxValue)}
       |SELECT sc.doc_id, sc.n_tokens, sc.mean_surprisal_fp,
       |  CASE WHEN sc.mean_surprisal_fp <= thr.t33 THEN 'head'
       |       WHEN sc.mean_surprisal_fp <= thr.t67 THEN 'middle'
       |       ELSE 'tail' END AS ppl_bucket
       |FROM sc CROSS JOIN thr""".stripMargin
  }

  /** The CTE chain of [[surprisalBucketsSql]] (tok … sup, sc, grid,
    * thresholds; no leading WITH) — composable into larger oracle
    * pipelines that act on the `sc`-vs-`thr` comparison.
    */
  private[graft] def surprisalBucketsSqlCtes(binWidth: Long,
      maxValue: Long): String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT token, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""${surprisalSqlCtes(eSum, iters)},
       |sc AS MATERIALIZED (
       |$surprisalSqlFinal),
       |cells AS (
       |  SELECT least(greatest(mean_surprisal_fp, 0), $maxValue) // $binWidth AS cell,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM sc GROUP BY 1),
       |cum AS (
       |  SELECT cell, CAST(sum(cnt) OVER (ORDER BY cell) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS n
       |  FROM cells),
       |qr AS (
       |  SELECT pct, min(cell) AS qcell
       |  FROM (SELECT * FROM (VALUES (CAST(33 AS BIGINT)), (CAST(66 AS BIGINT))) v(pct)) q
       |  JOIN cum ON cum >= (n * pct + 99) // 100
       |  GROUP BY pct),
       |thr AS (
       |  SELECT
       |    max(CASE WHEN pct = 33
       |      THEN least((qcell + 1) * $binWidth - 1, $maxValue) END) AS t33,
       |    max(CASE WHEN pct = 66
       |      THEN least((qcell + 1) * $binWidth - 1, $maxValue) END) AS t67
       |  FROM qr)""".stripMargin
  }

  /** DuckDB twin of [[searchByTokens]] over `documents`. */
  def searchByTokensSql(query: Seq[String], k: Int): String = {
    val inList = query.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
       |  FROM documents)
       |SELECT doc_id, count(DISTINCT token) AS distinct_terms,
       |  count(*) AS matches
       |FROM tok WHERE token IN ($inList)
       |GROUP BY doc_id
       |ORDER BY distinct_terms DESC, matches DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Per-document bigram LM surprisal with STUPID BACKOFF (Brants et al.
    * 2007, "Large Language Models in Machine Translation" — the
    * web-scale LM smoothing: no discounting, a fixed backoff factor
    * α = 0.4) as EXACT INTEGER arithmetic — the perplexity upgrade over
    * [[surprisalScore]]'s unigram signal. Per token position:
    *
    *  - position 1 (no context): unigram surprisal
    *    `log2fp(TOTAL, c(t1))`
    *  - position i ≥ 2, bigram (w1, w2) IN the pruned model:
    *    `−log2 S = log2fp(c(w1), c12(w1,w2))`
    *  - otherwise (unseen OR pruned — stupid backoff treats both alike):
    *    `−log2(α·c(w2)/TOTAL) = log2fp(5·TOTAL, 2·c(w2))` (α = 2/5)
    *
    * with [[log2Fixed]]'s fixed-point log2, so every contribution is an
    * integer and the DuckDB twin ([[bigramSurprisalSql]]) hash-matches
    * bit-for-bit. Output per doc matches [[surprisalScore]]'s shape:
    * `(id, n_tokens, surprisal_fp, mean_surprisal_fp)`.
    *
    * Scale shape: the bigram model is PRUNED to the `topN`
    * highest-count bigrams (count desc, w1, w2 — a deterministic total
    * order, executed as TakeOrdered, never a single-partition sort), the
    * standard count-cutoff pruning a web-scale stupid-backoff LM ships
    * with — so both model tables (vocab + topN bigrams) broadcast, and
    * the token/bigram streams themselves never shuffle: the only wide
    * ops are the two count aggs (map-side combined, bounded by vocab /
    * distinct-bigram cardinality). Bigram pairs are generated in the
    * scan projection (`transform` over the token array), not via a
    * per-doc window — no ordering shuffle. Magnitude precondition
    * (mirrors [[surprisalScore]]): `5·TOTAL < 2^33` — shard larger
    * corpora and merge counts, or floor-rescale (TOTAL, counts) by a
    * common factor first.
    */
  def bigramSurprisal(df0: DataFrame, idCol: String, textCol: String,
      topN: Int = 256,
      precomputedModel: Option[DataFrame] = None): DataFrame = {
    val df = graft.ops.Parallelism.spreadIfNarrow(df0)
    val tokArr = df.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Persisted.track(tokArr)
    // bigram stream at scan speed; size >= 2 guard keeps sequence()
    // ascending (sequence(2, 1) runs DESCENDING — the BPE length-1 trap)
    val bigrams = tokArr.filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(_toks)), " +
          "i -> struct(_toks[i-2] AS w1, _toks[i-1] AS w2))")).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("_w1"), col("_bg.w2").as("_w2"))
    // the staged-model hook (the surprisalModel pattern): train once,
    // score many — the fixed-point model rows are integers + strings, so
    // a parquet round-trip is hash-identical to training in-query.
    // A passed model is VALIDATED: exact schema, and if it carries
    // bigramSurprisalModel's topN stamp it must match this call's topN
    // (a model pruned at a different cutoff scores silently differently)
    precomputedModel.foreach { m =>
      require(m.columns.toSeq == Seq("_kind", "_k1", "_k2", "_idf_fp"),
        s"precomputedModel must be the bigramSurprisalModel relation " +
          s"(_kind, _k1, _k2, _idf_fp); got (${m.columns.mkString(", ")})")
      val md = m.schema("_idf_fp").metadata
      if (md.contains("graft.bigramLm.topN"))
        require(md.getLong("graft.bigramLm.topN") == topN.toLong,
          s"precomputedModel was pruned at topN=" +
            s"${md.getLong("graft.bigramLm.topN")}, this call asked for $topN")
    }
    val scored = precomputedModel.getOrElse {
      val m = bigramSurprisalModelFrom(tokArr,
        bigrams.select(col("_w1"), col("_w2")), topN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.Persisted.track(m)
      m
    }
    val uniU = scored.filter(col("_kind") === "u")
      .select(col("_k1").as("token"), col("_idf_fp").as("_u_fp"))
    val uniBo = scored.filter(col("_kind") === "b")
      .select(col("_k1").as("_w2"), col("_idf_fp").as("_bo_fp"))
    val bgModel = scored.filter(col("_kind") === "g")
      .select(col("_k1").as("_w1"), col("_k2").as("_w2"),
        col("_idf_fp").as("_bg_fp"))
    val firstContrib = tokArr
      .select(col(idCol), col("_toks").getItem(0).as("token"))
      .join(broadcast(uniU), Seq("token"))
      .select(col(idCol), col("_u_fp").as("_contrib"))
    val bigramContrib = bigrams
      .join(broadcast(uniBo), Seq("_w2"))
      .join(broadcast(bgModel), Seq("_w1", "_w2"), "left")
      .select(col(idCol),
        coalesce(col("_bg_fp"), col("_bo_fp")).as("_contrib"))
    firstContrib.unionByName(bigramContrib)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_contrib")).as("surprisal_fp"))
      .withColumn("mean_surprisal_fp", expr("surprisal_fp DIV n_tokens"))
  }

  /** [[bigramSurprisal]]'s trained model as a standalone artifact —
    * `(_kind, _k1, _k2, _idf_fp)` over the three ratio families — for
    * staging behind the `precomputedModel` hook (train once, score
    * many; the corpus-touching half of the op, exactly like
    * [[surprisalModel]] for the unigram signal).
    */
  def bigramSurprisalModel(df0: DataFrame, textCol: String,
      topN: Int = 256): DataFrame = {
    val df = graft.ops.Parallelism.spreadIfNarrow(df0)
    val tokArr = df.select(TextFunctions.tokens(col(textCol)).as("_toks"))
    val bigrams = tokArr.filter(size(col("_toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(_toks)), " +
          "i -> struct(_toks[i-2] AS w1, _toks[i-1] AS w2))")).as("_bg"))
      .select(col("_bg.w1").as("_w1"), col("_bg.w2").as("_w2"))
    // stamp the prune cutoff as column metadata (parquet-durable) so
    // bigramSurprisal can require-check a staged artifact's compatibility
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.bigramLm.topN", topN.toLong).build()
    bigramSurprisalModelFrom(tokArr, bigrams, topN)
      .select(col("_kind"), col("_k1"), col("_k2"),
        col("_idf_fp").as("_idf_fp", meta))
  }

  /** The model block shared by [[bigramSurprisalModel]] and the
    * in-query fallback: token counts, the deterministic top-`topN`
    * bigram prune, and the three ratio families through ONE merged
    * log2 chain (three separate chains tripled the unrolled
    * FracBits-round plan and its codegen cost — merged, the model
    * build went 33.1 -> ~14 s at 104k docs; plan cost, not data cost).
    */
  private def bigramSurprisalModelFrom(tokArr: DataFrame,
      bigrams: DataFrame, topN: Int): DataFrame = {
    val cnt = tokArr.select(explode(col("_toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("_c"))
    val tot = cnt.agg(sum(col("_c")).as("_tot"))
    val bgTop = bigrams.groupBy(col("_w1"), col("_w2"))
      .agg(count(lit(1)).as("_c12"))
      .orderBy(col("_c12").desc, col("_w1"), col("_w2"))
      .limit(topN)
    val base = cnt.crossJoin(broadcast(tot))
    val ratios = base
      .select(lit("u").as("_kind"), col("token").as("_k1"), lit("").as("_k2"),
        col("_tot").as("_num"), col("_c").as("_den"))
      .unionByName(base
        .select(lit("b").as("_kind"), col("token").as("_k1"), lit("").as("_k2"),
          (lit(5L) * col("_tot")).as("_num"), (lit(2L) * col("_c")).as("_den")))
      .unionByName(bgTop
        .join(broadcast(cnt.select(col("token").as("_w1"), col("_c").as("_c1"))),
          Seq("_w1"))
        .select(lit("g").as("_kind"), col("_w1").as("_k1"), col("_w2").as("_k2"),
          col("_c1").as("_num"), col("_c12").as("_den")))
    log2FixedCols(ratios)
      .select(col("_kind"), col("_k1"), col("_k2"), col("_idf_fp"))
  }

  /** DuckDB twin of [[bigramSurprisal]] over `documents`: the three
    * ratio families (unigram, backoff, kept-bigram) union into ONE
    * uniform `(kind, k1, k2, num, den)` relation so a single unrolled
    * log2 chain scores them all with the identical integer op sequence;
    * the pruning cut is the same deterministic
    * `ORDER BY count DESC, w1, w2 LIMIT topN`.
    */
  def bigramSurprisalSql(topN: Int = 256): String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT kind, k1, k2, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, string_split(trim(text), ' ') AS tk,
       |    len(string_split(trim(text), ' ')) AS n
       |  FROM documents),
       |cnt AS MATERIALIZED (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(tk) AS token FROM t) GROUP BY token),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM cnt),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2
       |  FROM (SELECT doc_id, tk, unnest(range(n - 1)) AS i
       |        FROM t WHERE n >= 2)),
       |bgtop AS MATERIALIZED (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM bg GROUP BY w1, w2
       |  ORDER BY c12 DESC, w1, w2 LIMIT $topN),
       |nrm AS MATERIALIZED (
       |  SELECT 'u' AS kind, token AS k1, '' AS k2, tt AS num, c AS den
       |  FROM cnt CROSS JOIN tot
       |  UNION ALL
       |  SELECT 'b' AS kind, token AS k1, '' AS k2,
       |    5 * tt AS num, 2 * c AS den
       |  FROM cnt CROSS JOIN tot
       |  UNION ALL
       |  SELECT 'g' AS kind, g.w1 AS k1, g.w2 AS k2, c.c AS num,
       |    g.c12 AS den
       |  FROM bgtop g JOIN cnt c ON c.token = g.w1),
       |it0 AS (
       |  SELECT kind, k1, k2, ($eSum) AS e,
       |    (num << $MantBits) // (den << ($eSum)) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM nrm),
       |$iters,
       |sup AS MATERIALIZED (
       |  SELECT kind, k1, k2,
       |    e * (CAST(1 AS BIGINT) << $FracBits) + frac AS s
       |  FROM it$FracBits),
       |contrib AS (
       |  SELECT f.doc_id, s.s
       |  FROM (SELECT doc_id, tk[1] AS k1 FROM t) f
       |  JOIN sup s ON s.kind = 'u' AND s.k1 = f.k1
       |  UNION ALL
       |  SELECT b.doc_id, COALESCE(gs.s, bs.s) AS s
       |  FROM bg b
       |  LEFT JOIN sup gs
       |    ON gs.kind = 'g' AND gs.k1 = b.w1 AND gs.k2 = b.w2
       |  JOIN sup bs ON bs.kind = 'b' AND bs.k1 = b.w2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(s) AS BIGINT) AS surprisal_fp,
       |  CAST(sum(s) AS BIGINT) // CAST(count(*) AS BIGINT)
       |    AS mean_surprisal_fp
       |FROM contrib GROUP BY doc_id""".stripMargin
  }

  /** Mantissa width for [[knSurprisal]]'s log chain: 20 bits admit the
    * constant `2^40` numerator (`num < 2^43`) that the Q40 probability
    * fixed point needs; precision `~FracBits·2^-20` is ample for a
    * quality signal. */
  private[graft] val KnMantBits = 20

  /** Q40 probability scale for [[knSurprisal]]: probabilities are held
    * as `floor(P · 2^40)`, clamped up to 1 (a `2^-40` probability floor
    * — the fixed-point analogue of float underflow, reached only when
    * `c(v)·Ntypes > 3·2^38`). */
  private[graft] val KnProbScale = 1L << 40

  /** Per-document INTERPOLATED KNESER-NEY bigram surprisal (Kneser &
    * Ney 1995; Chen & Goodman 1999's interpolated form) as EXACT INTEGER
    * arithmetic — the principled-smoothing upgrade over
    * [[bigramSurprisal]]'s stupid backoff. With discount `D = 3/4`
    * (exact rational, multiplied through by 4):
    *
    * {{{
    * P(w|v) = max(c(vw) − D, 0)/c(v) + D·N1+(v·)/c(v) · N1+(·w)/Ntypes
    *        = [max(4·c(vw) − 3, 0)·Ntypes + 3·N1+(v·)·N1+(·w)]
    *          / [4·c(v)·Ntypes]
    * }}}
    *
    * where `c(v) = Σ_w c(vw)` is the bigram-context count, `N1+(v·)` /
    * `N1+(·w)` are distinct continuation/context type counts, and
    * `Ntypes` the total distinct-bigram count (`Σ_w N1+(·w) = Ntypes`,
    * which is what makes the continuation distribution — and hence every
    * P(w|v) — a true probability). Scoring the corpus against its own
    * model means every scored bigram is in-model (`c(vw) ≥ 1`), so the
    * unseen-context fallback chain never triggers; position 1 scores
    * against the MLE unigram (the [[bigramSurprisal]] convention).
    *
    * Exactness across engines: each family's probability is ONE exact
    * integer rational, floored onto the Q40 grid `pfp =
    * max(1, (pnum · 2^40) div pden)` — the multiply runs in
    * DECIMAL(34,0) on the Spark side and HUGEINT in DuckDB, both exact —
    * and surprisal is `log2fp(2^40, pfp)` on a [[KnMantBits]]-bit
    * mantissa chain, integer ops only, so [[knSurprisalSql]]
    * hash-matches bit-for-bit.
    *
    * Scale shape: the model relations (unigram counts, bigram-type
    * counts, context/continuation stats) are all vocab- or
    * bigram-type-bounded aggs with map-side combine; the token and
    * bigram streams are generated in the scan projection (no per-doc
    * window). The scoring join keys the corpus bigram stream against the
    * bigram-type model — a content-keyed shuffle, the honest shape when
    * the model is too large to broadcast (unlike [[bigramSurprisal]]'s
    * pruned top-N, KN needs the full type table for its continuation
    * counts). Magnitude precondition: `c(v)·Ntypes < 2^60` (then `pden =
    * 4·c(v)·Ntypes < 2^63`; the Q40 multiply itself is 128-bit-safe to
    * `pnum < 2^63`). Larger corpora shard and floor-rescale counts by a
    * common factor first.
    */
  def knSurprisal(df0: DataFrame, idCol: String, textCol: String,
      precomputedModel: Option[DataFrame] = None): DataFrame = {
    val df = graft.ops.Parallelism.spreadIfNarrow(df0)
    val tokArr = df.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Persisted.track(tokArr)
    // bigram stream at scan speed (size >= 2 keeps sequence() ascending)
    val bigrams = tokArr.filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(2, size(_toks)), " +
          "i -> struct(_toks[i-2] AS w1, _toks[i-1] AS w2))")).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("_w1"), col("_bg.w2").as("_w2"))
    // the staged-model hook (the bigramSurprisal pattern): train once,
    // score many — model rows are strings + one Q40 long, lossless
    // through parquet. A passed model is schema-validated (KN has no
    // prune parameter to cross-check)
    precomputedModel.foreach { m =>
      require(m.columns.toSeq == Seq("_kind", "_k1", "_k2", "_s"),
        s"precomputedModel must be the knSurprisalModel relation " +
          s"(_kind, _k1, _k2, _s); got (${m.columns.mkString(", ")})")
    }
    val scored = precomputedModel.getOrElse {
      val m = knSurprisalModelFrom(tokArr,
        bigrams.select(col("_w1"), col("_w2")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.Persisted.track(m)
      m
    }
    val uni = scored.filter(col("_kind") === "u")
      .select(col("_k1").as("token"), col("_s"))
    val knModel = scored.filter(col("_kind") === "k")
      .select(col("_k1").as("_w1"), col("_k2").as("_w2"), col("_s"))
    val firstContrib = tokArr
      .select(col(idCol), col("_toks").getItem(0).as("token"))
      .join(broadcast(uni), Seq("token"))
      .select(col(idCol), col("_s").as("_contrib"))
    val bigramContrib = bigrams
      .join(knModel, Seq("_w1", "_w2"))
      .select(col(idCol), col("_s").as("_contrib"))
    firstContrib.unionByName(bigramContrib)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("_contrib")).as("surprisal_fp"))
      .withColumn("mean_surprisal_fp", expr("surprisal_fp DIV n_tokens"))
  }

  /** [[knSurprisal]]'s trained model as a standalone artifact —
    * `(_kind, _k1, _k2, _s)` over the unigram + KN-bigram families —
    * for staging behind the `precomputedModel` hook (exactly like
    * [[bigramSurprisalModel]]).
    */
  def knSurprisalModel(df0: DataFrame, textCol: String): DataFrame = {
    val df = graft.ops.Parallelism.spreadIfNarrow(df0)
    val tokArr = df.select(TextFunctions.tokens(col(textCol)).as("_toks"))
    val bigrams = tokArr.filter(size(col("_toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(_toks)), " +
          "i -> struct(_toks[i-2] AS w1, _toks[i-1] AS w2))")).as("_bg"))
      .select(col("_bg.w1").as("_w1"), col("_bg.w2").as("_w2"))
    knSurprisalModelFrom(tokArr, bigrams)
  }

  /** The model block shared by [[knSurprisalModel]] and the in-query
    * fallback: token counts, the bigram count relation and its
    * continuation statistics, then the interpolated-KN probability as
    * one uniform `(kind, k1, k2, pnum, pden)` relation through ONE
    * [[KnScoreExpr]] chain (the bigramSurprisal merged-chain lesson:
    * per-family chains triple the unrolled plan for nothing; the
    * unrolled DECIMAL + 20-projection Column chain costs ~66 µs/row —
    * measured 162.8 s at 1.06M docs — where the codegen expression runs
    * the identical op sequence at a fraction of that).
    */
  private def knSurprisalModelFrom(tokArr: DataFrame,
      bigrams: DataFrame): DataFrame = {
    val cnt = tokArr.select(explode(col("_toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("_c"))
    val tot = cnt.agg(sum(col("_c")).as("_tot"))
    val bgm = bigrams.groupBy(col("_w1"), col("_w2"))
      .agg(count(lit(1)).as("_c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Persisted.track(bgm)
    val vst = bgm.groupBy(col("_w1"))
      .agg(sum(col("_c12")).as("_cv"), count(lit(1)).as("_n1v"))
    val wst = bgm.groupBy(col("_w2")).agg(count(lit(1)).as("_n1w"))
    val nt = bgm.agg(count(lit(1)).as("_nt"))
    val fam = cnt.crossJoin(broadcast(tot))
      .select(lit("u").as("_kind"), col("token").as("_k1"), lit("").as("_k2"),
        col("_c").as("_pnum"), col("_tot").as("_pden"))
      .unionByName(bgm
        .join(vst, Seq("_w1")).join(wst, Seq("_w2"))
        .crossJoin(broadcast(nt))
        .select(lit("k").as("_kind"), col("_w1").as("_k1"),
          col("_w2").as("_k2"),
          (greatest(lit(4L) * col("_c12") - lit(3L), lit(0L)) * col("_nt")
            + lit(3L) * col("_n1v") * col("_n1w")).as("_pnum"),
          (lit(4L) * col("_cv") * col("_nt")).as("_pden")))
    fam.select(col("_kind"), col("_k1"), col("_k2"),
      KnScoreExpr.knScoreCol(col("_pnum"), col("_pden")).as("_s"))
  }

  /** DuckDB twin of [[knSurprisal]] over `documents`: identical model
    * counts, the identical Q40 floor (HUGEINT multiply, `//` on positive
    * operands = Spark's `DIV`), and the identical [[KnMantBits]]-bit
    * square-and-truncate chain. */
  def knSurprisalSql: String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN ($KnProbScale >> $kk) >= pfp THEN 1 ELSE 0 END")
      .mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT kind, k1, k2, e,
         |    CASE WHEN ((m * m) >> $KnMantBits) >= (CAST(2 AS BIGINT) << $KnMantBits)
         |      THEN ((m * m) >> $KnMantBits) >> 1 ELSE (m * m) >> $KnMantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $KnMantBits) >= (CAST(2 AS BIGINT) << $KnMantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, string_split(trim(text), ' ') AS tk,
       |    len(string_split(trim(text), ' ')) AS n
       |  FROM documents),
       |cnt AS MATERIALIZED (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(tk) AS token FROM t) GROUP BY token),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM cnt),
       |bg AS MATERIALIZED (
       |  SELECT doc_id, tk[i + 1] AS w1, tk[i + 2] AS w2
       |  FROM (SELECT doc_id, tk, unnest(range(n - 1)) AS i
       |        FROM t WHERE n >= 2)),
       |bgm AS MATERIALIZED (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM bg GROUP BY w1, w2),
       |vst AS MATERIALIZED (
       |  SELECT w1, CAST(sum(c12) AS BIGINT) AS cv,
       |    CAST(count(*) AS BIGINT) AS n1v
       |  FROM bgm GROUP BY w1),
       |wst AS MATERIALIZED (
       |  SELECT w2, CAST(count(*) AS BIGINT) AS n1w
       |  FROM bgm GROUP BY w2),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS ntypes FROM bgm),
       |fam AS MATERIALIZED (
       |  SELECT 'u' AS kind, token AS k1, '' AS k2,
       |    c AS pnum, tt AS pden
       |  FROM cnt CROSS JOIN tot
       |  UNION ALL
       |  SELECT 'k' AS kind, g.w1 AS k1, g.w2 AS k2,
       |    greatest(4 * g.c12 - 3, CAST(0 AS BIGINT)) * n.ntypes
       |      + 3 * v.n1v * w.n1w AS pnum,
       |    4 * v.cv * n.ntypes AS pden
       |  FROM bgm g
       |  JOIN vst v ON v.w1 = g.w1
       |  JOIN wst w ON w.w2 = g.w2
       |  CROSS JOIN nt n),
       |pf AS MATERIALIZED (
       |  SELECT kind, k1, k2,
       |    greatest(CAST(1 AS BIGINT),
       |      CAST(CAST(pnum AS HUGEINT) * $KnProbScale // pden AS BIGINT))
       |      AS pfp
       |  FROM fam),
       |it0 AS (
       |  SELECT kind, k1, k2, ($eSum) AS e,
       |    (CAST($KnProbScale AS BIGINT) << $KnMantBits)
       |      // (pfp << e) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM pf),
       |$iters,
       |sup AS MATERIALIZED (
       |  SELECT kind, k1, k2,
       |    e * (CAST(1 AS BIGINT) << $FracBits) + frac AS s
       |  FROM it$FracBits),
       |contrib AS (
       |  SELECT f.doc_id, s.s
       |  FROM (SELECT doc_id, tk[1] AS k1 FROM t) f
       |  JOIN sup s ON s.kind = 'u' AND s.k1 = f.k1
       |  UNION ALL
       |  SELECT b.doc_id, s.s
       |  FROM bg b
       |  JOIN sup s ON s.kind = 'k' AND s.k1 = b.w1 AND s.k2 = b.w2)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(s) AS BIGINT) AS surprisal_fp,
       |  CAST(sum(s) AS BIGINT) // CAST(count(*) AS BIGINT)
       |    AS mean_surprisal_fp
       |FROM contrib GROUP BY doc_id""".stripMargin
  }

  /** DuckDB twin of [[CharEntropyExpr]] over `documents`: the per-row
    * scalar unrolls relationally — per-(doc, char) counts, ONE
    * [[MantBits]]-bit log chain over the union of the count family and
    * the length family, then `log2fp(n) − (Σ k·s_k) // n`.
    */
  def charEntropySql: String = charEntropySql("TRUE")

  /** [[charEntropySql]] over the subset of `documents` matching `pred`
    * (the streaming gate's staged source excludes the DSIR target
    * domain). */
  def charEntropySql(pred: String): String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= 1 THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT kind, doc_id, ckey, cnt, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH ch AS MATERIALIZED (
       |  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
       |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c
       |        FROM documents WHERE length(text) > 0 AND ($pred))
       |  GROUP BY doc_id, c),
       |nn AS MATERIALIZED (
       |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n FROM ch GROUP BY doc_id),
       |fam AS MATERIALIZED (
       |  SELECT 'c' AS kind, doc_id, c AS ckey, k AS cnt, k AS num FROM ch
       |  UNION ALL
       |  SELECT 'n' AS kind, doc_id, '' AS ckey, CAST(1 AS BIGINT) AS cnt,
       |    n AS num
       |  FROM nn),
       |it0 AS (
       |  SELECT kind, doc_id, ckey, cnt, ($eSum) AS e,
       |    (num << $MantBits) // (CAST(1 AS BIGINT) << e) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM fam),
       |$iters,
       |sup AS MATERIALIZED (
       |  SELECT kind, doc_id, cnt,
       |    e * (CAST(1 AS BIGINT) << $FracBits) + frac AS s
       |  FROM it$FracBits),
       |agg AS (
       |  SELECT doc_id, CAST(sum(cnt * s) AS BIGINT) AS acc
       |  FROM sup WHERE kind = 'c' GROUP BY doc_id)
       |SELECT a.doc_id, nn.n AS n_chars,
       |  sn.s - (a.acc // nn.n) AS entropy_fp
       |FROM agg a
       |JOIN nn ON nn.doc_id = a.doc_id
       |JOIN sup sn ON sn.kind = 'n' AND sn.doc_id = a.doc_id""".stripMargin
  }

  /** Canonical greedy application of ONE BPE merge (`a`,`b`) to a symbol
    * array: scan left to right, replacing each non-overlapping adjacent
    * (a, b) with the concatenation. A left fold is exactly this scan —
    * a freshly merged element equals `a+b`, never `a` (b is non-empty),
    * so it can't chain into a second overlapping merge, which is
    * precisely BPE's pair-up-disjoint rule ("aaaa" → ["aa","aa"],
    * "aaa" → ["aa","a"]). Runs as a per-row expression on the word-TYPE
    * relation — no shuffle, corpus-size-independent.
    */
  private[graft] def mergeApply(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 && element_at(acc, lit(-1)) === lit(a)
          && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Word-type relation after `rounds` of BPE training, plus the learned
    * merges. The corpus is touched ONCE (the token-frequency groupBy —
    * the same map-side-combined shape as [[buildVocab]]); every training
    * round after that runs on the word-TYPE table, whose size is bounded
    * by the vocabulary, not the corpus — at 100 TB the types relation is
    * still millions of rows, so per-round cost (one pair-count shuffle of
    * ≤ types × word-length rows + a 1-row argmax collect, the k-means
    * training idiom) is corpus-size-independent. Pair argmax tie-breaks
    * (count desc, left asc, right asc) so training is reproducible across
    * runs and engines. `minCount` drops hapax word types from TRAINING
    * (standard practice at web scale); the gated queries use 1 so the
    * oracle needs no threshold CTE.
    *
    * Each round `localCheckpoint`s the types relation: plan LINEAGE, not
    * data, is the driver-side failure mode for iteration (the
    * label-propagation idiom) — chaining tens of merge-apply projections
    * grows the plan-description strings Spark renders per job until the
    * driver OOMs building them (measured at ~48 chained rounds). On a
    * cluster with executor churn, swap for reliable `checkpoint()`.
    */
  def bpeWordTypes(df: DataFrame, textCol: String, rounds: Int,
      minCount: Long = 1L): (DataFrame, Seq[(String, String, Long)]) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var cur = graft.Persisted.track(df
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
      .filter(col("wcount") >= minCount)
      .withColumn("syms", split(col("word"), ""))
      .persist())
    val merges = Seq.newBuilder[(String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < rounds && !exhausted) {
      // length-1 types carry no pairs; the filter also keeps
      // sequence(1, size-1) ascending (ANSI element_at is strict)
      val best = cur.filter(size(col("syms")) >= 2)
        .select(col("wcount"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wcount")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((a, b, cnt))
        cur = cur.withColumn("syms", mergeApply(col("syms"), a, b))
          .localCheckpoint(true)
        r += 1
      }
    }
    (cur, merges.result())
  }

  /** One round's worth of SIMULTANEOUS merges: a when-chain inside the
    * fold. The pairs are symbol-disjoint by construction — including
    * their MERGED strings (see [[selectDisjointPairs]]): if a kept
    * pair's concatenation could equal another kept pair's symbol, a
    * freshly merged element could immediately match the other pair and
    * merges would chain within one pass. With merged strings excluded
    * from the candidate pool, at most one pair matches any (last, next)
    * position, no fresh element ever re-matches, and chain order is
    * irrelevant — the result equals applying the pairs one at a time in
    * any order ([[graft.VocabularySpec]] exercises the adversarial
    * chaining case directly).
    */
  private[graft] def batchMergeApply(syms: Column,
      pairs: Seq[(String, String)]): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => {
        val fallback = concat(acc, array(x))
        pairs.foldRight(fallback) { case ((a, b), rest) =>
          when(size(acc) > 0 && element_at(acc, lit(-1)) === lit(a)
              && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(rest)
        }
      })

  /** Greedy batch-pair selection from a (a, b, cnt) pair-count relation:
    * up to `batchSize` pairs by (cnt desc, a, b), where a candidate is
    * skipped if its left symbol, right symbol, OR concatenation collides
    * with any already-kept pair's left, right, or merged string. The
    * merged-string exclusions (both directions) are what make
    * [[batchMergeApply]]'s one-pass application chain-free: no fresh
    * merge result can equal another kept pair's symbol, and no kept
    * pair's symbol can equal another's merge result.
    */
  private[graft] def selectDisjointPairs(pairCounts: DataFrame,
      batchSize: Int): Vector[(String, String, Long)] = {
    // POOLED selection: one top-(4*batchSize) collect, then the same
    // greedy collision-excluding scan in driver memory — O(1) Spark jobs
    // per batch round instead of O(batchSize) limit(1) probes (each of
    // which was a full job against the persisted relation with a growing
    // isin filter). Equivalence with the per-pair probe: `used` only
    // grows, the in-driver skip rule is the probe's filter verbatim, and
    // the pool is a (cnt desc, a, b)-ordered prefix of the filtered
    // relation — so the greedy scan picks the same sequence unless the
    // pool runs dry with candidates possibly remaining (pool came back
    // full), in which case one re-probe fetches a fresh excluded pool
    // and the scan continues. Pool exhaustion with a short pool means
    // the filtered relation itself is drained.
    var kept = Vector.empty[(String, String, Long)]
    var used = Set.empty[String]
    var drained = false
    val poolSize = 4 * batchSize
    while (kept.size < batchSize && !drained) {
      val exclude = used.toSeq
      val pool = (if (exclude.isEmpty) pairCounts
        else pairCounts.filter(!col("a").isin(exclude: _*)
          && !col("b").isin(exclude: _*)
          && !concat(col("a"), col("b")).isin(exclude: _*)))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(poolSize).collect()
      var i = 0
      while (i < pool.length && kept.size < batchSize) {
        val (a, b, cnt) =
          (pool(i).getString(0), pool(i).getString(1), pool(i).getLong(2))
        val merged = a + b
        if (!used(a) && !used(b) && !used(merged)) {
          kept :+= ((a, b, cnt))
          used ++= Seq(a, b, merged)
        }
        i += 1
      }
      // a short pool is the whole filtered relation: nothing left to probe
      if (pool.length < poolSize) drained = true
    }
    kept
  }

  /** Batched BPE training — the throughput form for REAL tokenizer runs
    * (thousands of merges): each batch round materializes the pair-count
    * relation ONCE and selects `batchSize` symbol-disjoint pairs from it
    * (greedy by count with the same tie-break; a pair whose left, right,
    * or MERGED symbol collides with an already-kept pair's symbols or
    * merged string is skipped — the symbol overlap because its count is
    * stale the moment the kept pair applies, the merged-string overlap
    * because a fresh merge result equal to another kept pair's symbol
    * would let merges chain inside one pass and make the batch
    * order-dependent). All `batchSize` merges apply in one
    * pass over the types table, so materializations drop from
    * O(merges) to O(merges / batchSize). The merge SEQUENCE can differ
    * from one-at-a-time training (counts refresh per batch, not per
    * merge) — the standard batched-training fidelity trade; with
    * `batchSize = 1` the output equals [[bpeTrain]] exactly
    * (spec-checked). Disjointness keeps the batch order-independent:
    * occurrences of different kept pairs can never overlap or chain.
    */
  def bpeTrainBatched(df: DataFrame, textCol: String, batchRounds: Int,
      batchSize: Int): DataFrame = {
    require(batchRounds >= 1 && batchSize >= 1,
      s"need batchRounds/batchSize >= 1, got $batchRounds/$batchSize")
    val spark = df.sparkSession
    import spark.implicits._
    var cur = graft.Persisted.track(df
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wcount"))
      .withColumn("syms", split(col("word"), ""))
      .persist())
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var round = 1L
    var exhausted = false
    while (round <= batchRounds && !exhausted) {
      val pairCounts = graft.Persisted.track(
        cur.filter(size(col("syms")) >= 2)
          .select(col("wcount"), explode(transform(
            sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("a"),
              element_at(col("syms"), i + 1).as("b")))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("wcount")).as("cnt"))
          .persist())
      val kept = selectDisjointPairs(pairCounts, batchSize)
      if (kept.isEmpty) exhausted = true
      else {
        kept.foreach { case (a, b, cnt) => merges += ((round, a, b, cnt)) }
        cur = cur.withColumn("syms",
          batchMergeApply(col("syms"), kept.map(p => (p._1, p._2))))
          .localCheckpoint(true)
        round += 1
      }
    }
    merges.result().zipWithIndex.map { case ((r, a, b, cnt), i) =>
      (r, i + 1L, a, b, a + b, cnt)
    }.toDF("batch_round", "merge_rank", "left_sym", "right_sym", "merged",
      "pair_count")
  }

  /** BPE merge-pair training (Sennrich-style, word-level): the learned
    * merge table (rank, pair, merged symbol, weighted pair count) after
    * `rounds` rounds over the corpus's word types. See [[bpeWordTypes]]
    * for the scale shape.
    */
  def bpeTrain(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (_, merges) = bpeWordTypes(df, textCol, rounds)
    merges.zipWithIndex.map { case ((a, b, cnt), i) =>
      (i + 1L, a, b, a + b, cnt)
    }.toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** Per-document subword statistics under a `rounds`-merge BPE model —
    * the corpus-scale APPLICATION path: the trained word-type table
    * broadcasts (it is vocabulary-sized) and the token stream never
    * shuffles to look segmentations up; the only wide op is the per-doc
    * reassembly agg.
    */
  def bpeSegmentStats(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (types, _) = bpeWordTypes(df, textCol, rounds)
    df.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("word"))
      .join(broadcast(types.select(col("word"), col("syms"))), Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(size(col("syms"))).cast("long").as("n_subwords"))
  }

  /** [[bpeSegmentStats]] in ONE scan — the `encodeInRow` treatment for
    * the segmentation-statistics path: the trained word-type table is
    * collapsed to word → subword-count (the only thing the agg consumes)
    * and embedded in a codegen expression
    * ([[VocabSumCountExpr]]), so the explode, the broadcast join AND the
    * per-doc reassembly agg all disappear — per-doc stats ride the same
    * scan as any other per-row text signal. Output is bit-identical to
    * [[bpeSegmentStats]] (spec-pinned), including row presence: a doc
    * with NULL text or zero table-matched tokens is absent from both
    * (the inner join feeds a groupBy there; the `n_tokens > 0` filter
    * here). The collect is bounded by the word-TYPE table — the same
    * KB–MB bound that makes the relational broadcast legal.
    */
  def bpeSegmentStatsInRow(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (types, _) = bpeWordTypes(df, textCol, rounds)
    val wordLens = types.select(col("word"),
        size(col("syms")).cast("long").as("len"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    df.select(col(idCol),
        VocabSumCountExpr.sumCountCol(TextFunctions.tokens(col(textCol)),
          wordLens).as("_s"))
      .select(col(idCol), element_at(col("_s"), 1).as("n_tokens"),
        element_at(col("_s"), 2).as("n_subwords"))
      .filter(col("n_tokens") > 0)
  }

  /** Tokenizer-fit evaluation per corpus slice: FERTILITY (subwords per
    * word, milli-units) and compression (chars per subword) of the
    * `rounds`-merge BPE state, grouped by `grpCol` — the "does this
    * vocab under-serve language X" number a multilingual pipeline
    * checks BEFORE committing to a tokenizer (Rust et al. 2021: high
    * fertility on a slice predicts degraded downstream performance and
    * inflated token bills). All integer arithmetic (1000-scaled DIVs).
    *
    * Scale shape: [[bpeSegmentStats]]'s — the trained word-type table
    * broadcasts onto the token stream, one map-side-combined group agg;
    * the output is |groups| rows.
    */
  def bpeFertilityByGroup(df: DataFrame, grpCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val (types, _) = bpeWordTypes(df, textCol, rounds)
    graft.ops.Parallelism.spreadIfNarrow(df)
      .select(col(grpCol),
        explode(TextFunctions.tokens(col(textCol))).as("word"))
      .join(broadcast(types.select(col("word"), col("syms"))), Seq("word"))
      .groupBy(col(grpCol))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).cast("long").as("n_subwords"),
        sum(length(col("word"))).cast("long").as("n_chars"))
      .withColumn("fertility_milli", expr("(1000L * n_subwords) DIV n_words"))
      .withColumn("chars_per_subword_milli",
        expr("(1000L * n_chars) DIV n_subwords"))
  }

  /** DuckDB twin of [[bpeFertilityByGroup]] over `documents`: the full
    * BPE training replay, then the grouped fertility agg. The per-group
    * token stream aggregates to `(grp, word, n_occ)` WORD granularity
    * before touching the trained types — re-materializing the full token
    * unnest beside the 6-round BPE replay was the allocation that pushed
    * the checker's DuckDB over its memory budget (r10), and the
    * word-type join is the smaller relation anyway; `sum(n_occ · f)`
    * ≡ the occurrence-level sums exactly (all integers).
    */
  def bpeFertilitySql(rounds: Int, grpCol: String): String =
    s"""${bpeRoundsSqlPrefix(rounds)},
       |tokg AS (
       |  SELECT $grpCol, word, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM (SELECT $grpCol, unnest(string_split(trim(text), ' ')) AS word
       |        FROM documents)
       |  GROUP BY 1, 2)
       |SELECT t.$grpCol, CAST(sum(t.n_occ) AS BIGINT) AS n_words,
       |  CAST(sum(t.n_occ * len(w.syms)) AS BIGINT) AS n_subwords,
       |  CAST(sum(t.n_occ * length(t.word)) AS BIGINT) AS n_chars,
       |  (1000 * CAST(sum(t.n_occ * len(w.syms)) AS BIGINT)) // CAST(sum(t.n_occ) AS BIGINT) AS fertility_milli,
       |  (1000 * CAST(sum(t.n_occ * length(t.word)) AS BIGINT)) // CAST(sum(t.n_occ * len(w.syms)) AS BIGINT) AS chars_per_subword_milli
       |FROM tokg t JOIN w$rounds w USING (word)
       |GROUP BY t.$grpCol""".stripMargin

  /** Shared CTE prefix for the BPE oracles: replays every training round
    * in SQL — pair counts, the tie-broken argmax, and canonical greedy
    * merge application. The merge-apply replay uses the positional form
    * of the same semantics the Column fold implements: occurrences
    * (s_i, s_i+1) = (a, b) chain only when a = b (otherwise adjacency
    * would force a = b), and greedy keeps the odd members of each
    * consecutive-occurrence chain. `graft.VocabularySpec` checks fold ==
    * chain-parity on adversarial run cases. If merges EXHAUST before
    * `rounds` (best$r empty), the LEFT JOIN in o$r keeps every position
    * with occ = false, so w$r passes w$p through unchanged — matching the
    * Scala early-exit instead of collapsing the word relation to empty.
    */
  private def bpeRoundsSqlPrefix(rounds: Int): String = {
    val head =
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
         |  FROM documents),
         |w0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS wcount,
         |    string_split(word, '') AS syms
         |  FROM tok GROUP BY word)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      s"""pe$r AS (
         |  SELECT wcount, syms, unnest(range(1, len(syms))) AS i FROM w$p),
         |p$r AS MATERIALIZED (
         |  SELECT syms[i] AS a, syms[i + 1] AS b,
         |    CAST(sum(wcount) AS BIGINT) AS cnt
         |  FROM pe$r GROUP BY 1, 2),
         |best$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |e$r AS (
         |  SELECT word, wcount, unnest(syms) AS s,
         |    unnest(range(1, len(syms) + 1)) AS i
         |  FROM w$p),
         |o$r AS (
         |  SELECT word, wcount, i, s, a, b,
         |    coalesce(s = a
         |      AND lead(s) OVER (PARTITION BY word ORDER BY i) = b,
         |      false) AS occ
         |  FROM e$r LEFT JOIN best$r ON true),
         |c$r AS (
         |  SELECT *, CASE WHEN occ
         |    THEN i - row_number() OVER (PARTITION BY word, occ ORDER BY i) END
         |    AS chain
         |  FROM o$r),
         |sel$r AS (
         |  SELECT *, coalesce(occ AND (row_number()
         |    OVER (PARTITION BY word, chain ORDER BY i) % 2 = 1), false) AS sel
         |  FROM c$r),
         |m$r AS (
         |  SELECT *, coalesce(lag(sel) OVER (PARTITION BY word ORDER BY i),
         |    false) AS prev_sel
         |  FROM sel$r),
         |w$r AS MATERIALIZED (
         |  SELECT word, wcount,
         |    list(CASE WHEN sel THEN a || b ELSE s END ORDER BY i) AS syms
         |  FROM m$r WHERE NOT prev_sel GROUP BY word, wcount)""".stripMargin
    }
    (head +: roundCtes).mkString(",\n")
  }

  /** DuckDB twin of [[bpeTrainBatched]] over `documents`. Per batch
    * round: pair counts once, `batchSize` constrained argmins (each
    * excluding symbols used by earlier picks via a growing used-symbol
    * CTE), then ONE merge-apply block where occurrences resolve their
    * pair by joining (s, next) against the kept set — disjointness makes
    * the join at-most-one-match and keeps the chain-parity greedy
    * unchanged (consecutive occurrences can only share a pair).
    */
  def bpeTrainBatchedSql(batchRounds: Int, batchSize: Int): String = {
    val head =
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
         |  FROM documents),
         |w0 AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS wcount,
         |    string_split(word, '') AS syms
         |  FROM tok GROUP BY word)""".stripMargin
    val roundCtes = (1 to batchRounds).map { r =>
      val p = r - 1
      val picks = (1 to batchSize).map { i =>
        val guard = if (i == 1) ""
        else s"""
           |  WHERE a NOT IN (SELECT s FROM u${r}_${i - 1})
           |    AND b NOT IN (SELECT s FROM u${r}_${i - 1})
           |    AND a || b NOT IN (SELECT s FROM u${r}_${i - 1})""".stripMargin
        val prev = if (i == 1) ""
        else s"SELECT s FROM u${r}_${i - 1} UNION ALL "
        s"""k${r}_$i AS MATERIALIZED (
           |  SELECT a, b, cnt FROM p$r$guard
           |  ORDER BY cnt DESC, a, b LIMIT 1),
           |u${r}_$i AS MATERIALIZED (
           |  ${prev}SELECT a AS s FROM k${r}_$i
           |  UNION ALL SELECT b FROM k${r}_$i
           |  UNION ALL SELECT a || b FROM k${r}_$i)""".stripMargin
      }.mkString(",\n")
      val keptUnion = (1 to batchSize).map { i =>
        s"SELECT $i AS ki, a, b, cnt FROM k${r}_$i"
      }.mkString("\n  UNION ALL ")
      s"""pe$r AS (
         |  SELECT wcount, syms, unnest(range(1, len(syms))) AS i FROM w$p),
         |p$r AS MATERIALIZED (
         |  SELECT syms[i] AS a, syms[i + 1] AS b,
         |    CAST(sum(wcount) AS BIGINT) AS cnt
         |  FROM pe$r GROUP BY 1, 2),
         |$picks,
         |kept$r AS MATERIALIZED (
         |  $keptUnion),
         |e$r AS (
         |  SELECT word, wcount, unnest(syms) AS s,
         |    unnest(range(1, len(syms) + 1)) AS i
         |  FROM w$p),
         |n$r AS (
         |  SELECT word, wcount, i, s,
         |    lead(s) OVER (PARTITION BY word ORDER BY i) AS nxt
         |  FROM e$r),
         |o$r AS (
         |  SELECT n.word, n.wcount, n.i, n.s,
         |    (k.a IS NOT NULL) AS occ, k.a || k.b AS msym
         |  FROM n$r n LEFT JOIN kept$r k ON n.s = k.a AND n.nxt = k.b),
         |c$r AS (
         |  SELECT *, CASE WHEN occ
         |    THEN i - row_number() OVER (PARTITION BY word, occ ORDER BY i) END
         |    AS chain
         |  FROM o$r),
         |sel$r AS (
         |  SELECT *, coalesce(occ AND (row_number()
         |    OVER (PARTITION BY word, chain ORDER BY i) % 2 = 1), false) AS sel
         |  FROM c$r),
         |m$r AS (
         |  SELECT *, coalesce(lag(sel) OVER (PARTITION BY word ORDER BY i),
         |    false) AS prev_sel
         |  FROM sel$r),
         |w$r AS MATERIALIZED (
         |  SELECT word, wcount,
         |    list(CASE WHEN sel THEN msym ELSE s END ORDER BY i) AS syms
         |  FROM m$r WHERE NOT prev_sel GROUP BY word, wcount)""".stripMargin
    }
    val allUnion = (1 to batchRounds).map { r =>
      s"SELECT $r AS r, ki, a, b, cnt FROM kept$r"
    }.mkString("\n  UNION ALL ")
    s"""${(head +: roundCtes).mkString(",\n")},
       |allk AS (
       |  $allUnion)
       |SELECT CAST(r AS BIGINT) AS batch_round,
       |  CAST(row_number() OVER (ORDER BY r, ki) AS BIGINT) AS merge_rank,
       |  a AS left_sym, b AS right_sym, a || b AS merged, cnt AS pair_count
       |FROM allk ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB twin of [[bpeTrain]] over `documents`. */
  def bpeTrainSql(rounds: Int): String = {
    val unions = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS merge_rank, a AS left_sym,
         |  b AS right_sym, a || b AS merged, cnt AS pair_count FROM best$r"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""${bpeRoundsSqlPrefix(rounds)}
       |$unions
       |ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB twin of [[bpeSegmentStats]] over `documents`. */
  def bpeSegmentStatsSql(rounds: Int): String =
    s"""${bpeRoundsSqlPrefix(rounds)}
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(len(w.syms)) AS BIGINT) AS n_subwords
       |FROM tok t JOIN w$rounds w USING (word)
       |GROUP BY t.doc_id""".stripMargin

  /** DuckDB twin of [[encodeJoined]] over `documents` with the
    * [[buildVocabSql]] vocab inlined. Parallel `unnest`s zip, giving
    * (token, pos) rows; the id sequence is space-joined so the result is
    * all-scalar (the driver's hash compare requirement).
    */
  def encodeSql(size: Int, minCount: Long = 1L): String =
    s"""WITH tokl AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(toks) AS token,
       |    unnest(range(1, len(toks) + 1)) AS pos
       |  FROM tokl),
       |tcnt AS (
       |  SELECT token, count(*) AS freq FROM tok GROUP BY token
       |  HAVING count(*) >= $minCount),
       |v AS (
       |  SELECT token,
       |    CAST(row_number() OVER (ORDER BY freq DESC, token) - 1 AS BIGINT) AS token_id
       |  FROM tcnt ORDER BY freq DESC, token LIMIT $size)
       |SELECT t.doc_id,
       |  string_agg(CAST(coalesce(v.token_id, CAST($OovId AS BIGINT)) AS VARCHAR),
       |    ' ' ORDER BY t.pos) AS token_ids
       |FROM tok t LEFT JOIN v ON t.token = v.token
       |GROUP BY t.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // DSIR — importance-weighted data selection (Xie et al. 2023, "Data
  // Selection for Language Models via Importance Resampling"): select
  // raw-corpus documents whose hashed-n-gram feature distribution looks
  // like a TARGET corpus, by scoring each document under the log ratio
  // of two smoothed bag-of-hashed-ngrams models. The standard recipe for
  // steering a 100 TB crawl toward a curated target domain.
  // ------------------------------------------------------------------

  /** Feature-space size: hashed-n-gram buckets are the first
    * [[DsirHexChars]] hex chars of md5(feature) — a string bucket id, so
    * both engines bucket identically with no hex→int parsing.
    */
  private[graft] val DsirHexChars = 3
  private[graft] val DsirBuckets = 1L << (4 * DsirHexChars) // 4096

  /** Positive-long `a * b` that raises a named error instead of silently
    * wrapping int64 (Spark non-ANSI; DuckDB would error) — `a <=
    * MaxValue div b` is exact for positive ints. Shared by the
    * fixed-point ops whose products can exceed int64 only past their
    * documented corpus-size preconditions.
    */
  private def checkedMulExpr(a: String, b: String, op: String,
      what: String) = expr(
    s"CASE WHEN ($a) <= ${Long.MaxValue}L div ($b) THEN ($a) * ($b) " +
      s"ELSE raise_error('$op: $what overflows int64 — corpus " +
      "token totals exceed the documented 2^31-per-side precondition; " +
      "shard the corpora and merge per-shard rows') END")

  /** The DSIR feature stream: unigrams + bigrams of the whitespace
    * tokenization (with repeats — these are COUNTS, not shingle sets),
    * each mapped to its md5-prefix bucket. Pure scan work: explode +
    * hash, no shuffle.
    */
  private def dsirFeatureBuckets(df: DataFrame, textCol: String,
      keep: Column*): DataFrame = {
    // unigram+bigram feature stream with the tokens bound ONCE
    // (TextFunctions.bindOnce): an unbound `t` inside the bigram lambda
    // re-tokenizes per position — quadratic in document length
    val feats = TextFunctions.bindOnce(TextFunctions.tokens(col(textCol))) { t =>
      val bi = when(size(t) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(t) - 1),
          i => concat_ws(" ", slice(t, i, lit(2)))))
      concat(t, bi)
    }
    df.select(keep :+ explode(feats).as("_feat"): _*)
      .select(keep :+ substring(md5(col("_feat").cast("binary")), 1,
        DsirHexChars).as("_bkt"): _*)
  }

  /** The DSIR model: per-bucket signed fixed-point log importance ratio
    *
    *   `log_ratio_fp(b) = ±log2fp( (ct_b+1)·(totR+B) , (cr_b+1)·(totT+B) )`
    *
    * i.e. `log2 p̂_target(b) − log2 p̂_raw(b)` with add-one smoothing over
    * the full B-bucket feature space, as EXACT INTEGER arithmetic (the
    * [[unigramDrift]] machinery keyed by bucket). The relation carries
    * ALL B buckets (a generated universe left-joined to the counts), so
    * scoring any future document — even one whose buckets never occurred
    * in either corpus — is total, and the smoothed model is literally
    * defined over the whole space. Output: `(bucket, cnt_target,
    * cnt_raw, log_ratio_fp)`, ≤ B rows.
    *
    * Scale shape: two map-side-combined feature aggs whose shuffles are
    * bucket-bounded (≤ partitions × B rows at ANY corpus size — tighter
    * than drift's vocab bound), two B-bounded joins, and the log chain
    * over B rows. The feature streams never shuffle. PRECONDITION
    * (mirrors [[unigramDrift]]): feature totals < 2^31 per side keeps
    * the products in int64; the multiplies are guard-checked, not
    * silently wrapping. A corpus side at petabyte scale shards and sums
    * per-shard bucket counts BEFORE this (counts merge losslessly —
    * unlike drift's corpora, the model is one bounded relation).
    */
  def dsirBucketWeights(target: DataFrame, raw: DataFrame,
      textCol: String): DataFrame =
    dsirWeightsFromBuckets(dsirFeatureBuckets(target, textCol),
      dsirFeatureBuckets(raw, textCol))

  /** [[dsirBucketWeights]] over pre-bucketed feature streams (each a
    * relation with a `_bkt` column) — [[dsirSelect]] persists the raw
    * stream and feeds it to BOTH the model count and the scoring join,
    * so the corpus explodes + hashes once, not twice.
    */
  private def dsirWeightsFromBuckets(targetBuckets: DataFrame,
      rawBuckets: DataFrame): DataFrame = {
    val spark = targetBuckets.sparkSession
    def counts(df: DataFrame, as: String) =
      df.groupBy(col("_bkt")).agg(count(lit(1)).as(as))
    val universe = spark.range(DsirBuckets)
      .select(lower(lpad(hex(col("id")), DsirHexChars, "0")).as("_bkt"))
    // persisted because it feeds BOTH the grand-totals agg and the
    // per-bucket weight rows: without the cache each branch re-runs the
    // corpus-touching bucket-count aggs. <= 4096 rows — the cache is KBs
    val joined = graft.Persisted.track(universe
      .join(counts(targetBuckets, "_ct0"), Seq("_bkt"), "left")
      .join(counts(rawBuckets, "_cr0"), Seq("_bkt"), "left")
      .select(col("_bkt"), coalesce(col("_ct0"), lit(0L)).as("_ct"),
        coalesce(col("_cr0"), lit(0L)).as("_cr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // grand totals as a 1-row aggregate broadcast back over the bucket
    // relation (the unigramDrift/nbTokenWeights/temperatureMixSample
    // pattern) — the 4096-row bound made the old partitionless window
    // benign here, but r12 retired the last of that window class so no
    // annotation-vs-reality drift can ever creep in
    val totals = joined.agg(
      sum(col("_ct")).as("_tot_t"), sum(col("_cr")).as("_tot_r"))
    val prep = joined
      .crossJoin(broadcast(totals))
      .withColumn("_num0", checkedMulExpr("_ct + 1", s"_tot_r + $DsirBuckets",
        "dsirBucketWeights", "(ct+1)*(totR+B)"))
      .withColumn("_den0", checkedMulExpr("_cr + 1", s"_tot_t + $DsirBuckets",
        "dsirBucketWeights", "(cr+1)*(totT+B)"))
      .withColumn("_pos", col("_num0") >= col("_den0"))
      .withColumn("_big", when(col("_pos"), col("_num0")).otherwise(col("_den0")))
      .withColumn("_small", when(col("_pos"), col("_den0")).otherwise(col("_num0")))
      .withColumn("_sh", greatest(lit(0), length(bin(col("_big"))) - lit(33)))
      .withColumn("_num", expr("shiftright(_big, CAST(_sh AS INT))"))
      .withColumn("_den",
        greatest(expr("shiftright(_small, CAST(_sh AS INT))"), lit(1L)))
    log2FixedCols(prep)
      .select(col("_bkt").as("bucket"), col("_ct").as("cnt_target"),
        col("_cr").as("cnt_raw"),
        when(col("_pos"), col("_idf_fp")).otherwise(-col("_idf_fp"))
          .as("log_ratio_fp"))
  }

  /** Score documents under a [[dsirBucketWeights]] model: per doc,
    * `dsir_logw_fp = Σ_features log_ratio_fp(bucket(feature))` — the
    * fixed-point log importance weight (high ⇒ target-like). Broadcast
    * join of the B-bounded model onto the feature stream + one per-doc
    * sum (map-side partial) — the stream never shuffles; same shape as
    * [[surprisalScore]]. The join is inner, and total by construction:
    * the model carries every possible bucket.
    */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame): DataFrame =
    dsirFeatureBuckets(docs, textCol, col(idCol))
      .join(broadcast(weights.select(col("bucket").as("_bkt"),
        col("log_ratio_fp"))), Seq("_bkt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("log_ratio_fp")).as("dsir_logw_fp"))

  /** A [[dsirBucketWeights]] model collapsed to a driver map — B
    * entries (KBs, the centroid/codebook-broadcast scale), the form the
    * EXPRESSION scorer embeds as a map literal. The bounded collect is
    * the documented exception class (model relations, never data).
    */
  def dsirWeightsMap(weights: DataFrame): Map[String, Long] =
    weights.select(col("bucket"), col("log_ratio_fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The DSIR feature count of a document as a pure column expression:
    * unigrams + bigrams of the whitespace tokenization.
    */
  def dsirFeatureCountCol(textCol: Column): Column = {
    val n = size(TextFunctions.tokens(textCol))
    (n + when(n < 2, 0).otherwise(n - 1)).cast("long")
  }

  /** Per-document DSIR log importance weight as a PURE COLUMN EXPRESSION
    * over a literal model: fold the unigram+bigram feature array through
    * `element_at(model, md5-prefix-bucket)` — total by construction (the
    * model carries every possible bucket). No join, no shuffle, no
    * state: scoring runs at scan speed, which makes it directly usable
    * inside a STATELESS streaming select (the ingest-time filter shape —
    * see [[graft.streaming.StreamingOps.streamingDsirScores]]). Integer
    * fold order is the array order; long addition is associative, so the
    * result is bit-identical to [[dsirScores]]'s join+sum.
    */
  def dsirScoreCol(textCol: Column, weights: Map[String, Long]): Column = {
    require(weights.size == DsirBuckets,
      s"weights must cover the full $DsirBuckets-bucket universe " +
        s"(got ${weights.size}) — build with dsirBucketWeights")
    // same bound-tokens discipline as dsirFeatureBuckets (quadratic
    // otherwise — see TextFunctions.bindOnce)
    val feats = TextFunctions.bindOnce(TextFunctions.tokens(textCol)) { t =>
      val bi = when(size(t) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(t) - 1),
          i => concat_ws(" ", slice(t, i, lit(2)))))
      concat(t, bi)
    }
    // the model rides as an ARRAY literal indexed by the bucket's
    // integer value (conv of the hex prefix) — element_at on an array is
    // O(1), where a 4096-entry MAP literal is a per-lookup linear scan
    // (measured 5x slower on the streaming gate)
    val byIndex = (0 until DsirBuckets.toInt)
      .map(i => weights("%03x".format(i)))
    val m = typedLit(byIndex)
    aggregate(feats, lit(0L), (acc, f) =>
      acc + element_at(m,
        conv(substring(md5(f.cast("binary")), 1, DsirHexChars), 16, 10)
          .cast("int") + 1))
  }

  /** End-to-end DSIR selection: model `target` vs `raw`, score every raw
    * document, keep the `k` most target-like (ties broken by id — fully
    * deterministic, so the selection replays bit-exactly). The paper
    * resamples by weight; top-k is the deterministic variant a gated
    * oracle can replay — for sampled selection feed `dsir_logw_fp` into
    * [[graft.ops.Sampling.weightedSample]]-style hash thresholds.
    */
  def dsirSelect(target: DataFrame, raw: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    // the raw feature stream feeds the model's count AND the scoring
    // join — persist the bucketed form so the explode+hash pass over the
    // big (raw) side runs once; the target side is read once anyway
    val rawBuckets = dsirFeatureBuckets(raw, textCol, col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Persisted.track(rawBuckets)
    val weights = dsirWeightsFromBuckets(
      dsirFeatureBuckets(target, textCol), rawBuckets.select(col("_bkt")))
    rawBuckets
      .join(broadcast(weights.select(col("bucket").as("_bkt"),
        col("log_ratio_fp"))), Seq("_bkt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        sum(col("log_ratio_fp")).as("dsir_logw_fp"))
      .orderBy(col("dsir_logw_fp").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB twin of [[dsirSelect]] over `documents` split by the two
    * predicates: identical feature stream (unigrams + bigrams with
    * repeats), identical md5-prefix bucketing, the generated
    * all-buckets universe, and the identical integer op sequence
    * (guard-free here — DuckDB errors on int64 overflow rather than
    * wrapping, which IS the checked behavior).
    */
  def dsirSelectSql(predTarget: String, predRaw: String, k: Int): String =
    dsirScoresSql(predTarget, predRaw) +
      s"\nORDER BY dsir_logw_fp DESC, doc_id LIMIT $k"

  /** DuckDB twin of the per-document DSIR scores (every raw doc, no
    * selection cut) — the oracle for both the batch scorer and the
    * stateless streaming scorer, whose fold is value-identical to this
    * join+sum.
    */
  def dsirScoresSql(predTarget: String, predRaw: String): String = {
    val B = DsirBuckets
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT bkt, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    def featCtes(src: String, out: String, idCols: String): String = {
      val sel = if (idCols.isEmpty) "" else s"$idCols, "
      s"""$out AS MATERIALIZED (
         |  SELECT ${sel}substr(md5(feat), 1, $DsirHexChars) AS bkt FROM (
         |    SELECT ${sel}unnest(tk) AS feat FROM $src
         |    UNION ALL
         |    SELECT ${sel}array_to_string(list_slice(tk,
         |        CAST(pos + 1 AS BIGINT), CAST(pos + 2 AS BIGINT)), ' ') AS feat
         |    FROM (SELECT ${sel}tk, unnest(range(n - 1)) AS pos
         |          FROM $src WHERE n >= 2) q) f)""".stripMargin
    }
    s"""WITH tl AS MATERIALIZED (
       |  SELECT string_split(trim(text), ' ') AS tk,
       |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n
       |  FROM documents WHERE $predTarget),
       |rl AS MATERIALIZED (
       |  SELECT doc_id, string_split(trim(text), ' ') AS tk,
       |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n
       |  FROM documents WHERE $predRaw),
       |${featCtes("tl", "tf", "")},
       |${featCtes("rl", "rf", "doc_id")},
       |u AS (SELECT lower(lpad(to_hex(r), $DsirHexChars, '0')) AS bkt
       |      FROM range($B) t(r)),
       |ct AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c FROM tf GROUP BY bkt),
       |cr AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c FROM rf GROUP BY bkt),
       |j AS (SELECT u.bkt, coalesce(ct.c, 0) AS cct, coalesce(cr.c, 0) AS ccr
       |      FROM u LEFT JOIN ct USING (bkt) LEFT JOIN cr USING (bkt)),
       |st AS (SELECT bkt, cct, ccr,
       |        sum(cct) OVER () AS tot_t, sum(ccr) OVER () AS tot_r
       |      FROM j),
       |sg AS (SELECT bkt,
       |        (cct + 1) * (tot_r + $B) AS num0,
       |        (ccr + 1) * (tot_t + $B) AS den0
       |      FROM st),
       |rs AS (SELECT bkt, num0 >= den0 AS pos,
       |        CASE WHEN num0 >= den0 THEN num0 ELSE den0 END AS big,
       |        CASE WHEN num0 >= den0 THEN den0 ELSE num0 END AS small
       |      FROM sg),
       |nrm AS (SELECT bkt, pos,
       |        big >> greatest(0, length(bin(big)) - 33) AS num,
       |        greatest(small >> greatest(0, length(bin(big)) - 33), 1) AS den
       |      FROM rs),
       |it0 AS (
       |  SELECT bkt, ($eSum) AS e,
       |    (num << $MantBits) // (den << ($eSum)) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM nrm),
       |$iters,
       |sup AS (
       |  SELECT bkt, e * (CAST(1 AS BIGINT) << $FracBits) + frac AS s
       |  FROM it$FracBits),
       |w AS (
       |  SELECT r.bkt,
       |    CAST(CASE WHEN r.pos THEN s ELSE -s END AS BIGINT) AS lr
       |  FROM sup JOIN rs r USING (bkt))
       |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |  CAST(sum(w.lr) AS BIGINT) AS dsir_logw_fp
       |FROM rf f JOIN w USING (bkt)
       |GROUP BY f.doc_id""".stripMargin
  }

  /** Top-k collocations by pointwise mutual information (Church & Hanks
    * 1990) as EXACT INTEGER arithmetic — the phrase-mining signal
    * (multi-word expressions for tokenizer vocab candidates, entity
    * phrases, boilerplate idioms):
    *
    *   `pmi_fp(w1, w2) = ±log2fp( c12 · T , c1 · c2 )`
    *
    * with adjacent-bigram count `c12`, unigram counts `c1`/`c2`, corpus
    * token total `T` — the integer statement of
    * `log2 P(w1,w2) / (P(w1)·P(w2))`. A `minCount` floor keeps the
    * scored relation to genuinely recurring pairs (raw PMI famously
    * promotes hapax pairs; the floor is the standard fix) and bounds it
    * regardless of corpus size.
    *
    * Scale shape: the unigram and bigram aggs are the two
    * map-side-combined token passes ([[bigramSurprisal]]'s exact
    * extraction — the bigram stream is generated at scan speed); the
    * unigram count table broadcasts onto the minCount-floored bigram
    * relation; the final top-k is an ordered limit (TakeOrdered), never
    * a global sort. Same overflow posture as drift: guarded multiplies,
    * lockstep floor-shift above the log mantissa bound.
    */
  /** WINDOWED SKIP-GRAM CO-OCCURRENCE COUNTS — the word-embedding
    * training corpus (word2vec/GloVe prep): for every token pair within
    * `window` positions inside a document, one symmetric count, floored
    * at `minCount` ([[pmiCollocations]] is the `window = 1` PMI-scored
    * special case; this is the raw count matrix downstream trainers
    * consume). Pairs are canonical `(least, greatest)` so each unordered
    * co-occurrence counts once per position pair.
    *
    * Scale shape: pair generation is IN-ROW at scan speed — a custom
    * Catalyst `Generator` ([[SkipgramGenerator]]) streams the
    * `window × tokens` canonical pairs straight out of each document
    * with no joins, no exploded-position relation, and no intermediate
    * per-row collections (isolated at 188.7M pairs: 1.4 s vs 10.6 s for
    * the array-HOF `flatten(transform(..., transform(slice(...))))`
    * form — 7.6×; a (doc, position) equi-join of exploded positions
    * additionally shuffles the whole token stream twice). What governs
    * END-TO-END cost is the count agg's PAIR CARDINALITY, not token
    * count: on a uniform-vocab corpus pairs barely repeat, the map-side
    * combine cannot compress, and the agg shuffles ~one row per sampled
    * pair (TUNING has the measured worst case); Zipfian real text
    * concentrates its pair mass and combines far better. The `minCount`
    * floor prunes AFTER the agg — it bounds the output, not the
    * shuffle.
    */
  def skipgramCounts(df: DataFrame, idCol: String, textCol: String,
      window: Int, minCount: Long): DataFrame = {
    require(window >= 1 && minCount >= 1L, "window, minCount >= 1")
    df.select(SkipgramGenerator.skipgrams(col(textCol), window).as(Seq("w1", "w2")))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_cooc"))
      .filter(col("n_cooc") >= minCount)
  }

  /** DuckDB twin of [[skipgramCounts]] over `documents` — the oracle
    * uses the range-join form; the operator ships the in-row
    * [[SkipgramGenerator]] (no join at all). Same counts. */
  def skipgramCountsSql(window: Int, minCount: Long): String =
    s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       |tk AS MATERIALIZED (
       |  SELECT doc_id, i AS pos, t[i] AS tok
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks))
       |SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2,
       |  CAST(count(*) AS BIGINT) AS n_cooc
       |FROM tk a JOIN tk b
       |  ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND $window
       |GROUP BY 1, 2 HAVING count(*) >= $minCount""".stripMargin

  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, k: Int = 50): DataFrame = {
    require(minCount >= 1L && k >= 1, "minCount, k >= 1")
    def checkedMul(a: String, b: String, what: String) =
      checkedMulExpr(a, b, "pmiCollocations", what)
    val tokArr = df.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("_toks"))
    val cnt = tokArr.select(explode(col("_toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("_c"))
    val tot = cnt.agg(sum(col("_c")).as("_tot"))
    val bg = tokArr.filter(size(col("_toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(_toks)), " +
          "i -> struct(_toks[i-2] AS w1, _toks[i-1] AS w2))")).as("_bg"))
      .select(col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val prep = bg
      .join(broadcast(cnt.select(col("token").as("w1"), col("_c").as("_c1"))),
        Seq("w1"))
      .join(broadcast(cnt.select(col("token").as("w2"), col("_c").as("_c2"))),
        Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("_num0", checkedMul("c12", "_tot", "c12*T"))
      .withColumn("_den0", checkedMul("_c1", "_c2", "c1*c2"))
      .withColumn("_pos", col("_num0") >= col("_den0"))
      .withColumn("_big", when(col("_pos"), col("_num0")).otherwise(col("_den0")))
      .withColumn("_small", when(col("_pos"), col("_den0")).otherwise(col("_num0")))
      .withColumn("_sh", greatest(lit(0), length(bin(col("_big"))) - lit(33)))
      .withColumn("_num", expr("shiftright(_big, CAST(_sh AS INT))"))
      .withColumn("_den",
        greatest(expr("shiftright(_small, CAST(_sh AS INT))"), lit(1L)))
    log2FixedCols(prep)
      .select(col("w1"), col("w2"), col("c12"),
        when(col("_pos"), col("_idf_fp")).otherwise(-col("_idf_fp"))
          .as("pmi_fp"))
      .orderBy(col("pmi_fp").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** DuckDB twin of [[pmiCollocations]] over `documents`: the identical
    * bigram extraction, minCount floor, guard-free integer products
    * (DuckDB errors loudly on overflow where the Spark side raises), the
    * same rescale + log chain + signed result + ordered limit.
    */
  def pmiCollocationsSql(minCount: Long = 5L, k: Int = 50): String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT w1, w2, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS MATERIALIZED (
       |  SELECT doc_id, string_split(trim(text), ' ') AS tk,
       |    len(string_split(trim(text), ' ')) AS n
       |  FROM documents),
       |cnt AS MATERIALIZED (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(tk) AS token FROM t) GROUP BY token),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM cnt),
       |bg AS MATERIALIZED (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM (
       |    SELECT tk[i + 1] AS w1, tk[i + 2] AS w2
       |    FROM (SELECT tk, unnest(range(n - 1)) AS i
       |          FROM t WHERE n >= 2))
       |  GROUP BY w1, w2 HAVING count(*) >= $minCount),
       |pr AS (
       |  SELECT b.w1, b.w2, b.c12,
       |    b.c12 * tt AS num0, c1.c * c2.c AS den0
       |  FROM bg b
       |    JOIN cnt c1 ON c1.token = b.w1
       |    JOIN cnt c2 ON c2.token = b.w2
       |    CROSS JOIN tot),
       |rs AS (SELECT w1, w2, c12, num0 >= den0 AS pos,
       |        CASE WHEN num0 >= den0 THEN num0 ELSE den0 END AS big,
       |        CASE WHEN num0 >= den0 THEN den0 ELSE num0 END AS small
       |      FROM pr),
       |nrm AS (SELECT w1, w2, pos,
       |        big >> greatest(0, length(bin(big)) - 33) AS num,
       |        greatest(small >> greatest(0, length(bin(big)) - 33), 1) AS den
       |      FROM rs),
       |it0 AS (
       |  SELECT w1, w2, ($eSum) AS e,
       |    (num << $MantBits) // (den << ($eSum)) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM nrm),
       |$iters,
       |sv AS (
       |  SELECT w1, w2, e * (CAST(1 AS BIGINT) << $FracBits) + frac AS s
       |  FROM it$FracBits)
       |SELECT r.w1, r.w2, r.c12,
       |  CAST(CASE WHEN r.pos THEN s ELSE -s END AS BIGINT) AS pmi_fp
       |FROM sv JOIN rs r ON sv.w1 = r.w1 AND sv.w2 = r.w2
       |ORDER BY pmi_fp DESC, r.w1, r.w2 LIMIT $k""".stripMargin
  }

  /** Multinomial naive-Bayes token weights from a two-class token-count
    * relation — the fastText-linear-classifier shape every major corpus
    * pipeline uses for quality filtering (GPT-3's WebText-vs-crawl
    * classifier, LLaMA's Wikipedia-reference classifier, FineWeb-Edu):
    * per token,
    *
    *   `w_fp = ±log2fp( (ca+1)·(totB+V) , (cb+1)·(totA+V) )`
    *
    * i.e. the add-one-smoothed log likelihood ratio
    * `log2 P(t|A) / P(t|B)` — [[unigramDrift]]'s machinery with
    * SYMMETRIC smoothing (both classes smoothed, no `ca > 0` filter:
    * a classifier needs a total weight function over the union vocab).
    * Input is [[unigramDriftCounts]]'s `(token, _ca, _cb)` relation —
    * the staged-model artifact; A is the positive class.
    *
    * Same overflow posture as drift: products guarded with an exact
    * check (Spark would wrap silently), magnitudes above the log
    * mantissa bound floor-shifted in lockstep on both sides.
    */
  def nbTokenWeights(counts: DataFrame): DataFrame = {
    def checkedMul(a: String, b: String, what: String) =
      checkedMulExpr(a, b, "nbTokenWeights", what)
    // class totals as a 1-row aggregate broadcast back over the vocab
    // relation (see unigramDrift) — no single-partition window stage;
    // training runs once per staged weight table, so the dual reference
    // to `counts` costs one extra vocab-bounded agg at train time only.
    val totals = counts.agg(
      sum(col("_ca")).as("_tot_a"),
      sum(col("_cb")).as("_tot_b"),
      count(lit(1)).as("_v"))
    val prep = counts
      .crossJoin(broadcast(totals))
      .withColumn("_num0", checkedMul("_ca + 1", "_tot_b + _v", "(ca+1)*(totB+V)"))
      .withColumn("_den0", checkedMul("_cb + 1", "_tot_a + _v", "(cb+1)*(totA+V)"))
      .withColumn("_pos", col("_num0") >= col("_den0"))
      .withColumn("_big", when(col("_pos"), col("_num0")).otherwise(col("_den0")))
      .withColumn("_small", when(col("_pos"), col("_den0")).otherwise(col("_num0")))
      .withColumn("_sh", greatest(lit(0), length(bin(col("_big"))) - lit(33)))
      .withColumn("_num", expr("shiftright(_big, CAST(_sh AS INT))"))
      .withColumn("_den",
        greatest(expr("shiftright(_small, CAST(_sh AS INT))"), lit(1L)))
    log2FixedCols(prep)
      .select(col("token"),
        when(col("_pos"), col("_idf_fp")).otherwise(-col("_idf_fp"))
          .as("w_fp"))
  }

  /** Score documents with a [[nbTokenWeights]] table: per doc the token-
    * multiplicity-weighted sum of weights — the balanced-prior NB
    * decision score, positive ⇒ class A. Tokens outside the weight
    * vocab carry ZERO weight (the standard OOV fallback) via a LEFT
    * join, so the score function is TOTAL: in the train-once/score-many
    * deployment (staged weights scoring a new snapshot) an all-OOV
    * document — a new language, a new script — still yields a row with
    * score 0, and a `score >= 0` keep rule treats zero evidence as
    * "keep", not as "silently drop". `n_known` reports how much of the
    * doc the model actually saw (the coverage caveat to act on).
    * Scale shape is [[surprisalScore]]'s: the weight table is
    * vocab-bounded and broadcasts; the token stream never shuffles —
    * scoring is scan + one map-side-combined per-doc sum.
    */
  def nbClassify(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame): DataFrame =
    df.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .join(broadcast(weights), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("w_fp")).as("n_known"),
        coalesce(sum(col("w_fp")), lit(0L)).as("nb_score_fp"))
      .withColumn("predicted_pos", col("nb_score_fp") >= 0L)

  /** DuckDB twin of [[nbTokenWeights]] + [[nbClassify]]: `docsCte` is a
    * named CTE (e.g. the boilerplate fixture) whose rows split into
    * positive/negative training classes by `predPos`/`predNeg`; every
    * doc is then scored. Identical integer op sequence to drift's
    * replay, with the symmetric smoothing above.
    */
  def nbClassifierSql(docsCte: String, docsName: String,
      predPos: String, predNeg: String): String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT token, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH $docsCte,
       |ta AS MATERIALIZED (
       |  SELECT unnest(string_split(trim(text), ' ')) AS token
       |  FROM $docsName WHERE $predPos),
       |tb AS MATERIALIZED (
       |  SELECT unnest(string_split(trim(text), ' ')) AS token
       |  FROM $docsName WHERE $predNeg),
       |ca AS (SELECT token, CAST(count(*) AS BIGINT) AS cca FROM ta GROUP BY token),
       |cb AS (SELECT token, CAST(count(*) AS BIGINT) AS ccb FROM tb GROUP BY token),
       |j AS (SELECT COALESCE(ca.token, cb.token) AS token,
       |        COALESCE(cca, 0) AS cca, COALESCE(ccb, 0) AS ccb
       |      FROM ca FULL OUTER JOIN cb USING (token)),
       |st AS (SELECT token, cca, ccb,
       |        sum(cca) OVER () AS tot_a, sum(ccb) OVER () AS tot_b,
       |        count(*) OVER () AS v
       |      FROM j),
       |sg AS (SELECT token,
       |        (cca + 1) * (tot_b + v) AS num0, (ccb + 1) * (tot_a + v) AS den0
       |      FROM st),
       |rs AS (SELECT token, num0 >= den0 AS pos,
       |        CASE WHEN num0 >= den0 THEN num0 ELSE den0 END AS big,
       |        CASE WHEN num0 >= den0 THEN den0 ELSE num0 END AS small
       |      FROM sg),
       |nrm AS (SELECT token, pos,
       |        big >> greatest(0, length(bin(big)) - 33) AS num,
       |        greatest(small >> greatest(0, length(bin(big)) - 33), 1) AS den
       |      FROM rs),
       |it0 AS (
       |  SELECT token, ($eSum) AS e,
       |    (num << $MantBits) // (den << ($eSum)) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM nrm),
       |$iters,
       |wt AS (
       |  SELECT r.token,
       |    CAST(CASE WHEN r.pos THEN s ELSE -s END AS BIGINT) AS w
       |  FROM (SELECT token, e * (CAST(1 AS BIGINT) << $FracBits) + frac AS s
       |        FROM it$FracBits) sv JOIN rs r USING (token)),
       |tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS token
       |  FROM $docsName)
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(count(w.w) AS BIGINT) AS n_known,
       |  CAST(COALESCE(sum(w.w), 0) AS BIGINT) AS nb_score_fp,
       |  CAST(COALESCE(sum(w.w), 0) AS BIGINT) >= 0 AS predicted_pos
       |FROM tok t LEFT JOIN wt w USING (token)
       |GROUP BY t.doc_id""".stripMargin
  }

  /** Per-document top-k key terms by TF-IDF as EXACT INTEGER arithmetic —
    * the tagging/indexing primitive (salient-term extraction for corpus
    * cards, topic routing, and keyword indexes; Salton & Buckley 1988's
    * tf·idf weighting with the idf as [[log2Fixed]]):
    *
    *   `score_fp(d, t) = tf(d,t) · log2fp(N / df(t))`
    *
    * with `N` the doc count and `df(t)` the number of docs containing
    * `t` — both integers, so `1 <= df <= N` keeps the log operands in
    * [[log2FixedCols]]'s domain. A corpus-wide term (df = N) scores 0,
    * which is tf-idf's own statement that it carries no signal; ranking
    * tie-break is (score desc, term asc), so the gate replays bit-for-bit.
    *
    * Scale shape: ONE exchange of the raw documents by doc id up front —
    * `HashPartitioning(doc_id)` satisfies both the (doc, term) tf agg's
    * clustering (hash keys may be a subset of grouping keys) and the
    * rank window's, so the exploded token-pair relation NEVER shuffles
    * (the r10-part-7 fix: the original plan exchanged the ~40×-wider
    * (doc, term) pairs twice — tf agg + window — and went superlinear at
    * 10M docs, 381 → 148 s). The repartitioned docs persist
    * ([[graft.Persisted]]) because the tf subtree feeds two consumers
    * (idf branch + scoring); the doc-frequency relation stays
    * vocab-bounded (map-side-combined) and the idf table broadcasts. The
    * per-doc top-k rank cut runs partition-local.
    * Magnitude: `tf · idf_fp < 2^63` holds while `tf < 2^36` — no real
    * document approaches it — and the log chain needs `N < 2^33` (the
    * [[surprisalModel]] TOTAL bound, here on the DOC count): past ~8.6B
    * docs pre-scale N and df by a common factor (idf is
    * ratio-invariant). Guarded with a named error — Spark (non-ANSI)
    * would silently wrap the mantissa shift where DuckDB errors.
    */
  def tfidfKeyTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    // persist + repartition TOGETHER: the persist collapses the tf
    // subtree to one tokenize+agg pass across its two consumers, and the
    // repartition's partitioning serves both the (doc, term) agg and the
    // rank window — but ONLY because graft sessions set
    // `canChangeCachedPlanOutputPartitioning=false`: with AQE allowed to
    // re-plan cached subtrees, the InMemoryRelation HIDES its output
    // partitioning from EnsureRequirements and the (doc, term) exchange
    // comes back (measured at 10.2M docs: cache-only 156 s,
    // repartition-only 468 s — the duplicate agg pass costs more than
    // the exchange it saves; both together + the materialization
    // barrier below: 148 s, and ZERO exchanges of the token pairs).
    val docs = df.select(col(idCol), col(textCol))
      .repartition(col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Persisted.track(docs)
    // materialization barrier ON PURPOSE (the exception to the lazy-
    // persist default): an unmaterialized cache plans as an adaptive
    // subtree whose partitioning EnsureRequirements treats as unknown,
    // and both downstream exchanges come back. This one count() is the
    // cache-build pass both consumers need anyway.
    docs.count()
    val tf = docs.select(col(idCol),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    val idf = log2FixedCols(
      tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
        .crossJoin(broadcast(nDocs))
        .withColumn("_num", expr(
          s"CASE WHEN _n < ${1L << 33}L THEN _n ELSE raise_error(" +
            "'tfidfKeyTerms: doc count >= 2^33 exceeds the log2 mantissa " +
            "bound — pre-scale N and df by a common factor (idf is " +
            "ratio-invariant)') END"))
        .withColumn("_den", col("_df")))
      .select(col("term"), col("_idf_fp"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_fp").desc, col("term"))
    tf.join(broadcast(idf), Seq("term"))
      .withColumn("score_fp", col("tf") * col("_idf_fp"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("score_fp"),
        col("rnk").cast("int").as("rnk"))
  }

  /** DuckDB twin of [[tfidfKeyTerms]] over `documents`: the identical
    * integer op sequence — per-(doc, term) tf, vocab-bounded df, the
    * [[FracBits]] unrolled square-and-truncate log rounds keyed by term
    * with num = N and den = df, then the same rank window and cut.
    */
  def tfidfKeyTermsSql(k: Int): String = {
    val eSum = (1 to EMax).map(kk =>
      s"CASE WHEN (num >> $kk) >= den THEN 1 ELSE 0 END").mkString(" + ")
    val iters = (1 to FracBits).map { i =>
      val p = i - 1
      s"""it$i AS (
         |  SELECT term, e,
         |    CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN ((m * m) >> $MantBits) >> 1 ELSE (m * m) >> $MantBits END AS m,
         |    frac * 2 + CASE WHEN ((m * m) >> $MantBits) >= (CAST(2 AS BIGINT) << $MantBits)
         |      THEN 1 ELSE 0 END AS frac
         |  FROM it$p)""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
       |  FROM documents),
       |tf AS MATERIALIZED (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY doc_id, term),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |nrm AS (SELECT term, n AS num, df AS den FROM dft CROSS JOIN nd),
       |it0 AS (
       |  SELECT term, ($eSum) AS e,
       |    (num << $MantBits) // (den << ($eSum)) AS m,
       |    CAST(0 AS BIGINT) AS frac
       |  FROM nrm),
       |$iters,
       |idf AS (
       |  SELECT term, e * (CAST(1 AS BIGINT) << $FracBits) + frac AS idf_fp
       |  FROM it$FracBits),
       |scored AS (
       |  SELECT t.doc_id, t.term, t.tf, t.tf * i.idf_fp AS score_fp
       |  FROM tf t JOIN idf i USING (term))
       |SELECT doc_id, term, tf, score_fp, rnk FROM (
       |  SELECT doc_id, term, tf, score_fp,
       |    CAST(row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score_fp DESC, term) AS INTEGER) AS rnk
       |  FROM scored) WHERE rnk <= $k""".stripMargin
  }
}
