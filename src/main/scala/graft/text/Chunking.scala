package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget document chunking — the packing step of a training-data
  * pipeline: long documents become consecutive, non-overlapping pieces of
  * at most `maxTokens` whitespace tokens each, keyed by (doc, chunk_idx)
  * so downstream shuffling/packing can reassemble order.
  *
  * Shape: one `split` per row materialized ONCE in a projection, then a
  * `posexplode` over a `transform(sequence(...))` of chunk slices — a
  * narrow per-row expansion with no shuffle and no UDF; at 100 TB it runs
  * at scan speed and the output inherits the input partitioning. The
  * whole computation is integer arithmetic over a deterministic
  * tokenization, so the DuckDB oracle replays it exactly
  * ([[Chunking.chunkSql]] states the same formula).
  */
object Chunking {

  /** Split `textCol` into consecutive chunks of at most `maxTokens`
    * whitespace tokens. Output: (idCol, chunk_idx, chunk_text, n_tokens) —
    * chunk_idx is 0-based and dense per document; every token of the
    * input appears in exactly one chunk, in order.
    */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    val nChunks = ceil(size(col("_graft_toks")) / lit(maxTokens.toDouble)).cast("int")
    df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("_graft_toks"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), nChunks - 1),
        i => array_join(slice(col("_graft_toks"), i * maxTokens + 1, lit(maxTokens)), " "))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk_text")
      .withColumn("n_tokens", TextFunctions.tokenCount(col("chunk_text")).cast("long"))
  }

  /** Sequence packing — the concat-then-split shape of GPT-style
    * pre-training data prep: all documents form one deterministic global
    * token stream (ordered by (md5(id), id), the reproducible shuffle),
    * which is cut into fixed `seqTokens`-token training examples.
    * Documents crossing a cut are split across consecutive examples;
    * nothing is padded or dropped. Output, one row per (document piece ×
    * example):
    *
    *   (example_id, token_start, idCol, piece_text, piece_tokens)
    *
    * `token_start` is the piece's offset WITHIN its example, so examples
    * reassemble by sorting pieces on it — no extra ranking pass needed.
    *
    * Scale shape: each document's global token offset is a weighted
    * cumulative sum over the hash order. A single running-total window
    * would funnel the corpus through one partition, so the offset is
    * composed of (a) per-bucket token totals cumulated across the tiny
    * md5-prefix bucket relation (broadcast back) and (b) a within-bucket
    * running sum — same deterministic prefix-bucket construction as
    * `Sampling.withGlobalPosition`, one data shuffle total. The
    * piece expansion is then a narrow per-row `posexplode`. Everything is
    * integer arithmetic over the deterministic order — the oracle replays
    * it exactly.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      seqTokens: Int): DataFrame = {
    require(seqTokens >= 1, s"seqTokens must be >= 1, got $seqTokens")
    val L = lit(seqTokens.toLong)
    val sk = md5(col(idCol).cast("string").cast("binary"))
    val toks = df.select(col(idCol), sk.as("_graft_sk"),
      substring(sk, 1, graft.ops.Sampling.PrefixChars).as("_graft_bkt"),
      TextFunctions.tokens(col(textCol)).as("_graft_toks"))
      .withColumn("_graft_n", size(col("_graft_toks")).cast("long"))
    val bucketTotals = toks.groupBy(col("_graft_bkt"))
      .agg(sum(col("_graft_n")).as("_graft_bn"))
      // single-partition BY DESIGN: this window runs over the bucket-
      // offsets relation (<= 16^PrefixChars rows), never the data — the
      // "WindowExec: No Partition Defined" warning it logs is benign
      .withColumn("_graft_boff",
        coalesce(sum(col("_graft_bn")).over(
          Window.orderBy(col("_graft_bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_graft_bkt"), col("_graft_boff"))
    // the ONE data shuffle deliberately carries the token arrays: the
    // posexplode below needs them, so they move exactly once either way
    // — a skinny window + rejoin-by-id would ADD a shuffle, not save one
    // (the ExplainMain ARRAY_WINDOWS sweep flags this window; adjudicated
    // optimal as-is)
    val within = Window.partitionBy(col("_graft_bkt"))
      .orderBy(col("_graft_sk"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val placed = toks.join(broadcast(bucketTotals), "_graft_bkt")
      .withColumn("_graft_off",
        col("_graft_boff") + coalesce(sum(col("_graft_n")).over(within), lit(0L)))
    // the examples this document intersects: floor(off/L) .. floor((off+n-1)/L)
    val firstEx = floor(col("_graft_off") / L)
    val lastEx = floor((col("_graft_off") + col("_graft_n") - 1) / L)
    placed
      .select(col(idCol), col("_graft_toks"), col("_graft_n"), col("_graft_off"),
        explode(sequence(firstEx, lastEx)).as("example_id"))
      .withColumn("_graft_from", greatest(col("example_id") * L, col("_graft_off")))
      .withColumn("_graft_until",
        least((col("example_id") + 1) * L, col("_graft_off") + col("_graft_n")))
      .select(
        col("example_id"),
        (col("_graft_from") - col("example_id") * L).as("token_start"),
        col(idCol),
        array_join(slice(col("_graft_toks"),
          (col("_graft_from") - col("_graft_off") + 1).cast("int"),
          (col("_graft_until") - col("_graft_from")).cast("int")), " ")
          .as("piece_text"),
        (col("_graft_until") - col("_graft_from")).as("piece_tokens"))
  }

  /** DuckDB twin of [[packSequences]]: a single global running-sum window
    * states the same offsets the bucket construction computes (identical
    * because the bucket prefix is order-aligned with the (md5, id) sort),
    * then the same integer slice arithmetic. Keep formula-identical.
    */
  /** LENGTH-BUCKETED BATCHING (padding-minimizing batch assignment for
    * inference / padded training): rank documents by (token count desc,
    * md5, id) and cut the order into fixed-`batchSize` batches — similar
    * lengths land together, so per-batch padding
    * `max(len)·|batch| − Σ len` collapses versus random batching (the
    * descending order also front-loads the longest sequences, the
    * standard OOM-early convention). Returns per-batch stats
    * `(batch_id, n_docs, max_tokens, sum_tokens, pad_tokens)`.
    *
    * Scale: the global rank rides the [[graft.ops.Sampling
    * .tokenBudgetSelect]] construction — (token count, md5-prefix)
    * buckets are order-convex w.r.t. the total order, per-bucket counts
    * broadcast back as exclusive offsets, the within-bucket rank window
    * never sees the corpus. (A rank-limit pushdown can't help here —
    * every row gets a batch, nothing truncates — so the bucket cumsum
    * IS the right tool, unlike the domain cap.)
    */
  def lengthBatches(df: DataFrame, idCol: String, tokensCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize >= 1)
    val b = df
      .withColumn("_graft_sk", graft.ops.Sampling.shuffleKey(col(idCol)))
      .withColumn("_graft_bkt", substring(col("_graft_sk"), 1, graft.ops.Sampling.PrefixChars))
    val offsets = b.groupBy(col(tokensCol).as("_graft_s"), col("_graft_bkt"))
      .agg(count(lit(1)).as("_graft_c"))
      // single-partition BY DESIGN over the (length x 16^PrefixChars)-row
      // offsets relation, never the data — the "WindowExec: No Partition
      // Defined" warning it logs is benign
      .withColumn("_graft_offset",
        coalesce(sum(col("_graft_c")).over(
          Window.orderBy(col("_graft_s").desc, col("_graft_bkt"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_graft_s"), col("_graft_bkt").as("_graft_b2"),
        col("_graft_offset"))
    val localRank = row_number().over(
      Window.partitionBy(col(tokensCol), col("_graft_bkt"))
        .orderBy(col("_graft_sk"), col(idCol)))
    b.join(broadcast(offsets),
        col(tokensCol) === col("_graft_s")
          && col("_graft_bkt") === col("_graft_b2"))
      .withColumn("_graft_pos",
        col("_graft_offset") + localRank.cast("long") - 1L)
      .withColumn("batch_id", expr(s"_graft_pos DIV ${batchSize}L"))
      .drop("_graft_sk", "_graft_bkt", "_graft_s", "_graft_b2",
        "_graft_offset", "_graft_pos")
  }

  /** Per-batch padding audit over [[lengthBatches]]. */
  def lengthBatchStats(df: DataFrame, idCol: String, tokensCol: String,
      batchSize: Int): DataFrame =
    lengthBatches(df, idCol, tokensCol, batchSize)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col(tokensCol)).as("max_tokens"),
        sum(col(tokensCol)).as("sum_tokens"))
      .withColumn("pad_tokens",
        col("max_tokens") * col("n_docs") - col("sum_tokens"))

  def packSequencesSql(table: String, idCol: String, textCol: String,
      seqTokens: Int): String = {
    val L = seqTokens
    s"""WITH _t AS (
       |  SELECT $idCol, md5(CAST($idCol AS VARCHAR)) AS sk,
       |    string_split(trim($textCol), ' ') AS tk,
       |    CAST(len(string_split(trim($textCol), ' ')) AS BIGINT) AS n
       |  FROM $table),
       |_off AS (
       |  SELECT *, coalesce(SUM(n) OVER (ORDER BY sk, $idCol
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM _t),
       |_ex AS (
       |  SELECT *, unnest(range(CAST(floor(CAST(off AS DOUBLE) / $L) AS BIGINT),
       |    CAST(floor(CAST(off + n - 1 AS DOUBLE) / $L) AS BIGINT) + 1)) AS example_id
       |  FROM _off),
       |_pieces AS (
       |  SELECT example_id, greatest(example_id * $L, off) AS piece_from,
       |    least((example_id + 1) * $L, off + n) AS piece_until, $idCol, tk, off
       |  FROM _ex)
       |SELECT example_id, CAST(piece_from - example_id * $L AS BIGINT) AS token_start,
       |  $idCol,
       |  array_to_string(list_slice(tk, CAST(piece_from - off + 1 AS BIGINT),
       |    CAST(piece_until - off AS BIGINT)), ' ') AS piece_text,
       |  CAST(piece_until - piece_from AS BIGINT) AS piece_tokens
       |FROM _pieces""".stripMargin
  }

  /** DuckDB twin of [[chunkByTokens]] — same tokenization, same 1-based
    * slice arithmetic, same recount of `n_tokens` from the joined chunk
    * text. Keep formula-identical to the Column version.
    */
  def chunkSql(table: String, idCol: String, textCol: String,
      maxTokens: Int): String = {
    val n = maxTokens
    s"""WITH _toks AS (
       |  SELECT $idCol, string_split(trim($textCol), ' ') AS t FROM $table),
       |_ex AS (
       |  SELECT $idCol, t,
       |    unnest(range(CAST(ceil(len(t) / $n.0) AS BIGINT))) AS i
       |  FROM _toks),
       |_chunks AS (
       |  SELECT $idCol, CAST(i AS INTEGER) AS chunk_idx,
       |    array_to_string(list_slice(t, CAST(i*$n+1 AS BIGINT), CAST(i*$n+$n AS BIGINT)), ' ') AS chunk_text
       |  FROM _ex)
       |SELECT $idCol, chunk_idx, chunk_text,
       |  CAST(len(string_split(trim(chunk_text), ' ')) AS BIGINT) AS n_tokens
       |FROM _chunks""".stripMargin
  }

  /** Content-defined chunking (the rsync/LBFS/FastCDC family, at token
    * granularity): a new chunk starts at every token whose 48-bit md5
    * hash is ≡ 0 mod `modulus` — boundaries are a pure function of LOCAL
    * content, so identical text runs produce identical interior chunks
    * REGARDLESS of their position in the document. That positional
    * invariance is the whole point: fixed-size chunking
    * ([[chunkByTokens]]) shatters after any insertion, while CDC chunks
    * realign immediately past the first post-edit boundary — the right
    * granularity for chunk-level dedup and delta storage of evolving
    * corpora. Expected chunk length ≈ `modulus` tokens.
    *
    * Output: (idCol, chunk_idx, chunk_hash, n_tokens) — the chunk is
    * identified by the md5 of its space-joined tokens (content-keyed, the
    * exact-dedup convention), so cross-document chunk dedup is a plain
    * groupBy(chunk_hash).
    *
    * Scale shape: tokens explode at scan speed; the boundary flag is one
    * hash per token; the chunk index is a running sum windowed PER
    * DOCUMENT (bounded by doc length, massively parallel across docs);
    * the chunk reassembly groups by (doc, chunk). No corpus-wide window
    * anywhere.
    */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      modulus: Int): DataFrame = {
    require(modulus >= 2, s"modulus must be >= 2, got $modulus")
    val toks = df.select(col(idCol),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "token")))
    val flagged = toks.withColumn("_graft_cut",
      when(col("pos") > 0 &&
        graft.sketch.Kmv.kmvHashCol(col("token")) % modulus === 0, 1L)
        .otherwise(0L))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    flagged
      .withColumn("chunk_idx", sum(col("_graft_cut")).over(w))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("token")))),
            s => s.getField("token"))).cast("binary")).as("chunk_hash"),
        count(lit(1)).as("n_tokens"))
  }

  /** DuckDB twin of [[cdcChunks]] over `documents`. */
  def cdcChunksSql(modulus: Int): String =
    s"""WITH tl AS (
       |  SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
       |tok AS MATERIALIZED (
       |  SELECT doc_id, unnest(t) AS token,
       |    unnest(range(0, len(t))) AS pos
       |  FROM tl),
       |fl AS (
       |  SELECT doc_id, pos, token,
       |    CASE WHEN pos > 0 AND
       |      CAST(('0x' || substr(md5(token), 1, 12)) AS BIGINT) % $modulus = 0
       |      THEN 1 ELSE 0 END AS cut
       |  FROM tok),
       |cidx AS (
       |  SELECT doc_id, pos, token,
       |    CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT)
       |      AS chunk_idx
       |  FROM fl)
       |SELECT doc_id, chunk_idx,
       |  md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash,
       |  CAST(count(*) AS BIGINT) AS n_tokens
       |FROM cidx GROUP BY doc_id, chunk_idx""".stripMargin
}
