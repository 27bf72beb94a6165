package graft.text

import graft.dedup.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end text-curation pipeline a training-data run actually
  * executes, composed from the library's scan-speed signals: language
  * gate → quality gates (length, repetition) → exact dedup survivor
  * selection. Everything before dedup is a fused scan-level filter (one
  * pass, no shuffle); dedup adds the one content-hash shuffle. The whole
  * pipeline is deterministic and SQL-twin-replayable.
  */
object Curation {

  // the gates of [[basicCuration]] and [[ruleFilter]], shared with their
  // DuckDB twins
  private val Lang = "en"
  private val MinTokens = 30
  private val MaxRepetition = 0.2
  private val MinWords = 40
  private val MaxWords = 100000
  private val MinAvgWordLen = 3.0
  private val MaxAvgWordLen = 10.0

  /** Keep documents that are (a) identified as English, (b) at least
    * 30 tokens, (c) under a 0.2 repeated-3-gram ratio,
    * then (d) the minimum-id survivor per exact text group. Output keeps
    * the quality signals alongside the row for downstream weighting.
    */
  def basicCuration(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val gated = df
      .withColumn("lang_id", TextFunctions.langId(col(textCol)))
      .withColumn("n_tokens", TextFunctions.tokenCount(col(textCol)).cast("long"))
      .withColumn("repetition", Dedup.repeatedNgramRatio(col(textCol), 3))
      .filter(col("lang_id") === Lang &&
        col("n_tokens") >= MinTokens &&
        col("repetition") < MaxRepetition)
    Dedup.exactDedup(gated, idCol, textCol)
  }

  /** DuckDB twin of [[basicCuration]] over a `documents`-shaped table —
    * the language-ID formula comes from the shared generator, the
    * repetition CTEs mirror the proven `x_text_repetition` oracle, the
    * survivor selection mirrors `exactDedup`'s window. Keep
    * formula-identical to the Column versions.
    */
  def basicCurationSql(table: String, idCol: String, textCol: String): String =
    s"""WITH toks AS (
       |  SELECT $idCol, $textCol, string_split(trim($textCol), ' ') AS t FROM $table),
       |ng AS (SELECT DISTINCT $idCol, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram
       |       FROM (SELECT $idCol, t, unnest(range(1, len(t) - 1)) AS i FROM toks)),
       |cnt AS (SELECT $idCol, count(*) AS u FROM ng GROUP BY $idCol),
       |sig AS (
       |  SELECT tk.$idCol, tk.$textCol,
       |    ${TextFunctions.langIdSql(s"tk.$textCol")} AS lang_id,
       |    CAST(len(tk.t) AS BIGINT) AS n_tokens,
       |    CASE WHEN len(tk.t) - 2 <= 0 THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(1.0 AS DOUBLE) - CAST(c.u AS DOUBLE) / CAST(len(tk.t) - 2 AS DOUBLE)
       |    END AS repetition
       |  FROM toks tk LEFT JOIN cnt c ON tk.$idCol = c.$idCol),
       |gated AS (
       |  SELECT * FROM sig WHERE lang_id = '$Lang' AND n_tokens >= $MinTokens
       |    AND repetition < $MaxRepetition)
       |SELECT $idCol, lang_id, n_tokens, repetition FROM gated
       |QUALIFY row_number() OVER (PARTITION BY md5($textCol) ORDER BY $idCol) = 1""".stripMargin

  /** C4/Gopher-style heuristic rule filter (Raffel et al. 2020 §2.2;
    * Rae et al. 2021 A1.1): per-document boolean rule signals plus the
    * composite keep decision —
    *   - terminal punctuation: the document must end in `.` `!` or `?`
    *   - no curly braces (code fragments)
    *   - no boilerplate phrases ("lorem ipsum", "click here")
    *   - word count within [40, 100000]
    *   - mean word length within [3.0, 10.0]
    *
    * Every signal is a pure scan expression (codegen, no shuffle, no
    * UDF) — at 100 TB this runs at scan speed and the keep flag pipelines
    * into whatever selection follows. The mean-word-length bound compares
    * a double that is one exact int/int division on both engines
    * (identical op order — the repo determinism convention), so the
    * DuckDB twin replays every decision bit-for-bit.
    */
  def ruleFilter(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val sig = df.select(col(idCol),
      TextFunctions.tokenCount(t).cast("long").as("n_words"),
      TextFunctions.avgWordLen(t).as("avg_word_len"),
      substring(t, -1, 1).isin(".", "!", "?").as("ends_punct"),
      (instr(t, "{") > 0).as("has_brace"),
      (instr(t, "lorem ipsum") > 0 || instr(t, "click here") > 0)
        .as("has_boilerplate"))
    sig.withColumn("keep",
      col("ends_punct") && !col("has_brace") && !col("has_boilerplate") &&
        col("n_words") >= MinWords && col("n_words") <= MaxWords &&
        col("avg_word_len") >= MinAvgWordLen &&
        col("avg_word_len") <= MaxAvgWordLen)
  }

  /** DuckDB twin of [[ruleFilter]] — formula-identical signals over a
    * `(idCol, textCol)` relation. This emits its own `WITH`, so prefix
    * CTEs (e.g. the planted-artifact relation) go in the `ctes`
    * parameter, NOT around it via `DerivedSql.withCtes` (nesting two
    * WITH clauses is a parse error).
    */
  def ruleFilterSql(table: String, idCol: String, textCol: String,
      ctes: Seq[String] = Nil): String =
    s"""WITH ${ctes.map(_ + ",\n").mkString}sig AS (
       |  SELECT $idCol,
       |    CAST(${TextFunctions.tokenCountSql(textCol)} AS BIGINT) AS n_words,
       |    ${TextFunctions.avgWordLenSql(textCol)} AS avg_word_len,
       |    right($textCol, 1) IN ('.', '!', '?') AS ends_punct,
       |    instr($textCol, '{') > 0 AS has_brace,
       |    (instr($textCol, 'lorem ipsum') > 0 OR instr($textCol, 'click here') > 0) AS has_boilerplate
       |  FROM $table)
       |SELECT *,
       |  (ends_punct AND NOT has_brace AND NOT has_boilerplate
       |    AND n_words >= $MinWords AND n_words <= $MaxWords
       |    AND avg_word_len >= $MinAvgWordLen AND avg_word_len <= $MaxAvgWordLen) AS keep
       |FROM sig""".stripMargin
}
