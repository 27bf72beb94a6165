package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling: per-column completeness / cardinality / range
  * summaries and declarative constraint checks — the ingest-time audit a
  * training-data pipeline runs before trusting a new drop. (No reference
  * counterpart; north-star surface.)
  *
  * Scale shape: [[profile]] is ONE aggregation pass over the table — a
  * single global agg whose shuffle carries one partial-state row per
  * task, then a 1-row-to-N-rows `stack` unpivot on the driver-side
  * result. The exact `count(DISTINCT)` per column makes Catalyst plan an
  * Expand (input × #profiled-columns before the partial agg) — the
  * price of exact cardinality, which the gated query needs (HLL partial
  * states would avoid the Expand but give engine-specific counts).
  *
  * min/max are surfaced as strings so one schema fits every column type;
  * callers profile numeric-exact columns (ints, strings, cents) — a raw
  * double's shortest-repr formatting is engine-specific and belongs in
  * spec-land, not a hash-matched gate.
  */
object Profile {

  /** Long-format profile: one row per profiled column —
    * (col_name, total, non_null, n_distinct, min_val, max_val).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    // clear error instead of agg(mmAggs.head, ...) NoSuchElementException
    // (r16 ADVICE). NOTE the two-subtree split below scans df TWICE — the
    // deliberate trade for keeping both subtrees sort-free (a profile
    // input is a base-table scan; callers profiling an expensive derived
    // plan should persist it first).
    require(cols.nonEmpty, "profile: cols must be non-empty")
    // Two aggregation subtrees, not one: min/max over STRING columns have
    // immutable agg buffers, and one of them inside the count(DISTINCT)
    // Expand rewrite knocks the ENTIRE keyed aggregate off the hash path
    // (SortAggregate + a full sort of the #cols-expanded row stream on
    // BOTH sides of the exchange — measured 4.1 s vs 0.x at sf0.1,
    // OPTIMIZATION_r16). Split: counts/distincts hash-aggregate through
    // the Expand; min/max run as a GLOBAL agg (no grouping keys, so its
    // SortAggregate needs no Sort and streams the scan once). The two
    // 1-row results meet in a broadcast cross join — same rows, same
    // schema, no corpus-sized sort at any scale.
    val cntAggs = count(lit(1)).as("__total") +: cols.flatMap(c => Seq(
      count(col(c)).as(s"__${c}__nn"),
      countDistinct(col(c)).as(s"__${c}__nd")))
    val mmAggs = cols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__${c}__min"),
      max(col(c)).cast("string").as(s"__${c}__max")))
    val stacked = cols.map(c =>
      s"'$c', __total, `__${c}__nn`, `__${c}__nd`, `__${c}__min`, `__${c}__max`")
      .mkString(", ")
    df.agg(cntAggs.head, cntAggs.tail: _*)
      .crossJoin(broadcast(df.agg(mmAggs.head, mmAggs.tail: _*)))
      .select(expr(s"stack(${cols.size}, $stacked) AS " +
        "(col_name, total, non_null, n_distinct, min_val, max_val)"))
  }

  /** Declarative expectations over a [[profile]] result: each constraint
    * is (name, predicate over the profile row); returns the violation
    * rows — empty means the table passed. Runs on the ≤ #columns-row
    * profile, so it is free.
    */
  def violations(profiled: DataFrame,
      constraints: Seq[(String, Column)]): DataFrame =
    constraints.map { case (name, pred) =>
      profiled.filter(!pred)
        .select(lit(name).as("constraint"), col("col_name"))
    }.reduce(_.unionByName(_))

  /** Single-pass audit counters via Spark's `observe` API: the metrics
    * ride the task completion path of ONE materialization of `df` — zero
    * extra passes, zero extra shuffles, which is how a production
    * pipeline counts what each gate dropped without re-scanning 100 TB
    * per counter. The materialization here is a `noop`-format write (all
    * compute, no I/O); in production it is the pipeline's real sink and
    * the counters are free. Returns long-format (metric, value); metric
    * expressions must aggregate to integer values.
    */
  def observeAudit(df: DataFrame, metrics: Seq[(String, Column)]): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, metrics.head._2.as(metrics.head._1),
        metrics.tail.map { case (n, c) => c.as(n) }: _*)
      .write.format("noop").mode("overwrite").save()
    val row = obs.get
    val spark = df.sparkSession
    import spark.implicits._
    metrics.map { case (n, _) => (n, row(n).toString.toLong) }
      .toDF("metric", "value")
  }

  /** DuckDB twin of [[profile]] (exact-distinct form) over `table`. */
  def profileSql(table: String, cols: Seq[String]): String =
    cols.map(c =>
      s"""SELECT '$c' AS col_name, count(*)::BIGINT AS total,
         |  count($c)::BIGINT AS non_null,
         |  count(DISTINCT $c)::BIGINT AS n_distinct,
         |  min($c)::VARCHAR AS min_val, max($c)::VARCHAR AS max_val
         |FROM $table""".stripMargin)
      .mkString("\nUNION ALL\n")

  /** Per-source dataset card — the release-notes summary every corpus
    * drop ships (HF dataset cards, Dolma/FineWeb reports): doc/token/
    * char volumes, mean length, language spread, and the exact-dup rate
    * (docs sharing a content hash beyond the first — [[graft.dedup
    * .Dedup]]'s exact-key definition, restated as `n − distinct(md5)`).
    * All integer arithmetic.
    *
    * Scale shape: one grouped agg over the scan; the two
    * count-distincts expand the row stream 2× into the same
    * map-side-combined agg (Expand), and the group count is the number
    * of SOURCES — the output is card-sized regardless of corpus size.
    */
  def corpusCard(df: DataFrame, srcCol: String, textCol: String,
      langCol: String): DataFrame =
    df.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.text.TextFunctions.tokenCount(col(textCol)).cast("long"))
          .as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        countDistinct(col(langCol)).as("n_langs"),
        (count(lit(1)) - countDistinct(md5(col(textCol)))).as("n_dup_docs"))
      .withColumn("mean_chars", expr("n_chars DIV n_docs"))

  /** DuckDB twin of [[corpusCard]] over `documents`. */
  def corpusCardSql: String =
    """SELECT source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS n_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs,
      |  CAST(sum(length(text)) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_chars
      |FROM documents GROUP BY source""".stripMargin
}
