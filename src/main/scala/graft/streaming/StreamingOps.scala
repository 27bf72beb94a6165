package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

/** A CDC change row flowing through [[StreamingOps.streamingCompact]].
  * `value` is Option: a NULL value is a real change row (the hostile-
  * input sweep crashed the primitive-Double encoder with
  * NOT_NULL_ASSERT_VIOLATION; operators must not narrow the table's
  * nullability contract).
  */
final case class ChangeRow(user_id: Long, event_id: Long, ts_ms: Long,
    event_type: String, value: Option[Double], is_delete: Boolean)

/** Per-user running totals carried as explicit state (see
  * [[StreamingOps.statefulUserTotals]]). */
final case class UserRunningTotal(user_id: Long, n_events: Long, value_cents: Long)

/** Streaming operators over the `events` table shape (event_id, ts,
  * user_id, event_type, value, props): tumbling-window aggregation and
  * sessionization. Each has a batch formulation (used by the DuckDB
  * oracle) and a Structured Streaming formulation (`readStream` +
  * watermark) over the same logic — the Spark idiom where one query
  * definition serves both modes.
  *
  * Money math: `value` is converted to integer cents via
  * `floor(value*100 + 0.5)` *before* aggregation, so sums are exact
  * integers regardless of aggregation order — deterministic at any
  * parallelism (doubles summed in shuffle order are not).
  */
object StreamingOps {

  def valueCents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 100 + 0.5)

  /** Tumbling window of the windowed event stats, batch and streaming. */
  private val WindowDuration = "1 hour"

  /** How far after a click a purchase still joins it, batch and streaming. */
  private val JoinHorizon = "30 minutes"

  /** How far past the last real event [[writeFiniteSource]]'s sentinel
    * sits: 7 days, beyond any window or watermark here. */
  private val SentinelAdvanceMillis = 7L * 24 * 3600 * 1000

  /** Tumbling-window event stats (batch form). Window start is exposed as
    * a plain timestamp column so results align with `date_trunc`.
    */
  def windowedEventStats(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), WindowDuration), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(valueCents(col("value"))).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Streaming form of [[windowedEventStats]]: same aggregation over
    * `readStream`, with a watermark bounding state. Late data beyond the
    * watermark is dropped; output mode `update`/`append` chosen by caller.
    */
  def streamingWindowedEventStats(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, watermark: String = "2 hours",
      sourceOptions: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .options(sourceOptions)
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), WindowDuration), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(valueCents(col("value"))).as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Sentinel marker used by [[writeFiniteSource]]; rows carrying it never
    * appear in flushed output (their windows stay open past the final
    * watermark) but callers filter on it anyway, belt and braces.
    */
  val SentinelEventType = "_sentinel"

  /** Fixed-grid histogram cell for `value` (cents grid, clamped, 64
    * cells) — the [[graft.sketch.QuantileSketch]] grid as one column
    * expression, deterministic in both engines (one IEEE multiply, one
    * floor, then integer clamps/division).
    */
  def valueHistCell: org.apache.spark.sql.Column =
    expr("least(greatest(CAST(floor(value * 100.0) AS BIGINT), 0L), 65535L) div 1024L")

  /** Per-hour fixed-grid value histogram (batch form): the incremental
    * quantile-sketch maintenance shape — each hour's KB-scale histogram
    * is a mergeable summary ([[graft.sketch.QuantileSketch.merge]]), so
    * an ingest pipeline answers "this hour's value quantiles" without
    * rescanning history.
    */
  def hourlyValueHistogram(events: DataFrame): DataFrame =
    events
      // null-SAFE inequality, defensively: a NULL event_type row is a
      // real row and must survive this filter. Today's testdata has no
      // NULLs, but `=!=` evaluates to NULL there and would silently drop
      // such rows while the DuckDB oracle keeps them
      .filter(!(col("event_type") <=> SentinelEventType))
      .groupBy(window(col("ts"), "1 hour"), valueHistCell.as("cell"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("cell"), col("cnt"))

  /** Streaming form of [[hourlyValueHistogram]]: the same bounded-cell
    * aggregation over `readStream` with watermarked state — per
    * (hour, cell) counters, at most hours × 64 live rows regardless of
    * stream volume. The production shape for maintaining distribution
    * sketches at ingest: state is the sketch, flushed per closed window.
    */
  def streamingHourlyValueHistogram(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, watermark: String = "2 hours",
      sourceOptions: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .options(sourceOptions)
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .withWatermark("ts", watermark)
      // NOTE: do NOT filter the sentinel here — a pre-aggregation filter
      // gets pushed below the watermark operator (and into the source
      // scan), so the sentinel's far-future ts never reaches the
      // watermark node and the final real windows never flush (measured:
      // the last 3 hourly windows, 27 rows, lost at sf0.01). Sentinel
      // exclusion is post-hoc via [[dropSentinelWindows]] on the sink.
      .groupBy(window(col("ts"), "1 hour"), valueHistCell.as("cell"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("cell"), col("cnt"))

  /** Belt-and-braces sentinel exclusion for window-keyed sinks whose
    * grouping aggregated `event_type` away (the histogram gate): the
    * sentinel's far-future window never flushes in append mode, but a
    * future watermark/output-mode change could silently leak it into the
    * oracle comparison. Any flushed window at or before the max REAL
    * event time is legitimate; the sentinel's window starts ≥ its
    * advance (7 days) past that. Bound rides a broadcast 1-row stats
    * relation — no driver action, no effect on the streaming plan.
    */
  def dropSentinelWindows(sink: DataFrame, src: DataFrame): DataFrame = {
    val cutoff = src
      .filter(!(col("event_type") <=> SentinelEventType))
      .agg(max(col("ts")).as("_max_real_ts"))
    sink.crossJoin(broadcast(cutoff))
      .filter(col("window_start") <= col("_max_real_ts"))
      .drop("_max_real_ts")
  }

  /** Stream-static enrichment: the event stream inner-joined to a STATIC
    * dimension, then window-aggregated per dimension attribute. The
    * stream-static join is STATELESS — Spark re-plans the static side
    * per micro-batch (broadcast here: a dim table belongs on every
    * executor), so only the windowed agg carries state, still bounded by
    * the watermark. This is the production shape for enriching a stream
    * with a slowly-changing dimension: the dim can be swapped between
    * micro-batches without touching the query's state.
    *
    * The staged source's far-future sentinel row (user −1) matches no
    * dimension row, so the inner join drops it while its event time still
    * advances the watermark (watermarks track the SOURCE, before the
    * join) — exactly the flush behavior the finite staging needs.
    */
  def streamStaticEnriched(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, dim: DataFrame, dimKey: String, dimAttr: String,
      watermark: String = "2 hours"): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .withWatermark("ts", watermark)
      .join(broadcast(dim.select(col(dimKey), col(dimAttr))),
        col("user_id") === col(dimKey))
      .groupBy(window(col("ts"), WindowDuration), col(dimAttr))
      .agg(count(lit(1)).as("n_events"),
        sum(valueCents(col("value"))).as("value_cents"))
      .select(col("window.start").as("window_start"), col(dimAttr),
        col("n_events"), col("value_cents"))

  /** STATELESS streaming C4/Gopher rule gate: an unbounded document
    * ingest filtered row-by-row by [[graft.text.Curation.ruleFilter]]'s
    * pure scan expressions — no join, no shuffle, no watermark, no state
    * store; the ingest-time quality gate a curation deployment runs
    * before anything stateful sees the stream (dropping rule-failures at
    * the door is the cheapest token you never process downstream). Each
    * keep decision is a pure function of the row, so any micro-batch
    * split equals the batch filter (spec-asserted).
    */
  def streamingRuleFilter(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, idCol: String, textCol: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame =
    graft.text.Curation.ruleFilter(
        spark.readStream.schema(schemaFrom.schema).options(sourceOptions)
          .parquet(sourcePath),
        idCol, textCol)
      .filter(col("keep"))

  /** Streaming KMV bucket-min sketch maintenance: the distinct-count
    * sketch as a live update-mode aggregation — state is EXACTLY k rows
    * (one min per `h mod k` bucket), duplicates can't move a min so no
    * dedup state exists, and the per-bucket min after the last batch
    * equals the batch sketch bit-for-bit (min is associative and
    * arrival-order-free). The incremental-sketch complement of the
    * hourly histogram gate: that one windows state by time; this one
    * holds a corpus-lifetime summary in O(k).
    */
  def streamingBucketMinSketch(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, valueCol: String, k: Int): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .select(graft.sketch.Kmv.kmvHashCol(col(valueCol)).as("h"))
      .groupBy((col("h") % k).as("bucket"))
      .agg(min(col("h")).as("min_h"))

  /** Streaming HLL register maintenance: the fixed-size distinct-count
    * sketch as a live update-mode aggregation — state is AT MOST
    * `m = 2^p` rows (one max-rank per bucket), duplicates can't raise a
    * max so no dedup state exists, and the per-bucket max after the last
    * batch equals the batch register table bit-for-bit (max is
    * associative and arrival-order-free). The register-sketch sibling of
    * [[streamingBucketMinSketch]]: same contract, m fixed bytes of state
    * instead of k hashes, and the merge across streams/shards is a max.
    * Empty buckets are materialized (as 0) downstream at estimate time
    * ([[graft.sketch.Hll.hllRegisters]] grid-joins; the stream emits
    * only touched buckets).
    */
  def streamingHllRegisters(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, valueCol: String, p: Int,
      sourceOptions: Map[String, String] = Map.empty): DataFrame =
    graft.sketch.Hll.bucketRho(
        spark.readStream
          .schema(schemaFrom.schema)
          .options(sourceOptions)
          .parquet(sourcePath)
          .select(graft.sketch.Kmv.kmvHashCol(col(valueCol)).as("h")),
        p)
      .groupBy(col("bucket"))
      .agg(max(col("rho")).as("register"))

  /** Streaming COUNT-MIN sketch maintenance: the heavy-hitter sketch as
    * a live update-mode aggregation — state is AT MOST `Depth · 2^w`
    * counter rows (1024 at the gate's w = 8) regardless of token-stream
    * cardinality, each counter an associative sum, so the last update
    * per (r, bucket) equals the batch sketch bit-for-bit. The frequency
    * sibling of [[streamingBucketMinSketch]] (distinct) and
    * [[streamingHllRegisters]] (distinct, fixed-size): together the
    * three standard streamable summaries — count, cardinality,
    * cardinality-compact. Point queries against the live counters go
    * through [[graft.sketch.CountMin.estimates]] downstream.
    */
  def streamingCmsSketch(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, textCol: String, widthBits: Int,
      sourceOptions: Map[String, String] = Map.empty): DataFrame =
    graft.sketch.CountMin.sketch(
      graft.sketch.CountMin.tokens(
        spark.readStream
          .schema(schemaFrom.schema)
          .options(sourceOptions)
          .parquet(sourcePath),
        textCol),
      widthBits)

  /** Streaming BLOOM FILTER maintenance: membership joins the live
    * summary family (count: [[streamingCmsSketch]], cardinality:
    * [[streamingBucketMinSketch]]/[[streamingHllRegisters]]) — bit-OR
    * is associative and duplicate-immune, so the filter maintains as an
    * update-mode per-position aggregation with AT MOST `mBits` state
    * rows, and the position set after the last batch equals the batch
    * filter exactly. The dedup-at-the-door primitive: ingest keeps the
    * filter live; arrivals probe it before anything expensive runs.
    */
  def streamingBloomPositions(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, valueCol: String, mBits: Long, kHashes: Int,
      sourceOptions: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .options(sourceOptions)
      .parquet(sourcePath)
      .select(col(valueCol).as("v"))
      .transform(graft.sketch.Bloom.keyPositions(_, mBits, kHashes))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n_hits"))

  /** STATELESS streaming winnow fingerprint extraction: each arriving
    * document emits its MOSS fingerprint set ([[graft.dedup.WinnowExpr]]
    * — one codegen scalar, so the whole selection runs at ingest scan
    * speed with no state). The deployment shape: fingerprints land in
    * the dedup index on arrival; the candidate join happens downstream
    * against the accumulated index (the [[streamingIncrementalDedup]]
    * cadence), never against the unbounded stream itself.
    */
  def streamingWinnowFingerprints(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .select(col(idCol),
        explode(graft.dedup.WinnowExpr.fingerprintsCol(col(textCol), k, w))
          .as("fingerprint"))

  /** Streaming per-source ingest counters: the live half of the dataset
    * card ([[graft.ops.Profile.corpusCard]]) — doc/token/char volumes per
    * source as an UPDATE-mode aggregation. All three measures are
    * associative sums, so state is exactly one row per source (no
    * per-doc state, no watermark needed for a running total) and the
    * last update per source equals the batch card's volumes bit-for-bit
    * regardless of batch boundaries. The distinct-valued card columns
    * (languages, dup rate) stay batch-side: distinctness is not
    * associative — streaming them takes the KMV sketch
    * ([[streamingBucketMinSketch]]), which is its own gate.
    */
  def streamingSourceCounters(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, srcCol: String, textCol: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .options(sourceOptions)
      .parquet(sourcePath)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.text.TextFunctions.tokenCount(col(textCol)).cast("long"))
          .as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"))

  /** STATELESS streaming char-entropy scoring: every arriving document
    * gets its fixed-point character-distribution entropy
    * ([[graft.text.CharEntropyExpr]]) at scan speed — the codegen scalar
    * needs no model, no join, no state, so the streaming form IS the
    * batch expression on an unbounded scan; micro-batch output equals
    * the batch twin row-for-row.
    */
  def streamingEntropyScores(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, idCol: String, textCol: String): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .filter(length(col(textCol)) > 0)
      .select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        graft.text.CharEntropyExpr.entropyCol(col(textCol)).as("entropy_fp"))

  /** STATELESS streaming DSIR scoring: an unbounded document ingest
    * scored row-by-row against a staged importance model embedded as a
    * map literal ([[graft.text.Vocabulary.dsirScoreCol]]) — no join, no
    * shuffle, no watermark, no state store; every micro-batch is a pure
    * scan, so the operator sustains ingest at scan speed and the model
    * refreshes by restarting the query with a re-staged map (the same
    * index-staging cadence as the dedup corpus index). This is the
    * ingest-time half of DSIR: score on arrival, select/sample
    * downstream of the sink.
    */
  def streamingDsirScores(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, idCol: String, textCol: String,
      weights: Map[String, Long]): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .select(col(idCol),
        graft.text.Vocabulary.dsirFeatureCountCol(col(textCol)).as("n_feats"),
        graft.text.Vocabulary.dsirScoreCol(col(textCol), weights)
          .as("dsir_logw_fp"))

  /** Ingest-time near-dedup as a REAL StreamingQuery: every arriving
    * micro-batch is cleaned against the STAGED corpus dedup index
    * ([[graft.dedup.Dedup.CorpusDedupIndex]] — the persisted, appendable
    * deployment artifact) and survivors append to the parquet sink. The
    * per-batch probe is [[graft.dedup.Dedup.incrementalDedup]]'s O(batch)
    * equi-join plan, run inside `foreachBatch` — required because the
    * probe composes joins and aggregations append-mode streaming cannot
    * run natively, and exactly the per-batch shape a dedup-on-ingest
    * deployment uses. No watermark and no state store: each document's
    * keep/drop decision is a pure function of (document, index), so
    * per-batch probing of any micro-batch split equals the one-shot batch
    * probe (spec-asserted under `maxFilesPerTrigger = 1`). The index is
    * frozen for the query's lifetime; a deployment appends accepted
    * survivors to the persisted index and restarts the query on its
    * re-staging cadence (the staged-model pattern the DSIR scorer uses).
    * The `corpus` argument [[graft.dedup.Dedup.incrementalDedup]] would
    * derive indexes from is passed EMPTY — with a precomputed index the
    * corpus is never scanned, which is the entire point at 100 TB.
    */
  def streamingIncrementalDedup(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, idCol: String, textCol: String,
      index: graft.dedup.Dedup.CorpusDedupIndex, outRoot: String,
      n: Int = 3, tau: Double = 0.8, numHashes: Int = 32,
      rowsPerBand: Int = 2, maxFilesPerTrigger: Option[Int] = None,
      timeoutMs: Long = 600000L,
      idempotentBatchPaths: Boolean = false): DataFrame = {
    deleteRecursively(new java.io.File(outRoot))
    val emptyCorpus = schemaFrom.limit(0)
    val reader = spark.readStream.schema(schemaFrom.schema)
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m))
    val sq = reader.parquet(sourcePath)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val survivors = graft.dedup.Dedup.incrementalDedup(emptyCorpus,
          batch, idCol, textCol, n, tau, numHashes, rowsPerBand, Some(index))
        // same at-least-once posture as streamingValidateQuarantine:
        // keep/drop is a pure function of (document, frozen index), so a
        // replayed epoch recomputes identical survivors and the
        // batchId-keyed overwrite absorbs it exactly. An epoch already
        // folded by EpochLayout.compactEpochSink is absorbed by SKIP —
        // its rows live inside the merged dir
        if (idempotentBatchPaths) {
          if (!EpochLayout.compactedUpTo(spark, s"$outRoot/data").exists(batchId <= _))
            survivors.write.mode("overwrite")
              .parquet(s"$outRoot/data/batch=$batchId")
        } else survivors.write.mode("append").parquet(s"$outRoot/data")
      }
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$outRoot/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    if (!sq.awaitTermination(timeoutMs)) {
      sq.stop()
      throw new IllegalStateException(
        s"streaming query did not terminate within ${timeoutMs} ms")
    }
    // a zero-epoch source leaves the sink dir nonexistent in both
    // layouts — return the empty survivor relation, not a reader error
    if (idempotentBatchPaths)
      EpochLayout.readEpochSink(spark, s"$outRoot/data", schemaFrom)
    else if (!new java.io.File(s"$outRoot/data").isDirectory)
      schemaFrom.limit(0)
    else spark.read.parquet(s"$outRoot/data")
  }

  /** Ingest VALIDATION as a REAL StreamingQuery — the stream-boundary
    * deployment of [[graft.ops.Validate]]: every arriving micro-batch is
    * split row-by-row into the validated stream (appended to the `valid`
    * sink — the input every downstream operator's contract assumes) and
    * the per-(row, violation) quarantine audit (appended to the
    * `quarantine` sink, violation names attached, so "why was this row
    * dropped" stays answerable at ingest time, not in a post-mortem
    * rescan). The rules are pure scan expressions (no join, no
    * watermark, no state store), so the split is a pure function of each
    * row and ANY micro-batch decomposition equals the batch
    * [[graft.ops.Validate.valid]]/[[graft.ops.Validate.violationRows]]
    * partition exactly (spec-asserted under `maxFilesPerTrigger = 1`).
    *
    * Two sinks from one query take `foreachBatch` — the standard
    * Structured Streaming multi-sink idiom; the batch is persisted so
    * the source scan is paid once, not once per sink.
    *
    * RETRY SAFETY (`idempotentBatchPaths`): foreachBatch gives
    * at-least-once delivery — if an executor dies after the `valid`
    * write but before the epoch commits, the engine REPLAYS the batch
    * and a plain append double-counts every row of the first attempt.
    * With `idempotentBatchPaths = true` each batch OVERWRITES its own
    * `batch=<id>` directory under each sink ([[writeValidatedBatch]]),
    * so a replay of batch N rewrites exactly batch N's output and the
    * sinks stay a function of the committed offsets — the standard
    * batchId-keyed idempotence pattern for file sinks behind
    * foreachBatch. Read-back is marker-aware via
    * [[EpochLayout.readEpochSink]] (the `batch=` directories are retry
    * epochs, not data partitions — they must not surface as a column;
    * epochs folded by [[EpochLayout.compactEpochSink]] are read from the
    * merged dir instead). The default stays the flat append: the gated
    * `AvailableNow` runs over an immutable staging have no retry window
    * to protect, and a flat sink is what the batch twins' readers
    * expect on disk — though two gates
    * (`x_stream_validate_embeddings_exec`, `x_stream_neardedup_exec`)
    * and the compaction gate deliberately opt INTO the idempotent
    * layout so that mode has gate-level execution coverage, not just
    * its spec twins.
    *
    * RESTART (`resumeFromCheckpoint = true`): keep the existing
    * checkpoint and sinks instead of starting fresh — the recovery path
    * after a failed run. The engine replays the uncommitted epoch with
    * the SAME batchId and data (offsets were logged before the attempt),
    * which is exactly the window `idempotentBatchPaths` protects.
    *
    * `afterBatchWrite` runs inside `foreachBatch` AFTER the sink writes
    * of each epoch — a metrics/fault-injection seam: a hook that throws
    * fails the epoch after its writes landed but before its commit,
    * which is the precise at-least-once hazard (the crash-injection spec
    * drives a real engine retry through it).
    */
  def streamingValidateQuarantine(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, idCol: String,
      rules: Seq[(String, org.apache.spark.sql.Column)], outRoot: String,
      maxFilesPerTrigger: Option[Int] = None,
      timeoutMs: Long = 600000L,
      idempotentBatchPaths: Boolean = false,
      resumeFromCheckpoint: Boolean = false,
      afterBatchWrite: Long => Unit = _ => ()): (DataFrame, DataFrame) = {
    if (!resumeFromCheckpoint) deleteRecursively(new java.io.File(outRoot))
    val reader = spark.readStream.schema(schemaFrom.schema)
    maxFilesPerTrigger.foreach(m => reader.option("maxFilesPerTrigger", m))
    val sq = reader.parquet(sourcePath)
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeValidatedBatch(batch, batchId, idCol, rules, outRoot,
          idempotentBatchPaths)
        afterBatchWrite(batchId)
      }
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$outRoot/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    if (!sq.awaitTermination(timeoutMs)) {
      sq.stop()
      throw new IllegalStateException(
        s"streaming query did not terminate within ${timeoutMs} ms")
    }
    (readValidatedSink(spark, outRoot, "valid", idCol, rules, schemaFrom,
      idempotentBatchPaths),
      readValidatedSink(spark, outRoot, "quarantine", idCol, rules,
        schemaFrom, idempotentBatchPaths))
  }

  /** Read one of [[streamingValidateQuarantine]]'s sinks back, in either
    * layout. A source that yielded zero epochs leaves the sink dir
    * nonexistent — return the correctly-shaped EMPTY relation (the batch
    * split of zero rows) instead of an unhelpful reader error.
    */
  private[graft] def readValidatedSink(spark: SparkSession, outRoot: String,
      name: String, idCol: String,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      schemaFrom: DataFrame, idempotentBatchPaths: Boolean): DataFrame = {
    def emptyLike: DataFrame =
      if (name == "valid") graft.ops.Validate.valid(schemaFrom.limit(0), rules)
      else graft.ops.Validate.violationRows(schemaFrom.limit(0), idCol, rules)
    if (idempotentBatchPaths)
      EpochLayout.readEpochSink(spark, s"$outRoot/$name", emptyLike)
    else if (!new java.io.File(s"$outRoot/$name").isDirectory)
      emptyLike.limit(0)
    else spark.read.parquet(s"$outRoot/$name")
  }

  /** The per-batch dual-sink write behind
    * [[streamingValidateQuarantine]], factored out so the RETRY path is
    * directly testable: calling it twice with the SAME `batchId` in
    * idempotent mode must leave the sinks exactly as one call would (a
    * replayed epoch overwrites its own `batch=<id>` directories), while
    * append mode double-writes — which is why at-least-once foreachBatch
    * deployments key their writes by batchId.
    */
  private[graft] def writeValidatedBatch(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long, idCol: String,
      rules: Seq[(String, org.apache.spark.sql.Column)], outRoot: String,
      idempotentBatchPaths: Boolean): Unit = {
    batch.persist()
    try {
      // the two sink writes are independent jobs over disjoint dirs fed
      // by the same persisted batch — submit them from two threads so
      // the quarantine write back-fills the valid write's commit tail
      // (guide §2.6); both complete before this returns, so the
      // at-least-once window (and the afterBatchWrite fault seam) is
      // unchanged
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val writes: Seq[Future[Unit]] =
        if (idempotentBatchPaths) Seq(
          // an epoch at or below a sink's EpochLayout compaction marker
          // is absorbed by SKIP: its rows already live inside the merged
          // dir (replays are deterministic — the checkpoint fixes the
          // epoch's offsets and the split is row-pure), and readEpochSink
          // would ignore a rewritten batch= dir at that id anyway — two
          // independent layers of replay safety
          Future {
            if (!EpochLayout.compactedUpTo(batch.sparkSession, s"$outRoot/valid")
                .exists(batchId <= _))
              graft.ops.Validate.valid(batch, rules)
                .write.mode("overwrite")
                .parquet(s"$outRoot/valid/batch=$batchId")
          },
          Future {
            if (!EpochLayout.compactedUpTo(batch.sparkSession, s"$outRoot/quarantine")
                .exists(batchId <= _))
              graft.ops.Validate.violationRows(batch, idCol, rules)
                .write.mode("overwrite")
                .parquet(s"$outRoot/quarantine/batch=$batchId")
          })
        else Seq(
          Future {
            graft.ops.Validate.valid(batch, rules)
              .write.mode("append").parquet(s"$outRoot/valid")
          },
          Future {
            graft.ops.Validate.violationRows(batch, idCol, rules)
              .write.mode("append").parquet(s"$outRoot/quarantine")
          })
      // await ALL writes before rethrowing the first failure (r16
      // ADVICE): rethrowing on the first failed future would leave the
      // sibling write running detached past the batch's unpersist, and
      // on replay the zombie overwrite of the same batch=<id> dir could
      // race the replayed write
      writes.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
        .foreach(_.get)
    } finally { batch.unpersist(); () }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** Stage a finite event set as a streaming file source that FLUSHES:
    * append-mode sinks only emit windows/sessions the watermark has passed,
    * and a finite source's watermark stops at (max event time − watermark
    * delay) — permanently withholding the trailing windows. Planting one
    * far-future sentinel row (nonexistent user −1, event_type `_sentinel`)
    * advances the final watermark past every REAL window, so the engine's
    * closing no-data micro-batch emits all of them.
    *
    * The source is written as a SINGLE file (plus the engine's metadata):
    * one micro-batch ingests everything, so the watermark is still at its
    * initial value while real data is processed — nothing is dropped as
    * late, which multi-batch ingestion could not guarantee (a file
    * containing the sentinel processed early would late-drop everything
    * after it). One file is not the 100 TB shape — a production stream is
    * unbounded and ordered by arrival; this staging exists to execute the
    * real streaming operators on driver-checkable finite data.
    */
  def writeFiniteSource(events: DataFrame, srcRoot: String): Unit = {
    deleteRecursively(new java.io.File(srcRoot))
    val slim = events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val maxTs = slim.agg(max(col("ts"))).head().getTimestamp(0)
    val sentinel = slim.sparkSession.range(1).select(
      lit(-1L).as("event_id"),
      timestamp_millis(lit(maxTs.getTime + SentinelAdvanceMillis)).as("ts"),
      lit(-1L).as("user_id"),
      lit(SentinelEventType).as("event_type"),
      lit(0.0).as("value"))
    slim.unionByName(sentinel).coalesce(1)
      .write.mode("overwrite").parquet(srcRoot)
  }

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * `n`, restoring the prior value after (set-and-restore — never a
    * silent session mutation). Why: every micro-batch commits one state
    * store PER shuffle partition regardless of data volume, so a
    * stateful streaming query's floor cost is partitions x
    * per-store-commit. The gated finite-source queries carry toy state;
    * at 32 partitions the commit floor dominated their wall time
    * (~22 s across the five `_exec` gates, measured r4). A production
    * deployment sizes this to real key cardinality instead.
    */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run a (finite) streaming DataFrame end-to-end as a REAL
    * `StreamingQuery`: `Trigger.AvailableNow`, append mode, durable
    * parquet sink + checkpoint — the exactly-once file-sink shape a
    * production pipeline deploys — then return the sink read back.
    * Throws if the query does not terminate in `timeoutMs` or fails.
    */
  def runToParquetSink(streaming: DataFrame, outRoot: String,
      timeoutMs: Long = 600000L): DataFrame = {
    val spark = streaming.sparkSession
    deleteRecursively(new java.io.File(outRoot))
    val sq = streaming.writeStream
      .format("parquet")
      .option("path", s"$outRoot/data")
      .option("checkpointLocation", s"$outRoot/ckpt")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    if (!sq.awaitTermination(timeoutMs)) {
      sq.stop()
      throw new IllegalStateException(
        s"streaming query did not terminate within ${timeoutMs} ms")
    }
    spark.read.parquet(s"$outRoot/data")
  }

  /** [[runToParquetSink]] for UPDATE-mode queries (custom state emits a
    * refreshed row per key per batch; file sinks only accept append):
    * `foreachBatch` appends each micro-batch stamped with its batch id —
    * the idempotent-upsert consumption shape for update output. Readers
    * take the max-batch row per key ([[runUpdateToParquetSink]]'s caller);
    * with a single-file finite source there is exactly one update batch.
    *
    * REPLAY DECISION (r16): this sink deliberately KEEPS the stamped
    * append — file-level idempotence (the `batch=<id>` overwrite layout)
    * is unnecessary here because the READER contract already absorbs
    * at-least-once replays. A replayed epoch re-emits byte-identical
    * rows: the state store is versioned per batch, so the retry loads
    * state version N−1 and recomputes epoch N deterministically, and the
    * stamp is the same batchId. The consumer's latest-batch-wins
    * window (max `_graft_batch_id` per key, ties arbitrary among
    * IDENTICAL rows) therefore returns the same snapshot whether an
    * epoch's rows appear once or twice — duplicated files cost dead
    * bytes until compaction, never wrong answers. Spec-pinned by
    * duplicating an epoch's stamped output and asserting the consumed
    * snapshot is unchanged ([[StreamingOpsSpec]]). Contrast with the
    * validate/dedup sinks, whose readers consume raw rows (counts would
    * double) — those are the sinks that need [[EpochLayout]].
    */
  def runUpdateToParquetSink(streaming: DataFrame, outRoot: String,
      timeoutMs: Long = 600000L): DataFrame = {
    val spark = streaming.sparkSession
    deleteRecursively(new java.io.File(outRoot))
    val sq = streaming.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("_graft_batch_id", lit(batchId))
          .write.mode("append").parquet(s"$outRoot/data")
      }
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", s"$outRoot/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    if (!sq.awaitTermination(timeoutMs)) {
      sq.stop()
      throw new IllegalStateException(
        s"streaming query did not terminate within ${timeoutMs} ms")
    }
    spark.read.parquet(s"$outRoot/data")
  }

  /** Sessionization (batch form): a new session starts when the gap to the
    * previous event of the same user exceeds `gapMillis`. Classic
    * lag + cumulative-sum window pair; event_id breaks timestamp ties so
    * the order — and therefore the session assignment — is total and
    * deterministic.
    */
  def sessionize(events: DataFrame, gapMillis: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val newSession =
      when(unix_millis(col("ts")) - lag(unix_millis(col("ts")), 1).over(byUser) > gapMillis, 1)
        .when(lag(col("ts"), 1).over(byUser).isNull, 1)
        .otherwise(0)
    events
      .withColumn("_new_sess", newSession)
      .withColumn("session_idx",
        sum(col("_new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        sum(valueCents(col("value"))).as("value_cents"))
  }

  /** Streaming exactly-once dedup: `dropDuplicates` on the event key with
    * a watermark bounding the dedup state — the standard Structured
    * Streaming idiom for at-least-once sources. State holds only keys
    * newer than the watermark, so memory is bounded by (rate x watermark),
    * not stream length.
    */
  def streamingDedup(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, watermark: String = "2 hours"): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** Custom streaming state via `flatMapGroupsWithState`: per-user running
    * totals that survive across micro-batches. The state is an explicit
    * case class per key — the general tool when built-in
    * windows/session_window can't express the semantics (escalating
    * counters, custom eviction, cross-event machines). Update-mode output
    * emits the refreshed total for each user seen in the batch.
    */
  def statefulUserTotals(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame): Dataset[UserRunningTotal] = {
    import spark.implicits._
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .select(col("user_id"), col("value"))
      // Option value: the oracle is count(*) + SUM(cents) and SQL SUM
      // skips NULLs — a null-value event counts but contributes 0 cents
      .as[(Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunningTotal, UserRunningTotal](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[(Long, Option[Double])],
            state: GroupState[UserRunningTotal]) =>
          val prev = state.getOption.getOrElse(UserRunningTotal(uid, 0L, 0L))
          var n = prev.n_events
          var cents = prev.value_cents
          events.foreach { case (_, v) =>
            n += 1
            cents += v.map(x => math.floor(x * 100 + 0.5).toLong).getOrElse(0L)
          }
          val next = UserRunningTotal(uid, n, cents)
          state.update(next)
          Iterator(next)
      }
  }

  /** The per-user totals logic of [[StreamingOps.statefulUserTotals]] on
    * Spark 4's `transformWithState` API: explicit named state slots
    * ([[ValueState]]) with optional TTL, timers, and multiple state
    * variables per key — the successor to `flatMapGroupsWithState` for
    * custom streaming state. Requires the RocksDB state store provider.
    */
  class UserTotalsProcessor
      extends StatefulProcessor[Long, (Long, Option[Double]), UserRunningTotal] {
    @transient private var totals: ValueState[UserRunningTotal] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserRunningTotal]("totals",
        Encoders.product[UserRunningTotal], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Option[Double])],
        timerValues: TimerValues): Iterator[UserRunningTotal] = {
      val prev = if (totals.exists()) totals.get() else UserRunningTotal(key, 0L, 0L)
      var n = prev.n_events
      var cents = prev.value_cents
      rows.foreach { case (_, v) =>
        n += 1
        cents += v.map(x => math.floor(x * 100 + 0.5).toLong).getOrElse(0L)
      }
      val next = UserRunningTotal(key, n, cents)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** [[statefulUserTotals]] rebuilt on `transformWithState` (see
    * [[UserTotalsProcessor]]). The caller must run with
    * `spark.sql.streaming.stateStore.providerClass =
    * ...RocksDBStateStoreProvider` — the new state API only supports the
    * RocksDB store (which is also the store a 100 TB deployment wants:
    * state spills off-heap and snapshots to the checkpoint location).
    */
  def transformWithStateTotals(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame): Dataset[UserRunningTotal] = {
    import spark.implicits._
    spark.readStream
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .select(col("user_id"), col("value"))
      .as[(Long, Option[Double])]
      .groupByKey(_._1)
      .transformWithState(new UserTotalsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** [[graft.ops.Merge.compact]] as STREAMING state: keep-latest-per-key
    * CDC compaction via `transformWithState`. Each key's state is ONE row
    * (the current latest by (ts_ms, event_id)) — bounded by key
    * cardinality, not stream length, so an unbounded change stream
    * maintains a continuously-fresh materialized snapshot. Max-by-version
    * is order-independent: out-of-order arrival across micro-batches
    * converges to the same snapshot a batch compaction of the full
    * stream produces ([[StreamingOpsSpec]] asserts this under
    * maxFilesPerTrigger=1 with deliberately shuffled arrival).
    * Delete ops (`is_delete`) stay IN state — a delete must tombstone,
    * not vacate, or an out-of-order earlier update would resurrect the
    * key; the read-back filters tombstones out of the final snapshot.
    */
  class KeepLatestProcessor
      extends StatefulProcessor[Long, ChangeRow, ChangeRow] {
    @transient private var latest: ValueState[ChangeRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[ChangeRow]("latest",
        Encoders.product[ChangeRow], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ChangeRow],
        timerValues: TimerValues): Iterator[ChangeRow] = {
      var cur = if (latest.exists()) latest.get() else null
      rows.foreach { r =>
        if (cur == null || r.ts_ms > cur.ts_ms ||
            (r.ts_ms == cur.ts_ms && r.event_id > cur.event_id)) cur = r
      }
      latest.update(cur)
      Iterator.single(cur)
    }
  }

  /** The event stream as CDC changes (key user_id, version ts, tie
    * event_id, deletes = error events) compacted by
    * [[KeepLatestProcessor]]. Update-mode emissions; the caller's sink
    * read-back keeps each key's last update and drops tombstones —
    * yielding exactly the batch [[graft.ops.Merge.compact]] snapshot.
    * Requires the RocksDB state store (transformWithState constraint).
    */
  def streamingCompact(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame,
      sourceOptions: Map[String, String] = Map.empty): Dataset[ChangeRow] = {
    import spark.implicits._
    spark.readStream
      .schema(schemaFrom.schema)
      .options(sourceOptions)
      .parquet(sourcePath)
      // null-safe: a NULL event_type row is a real change row and must
      // survive (none in today's testdata, but `=!=` would silently drop
      // any future one while the batch twin keeps it). No watermark in
      // this TimeMode.None plan, so a pushed-down filter is harmless
      .filter(!(col("event_type") <=> SentinelEventType))
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ts_ms"), col("event_type"), col("value"),
        // three-valued alignment with the batch twin: compact's
        // `rn = 1 AND NOT is_delete` (and the oracle's
        // `event_type <> 'error'`) DROP a null-event_type winner, so the
        // streaming form must tombstone it too — a bare === would make
        // is_delete NULL and crash the primitive-Boolean encoder
        coalesce(col("event_type") === "error", lit(true)).as("is_delete"))
      .as[ChangeRow]
      .groupByKey(_.user_id)
      .transformWithState(new KeepLatestProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** Watermarked stream-stream inner join: clicks joined to the purchases
    * that follow within 30 minutes, per user. Both sides carry watermarks
    * and the join condition bounds the time range in BOTH directions, so
    * the engine can evict buffered rows once the watermark passes —
    * bounded state, the requirement for an unbounded 100 TB/day stream
    * (an unconstrained stream-stream join would buffer forever).
    */
  def streamStreamJoin(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, watermark: String = "2 hours"): DataFrame = {
    def side(eventType: String, prefix: String) = spark.readStream
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .filter(col("event_type") === eventType)
      .select(col("event_id").as(s"${prefix}_id"),
        col("user_id").as(s"${prefix}_user"),
        col("ts").as(s"${prefix}_ts"),
        col("value").as(s"${prefix}_value"))
      .withWatermark(s"${prefix}_ts", watermark)
    side("click", "click").join(side("purchase", "purch"),
      expr(s"""click_user = purch_user AND
              |purch_ts >= click_ts AND
              |purch_ts <= click_ts + INTERVAL $JoinHorizon""".stripMargin))
      .select(col("click_id"), col("purch_id"), col("click_user").as("user_id"),
        col("click_ts"), col("purch_ts"), col("purch_value"))
  }

  /** Batch twin of [[streamStreamJoin]] for equivalence checks. */
  def clickPurchaseJoinBatch(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purch_id"), col("user_id").as("purch_user"),
        col("ts").as("purch_ts"), col("value").as("purch_value"))
    clicks.join(purchases,
      expr(s"""user_id = purch_user AND
              |purch_ts >= click_ts AND
              |purch_ts <= click_ts + INTERVAL $JoinHorizon""".stripMargin))
      .select(col("click_id"), col("purch_id"), col("user_id"),
        col("click_ts"), col("purch_ts"), col("purch_value"))
  }

  /** Streaming sessionization shape: `flatMapGroupsWithState` is the
    * general tool, but for gap-based sessions Spark's built-in
    * `session_window` expresses the same semantics declaratively — state
    * handling, watermark eviction and merge logic come from the engine.
    */
  def streamingSessionize(spark: SparkSession, sourcePath: String,
      schemaFrom: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours",
      sourceOptions: Map[String, String] = Map.empty): DataFrame =
    spark.readStream
      .options(sourceOptions)
      .schema(schemaFrom.schema)
      .parquet(sourcePath)
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(valueCents(col("value"))).as("value_cents"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("value_cents"))
}
