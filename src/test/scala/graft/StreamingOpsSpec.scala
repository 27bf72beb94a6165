package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming forms must agree with their batch twins: stream
  * the events table from parquet with Trigger.AvailableNow into a memory
  * sink and compare against the batch aggregation of the same rows.
  */
class StreamingOpsSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // pid-scoped fixture root: fixed /tmp paths raced against a concurrent
  // test JVM this round (a stale-listing FILE_NOT_EXIST mid-suite), and
  // streaming checkpoints at a shared path could replay a previous run's
  // offsets against different source data
  private val base = s"${System.getProperty("java.io.tmpdir")}/graft_stream_spec_" +
    s"${ProcessHandle.current().pid()}"

  override def afterAll(): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    super.afterAll()
  }

  private lazy val eventsMicros = {
    // re-write events with micros timestamps so readStream sees a plain
    // TIMESTAMP schema (the shipped file is TIMESTAMP(NANOS))
    val path = s"$base/events_micros"
    DerivedModel.events(spark, dir).write.mode("overwrite").parquet(path)
    path
  }

  test("streaming windowed stats == batch windowed stats") {
    val batchDf = spark.read.parquet(eventsMicros)
    val expected = StreamingOps.windowedEventStats(batchDf)
      .collect().map(_.toSeq).toSet

    val sq = StreamingOps.streamingWindowedEventStats(spark, eventsMicros, batchDf)
      .writeStream
      .format("memory")
      .queryName("graft_win_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination(120000)
    val got = spark.table("graft_win_test").collect().map(_.toSeq).toSet
    assert(got == expected,
      s"streaming (${got.size} rows) != batch (${expected.size} rows)")
    assert(got.nonEmpty)
  }

  test("stateless streaming DSIR scoring == batch dsirScores, fold == join") {
    import spark.implicits._
    val target = Seq("spark shuffle join", "spark agg plan").toDF("text")
    val raw = Seq((1L, "spark shuffle join agg"), (2L, "goat cheese herbs"),
      (3L, "plan"), (4L, "")).toDF("doc_id", "text")
    val weights = graft.text.Vocabulary.dsirBucketWeights(target, raw, "text")
    val expected = graft.text.Vocabulary
      .dsirScores(raw, "doc_id", "text", weights)
      .collect().map(_.toSeq).toSet

    val root = s"$base/dsir_stream"
    raw.coalesce(1).write.mode("overwrite").parquet(s"$root/src")
    val wmap = graft.text.Vocabulary.dsirWeightsMap(weights)
    val got = StreamingOps.runToParquetSink(
      StreamingOps.streamingDsirScores(spark, s"$root/src",
        spark.read.parquet(s"$root/src"), "doc_id", "text", wmap),
      s"$root/sink")
      .collect().map(_.toSeq).toSet
    assert(got == expected, s"streaming $got != batch $expected")
    assert(got.size == 4, "every raw doc scores — the model is total")
  }

  test("streaming hourly histogram == batch histogram (incremental sketch)") {
    val batchDf = spark.read.parquet(eventsMicros)
    val expected = StreamingOps.hourlyValueHistogram(batchDf)
      .collect().map(_.toSeq).toSet
    val sq = StreamingOps.streamingHourlyValueHistogram(spark, eventsMicros, batchDf)
      .writeStream
      .format("memory")
      .queryName("graft_hist_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination(120000)
    val got = spark.table("graft_hist_test").collect().map(_.toSeq).toSet
    assert(got == expected,
      s"streaming (${got.size} rows) != batch (${expected.size} rows)")
    assert(got.nonEmpty)
  }

  test("corpus dedup index appends per micro-batch to equal the batch build") {
    // the r9 incremental-dedup index story executed for real: a document
    // stream ingested two files at a time, foreachBatch appending each
    // accepted batch's index rows (hashes/buckets/shingles are per-doc
    // functions, so append+distinct == whole-corpus build) — the
    // deployment shape TUNING's batch-cadence row describes
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    val root = s"$base/incr_index"
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val docs = DerivedModel.table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).limit(200).cache()
    // FileStreamSource wants FLAT files: write each half via coalesce(1)
    // and move the part file up (the stageBatches pattern below)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/src"))
    Seq(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)).zipWithIndex.foreach {
      case (half, i) =>
        val tmp = s"$root/_stage"
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$root/src", f"f$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        assert(dst.setLastModified(1700000000000L + i * 10000L))
    }
    val src = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/src")
    val sq = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val idx = Dedup.buildCorpusDedupIndex(batch, "doc_id", "text")
        idx.hashes.write.mode("append").parquet(s"$root/idx/hashes")
        idx.buckets.write.mode("append").parquet(s"$root/idx/buckets")
        idx.shingles.write.mode("append").parquet(s"$root/idx/shingles")
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(sq.awaitTermination(120000))
    val whole = Dedup.buildCorpusDedupIndex(docs, "doc_id", "text")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(asSet(spark.read.parquet(s"$root/idx/hashes").distinct()) ==
      asSet(whole.hashes), "appended hashes != batch hashes")
    assert(asSet(spark.read.parquet(s"$root/idx/buckets")) ==
      asSet(whole.buckets), "appended buckets != batch buckets")
    assert(asSet(spark.read.parquet(s"$root/idx/shingles")) ==
      asSet(whole.shingles), "appended shingles != batch shingles")
    docs.unpersist(): Unit
  }

  test("streaming incremental near-dedup == batch probe, per-file batches") {
    // the ingest-time dedup gate's contract: each document's keep/drop is
    // a pure function of (document, frozen index), so per-micro-batch
    // probing under maxFilesPerTrigger=1 must equal the one-shot batch
    // probe over the same arriving set
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    val root = s"$base/incr_stream"
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val docs = DerivedModel.table(spark, dir, "documents").limit(300).cache()
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val arriving = docs.filter(col("doc_id") % 5 === 0)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/src"))
    Seq(arriving.filter(col("doc_id") % 2 === 0),
      arriving.filter(col("doc_id") % 2 =!= 0)).zipWithIndex.foreach {
      case (half, i) =>
        val tmp = s"$root/_stage"
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$root/src", f"f$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        assert(dst.setLastModified(1700000000000L + i * 10000L))
    }
    val idx = Dedup.buildCorpusDedupIndex(corpus, "doc_id", "text")
    val got = graft.streaming.StreamingOps.streamingIncrementalDedup(
      spark, s"$root/src", arriving, "doc_id", "text", idx,
      s"$root/sink", maxFilesPerTrigger = Some(1))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val want = Dedup.incrementalDedup(corpus, arriving, "doc_id", "text",
        precomputedIndex = Some(idx))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    Persisted.unpersistAll()
    docs.unpersist()
    assert(got == want,
      s"streaming survivors != batch: only-stream=${got -- want}, " +
        s"only-batch=${want -- got}")
    assert(got.nonEmpty, "degenerate fixture: no survivors at all")
    // retry-safe layout twin: the batchId-keyed overwrite sinks carry
    // the identical survivor set (keep/drop is a pure function of
    // (document, frozen index) — same property that makes a replayed
    // epoch a no-op), and the epoch dirs never surface as a column
    val gotIdem = graft.streaming.StreamingOps.streamingIncrementalDedup(
      spark, s"$root/src", arriving, "doc_id", "text", idx,
      s"$root/sink_idem", maxFilesPerTrigger = Some(1),
      idempotentBatchPaths = true)
    Persisted.unpersistAll()
    assert(gotIdem.columns.toSet == arriving.columns.toSet,
      s"batch= epoch dirs leaked into the schema: ${gotIdem.columns.toSeq}")
    assert(gotIdem.select(col("doc_id")).collect().map(_.getLong(0)).toSet
        == want,
      "idempotent-layout survivors != batch survivors")
  }

  test("streaming rule filter == batch filter, per-file batches") {
    // stateless scan gate: keep decisions are row-pure, so any
    // micro-batch split must produce exactly the batch filter's rows
    import org.apache.spark.sql.functions._
    val root = s"$base/rules_stream"
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val docs = DerivedModel.documentsBoilerplate(spark, dir).limit(300).cache()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/src"))
    Seq(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)).zipWithIndex.foreach {
      case (half, i) =>
        val tmp = s"$root/_stage"
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$root/src", f"f$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        assert(dst.setLastModified(1700000000000L + i * 10000L))
    }
    val got = graft.streaming.StreamingOps.runToParquetSink(
      graft.streaming.StreamingOps.streamingRuleFilter(
        spark, s"$root/src", docs, "doc_id", "text",
        sourceOptions = Map("maxFilesPerTrigger" -> "1")),
      s"$root/sink")
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toSet
    val want = graft.text.Curation.ruleFilter(docs, "doc_id", "text")
      .filter(col("keep"))
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toSet
    docs.unpersist()
    assert(got == want && got.nonEmpty,
      s"streaming keep set != batch (sizes ${got.size}/${want.size})")
  }

  test("streaming validate/quarantine == batch partition, per-file batches") {
    // ingest validation is row-pure: any micro-batch split must yield
    // exactly the batch valid/violationRows partition, and the two sinks
    // must partition the source (every row in exactly one, counting a
    // multi-violation row once)
    import graft.ops.Validate
    import org.apache.spark.sql.functions._
    val root = s"$base/validate_stream"
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val corrupt = Validate.eventsWithPlantedCorruption(
      DerivedModel.events(spark, dir).limit(300)).cache()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/src"))
    Seq(corrupt.filter(col("event_id") % 2 === 0),
      corrupt.filter(col("event_id") % 2 =!= 0)).zipWithIndex.foreach {
      case (half, i) =>
        val tmp = s"$root/_stage"
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$root/src", f"f$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        assert(dst.setLastModified(1700000000000L + i * 10000L))
    }
    val rules = Validate.eventRules()
    val (validSink, quarantineSink) =
      graft.streaming.StreamingOps.streamingValidateQuarantine(
        spark, s"$root/src", corrupt, "event_id", rules,
        s"$root/sink", maxFilesPerTrigger = Some(1))
    val gotValid = validSink.collect().map(_.getLong(0)).toSet
    val wantValid = Validate.valid(corrupt, rules)
      .collect().map(_.getLong(0)).toSet
    assert(gotValid == wantValid && gotValid.nonEmpty,
      s"valid sink != batch valid (sizes ${gotValid.size}/${wantValid.size})")
    val gotQ = quarantineSink.collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    val wantQ = Validate.violationRows(corrupt, "event_id", rules)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(gotQ == wantQ && gotQ.nonEmpty,
      s"quarantine sink != batch violations: only-stream=${gotQ -- wantQ}, " +
        s"only-batch=${wantQ -- gotQ}")
    // the sinks PARTITION the source
    val quarantinedRows = quarantineSink.select(col("event_id")).distinct().count()
    assert(validSink.count() + quarantinedRows == corrupt.count(),
      "valid + quarantined must partition the stream")
    corrupt.unpersist(): Unit
  }

  test("streaming validate/quarantine runs the DOCUMENTS rule set too " +
      "(rules-generic: null id / null text / too-long), per-file batches") {
    // the r14 verdict gap: streamingValidateQuarantine is parameterized
    // by rules but only the events rule set had execution evidence
    import graft.ops.Validate
    import org.apache.spark.sql.functions._
    val root = s"$base/validate_docs_stream"
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val cap = 200
    val corrupt = Validate.documentsWithPlantedCorruption(
      DerivedModel.table(spark, dir, "documents").limit(300),
      capChars = cap).cache()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/src"))
    Seq(corrupt.filter(coalesce(col("doc_id"), lit(0L)) % 2 === 0),
      corrupt.filter(coalesce(col("doc_id"), lit(0L)) % 2 =!= 0)).zipWithIndex
      .foreach { case (half, i) =>
        val tmp = s"$root/_stage"
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$root/src", f"f$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        assert(dst.setLastModified(1700000000000L + i * 10000L))
      }
    val rules = Validate.documentRules(maxChars = cap)
    val (validSink, quarantineSink) =
      graft.streaming.StreamingOps.streamingValidateQuarantine(
        spark, s"$root/src", corrupt, "doc_id", rules,
        s"$root/sink", maxFilesPerTrigger = Some(1))
    val gotValid = validSink.collect().map(_.getLong(0)).toSet
    val wantValid = Validate.valid(corrupt, rules)
      .collect().map(_.getLong(0)).toSet
    assert(gotValid == wantValid && gotValid.nonEmpty,
      s"valid sink != batch valid (sizes ${gotValid.size}/${wantValid.size})")
    val gotQ = quarantineSink.collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    val wantQ = Validate.violationRows(corrupt, "doc_id", rules)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(gotQ == wantQ && gotQ.nonEmpty,
      s"quarantine sink != batch violations: only-stream=${gotQ -- wantQ}, " +
        s"only-batch=${wantQ -- gotQ}")
    // all three document rules actually fired through the stream
    assert(gotQ.map(_._2) == Set("null_doc_id", "null_text", "text_too_long"),
      s"expected every documents rule to fire, got ${gotQ.map(_._2)}")
    corrupt.unpersist(): Unit
  }

  test("streaming validate/quarantine runs the EMBEDDINGS rule set too " +
      "(array<float> payload: size/exists-lambda rules), per-file batches") {
    // the last rule inventory through the rules-generic validator — and
    // the only one whose predicates evaluate a non-scalar column, so
    // this pins that the stream split is payload-shape agnostic
    import graft.ops.Validate
    import org.apache.spark.sql.functions._
    val root = s"$base/validate_embs_stream"
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val corrupt = Validate.embeddingsWithPlantedCorruption(
      DerivedModel.table(spark, dir, "embeddings").limit(300),
      dim = 64).cache()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/src"))
    Seq(corrupt.filter(coalesce(col("vec_id"), lit(0L)) % 2 === 0),
      corrupt.filter(coalesce(col("vec_id"), lit(0L)) % 2 =!= 0)).zipWithIndex
      .foreach { case (half, i) =>
        val tmp = s"$root/_stage"
        half.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$root/src", f"f$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        assert(dst.setLastModified(1700000000000L + i * 10000L))
      }
    val rules = Validate.embeddingRules("embedding", 64)
    val (validSink, quarantineSink) =
      graft.streaming.StreamingOps.streamingValidateQuarantine(
        spark, s"$root/src", corrupt, "vec_id", rules,
        s"$root/sink", maxFilesPerTrigger = Some(1))
    val gotValid = validSink.collect().map(_.getLong(0)).toSet
    val wantValid = Validate.valid(corrupt, rules)
      .collect().map(_.getLong(0)).toSet
    assert(gotValid == wantValid && gotValid.nonEmpty,
      s"valid sink != batch valid (sizes ${gotValid.size}/${wantValid.size})")
    val gotQ = quarantineSink.collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    val wantQ = Validate.violationRows(corrupt, "vec_id", rules)
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(gotQ == wantQ && gotQ.nonEmpty,
      s"quarantine sink != batch violations: only-stream=${gotQ -- wantQ}, " +
        s"only-batch=${wantQ -- gotQ}")
    // every PLANTED rule fired through the stream (the twin plants 5 of
    // the 6 rules — null_embedding has no twin row; a null array would
    // make every limit-sliced base row ambiguous)
    assert(gotQ.map(_._2) == Set("wrong_dim", "null_component",
        "nonfinite_component", "component_out_of_range", "zero_vector"),
      s"expected every planted embeddings rule to fire, got ${gotQ.map(_._2)}")
    corrupt.unpersist(): Unit
  }

  test("streaming validate/quarantine RETRY: idempotentBatchPaths makes a " +
      "replayed epoch a no-op where plain append double-counts") {
    // foreachBatch is at-least-once: an epoch can be REPLAYED after a
    // failure between the sink write and the offset commit. The
    // batchId-keyed overwrite layout must absorb the replay exactly;
    // the flat append (fine for the gates' immutable AvailableNow
    // staging) must visibly double — both claims pinned here
    import graft.ops.Validate
    val root = s"$base/validate_retry"
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val corrupt = Validate.eventsWithPlantedCorruption(
      DerivedModel.events(spark, dir).limit(200)).cache()
    val rules = Validate.eventRules()
    val wantValid = Validate.valid(corrupt, rules).count()
    val wantQ = Validate.violationRows(corrupt, "event_id", rules).count()
    // idempotent mode: write epoch 7, then REPLAY epoch 7
    graft.streaming.StreamingOps.writeValidatedBatch(
      corrupt, 7L, "event_id", rules, s"$root/idem", idempotentBatchPaths = true)
    graft.streaming.StreamingOps.writeValidatedBatch(
      corrupt, 7L, "event_id", rules, s"$root/idem", idempotentBatchPaths = true)
    val idemValid = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/idem/valid")
    val idemQ = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/idem/quarantine")
    assert(idemValid.count() == wantValid && idemQ.count() == wantQ,
      s"replayed idempotent epoch must be a no-op " +
        s"(${idemValid.count()}/$wantValid, ${idemQ.count()}/$wantQ)")
    // the replayed-epoch schema is unchanged (batch= dirs are retry
    // epochs, not data partitions — recursiveFileLookup must not
    // surface them as a column)
    assert(idemValid.schema == corrupt.schema,
      s"batch= epoch dirs leaked into the schema: ${idemValid.schema}")
    // append mode: the same replay double-counts — the failure mode the
    // idempotent layout exists to remove
    graft.streaming.StreamingOps.writeValidatedBatch(
      corrupt, 7L, "event_id", rules, s"$root/app", idempotentBatchPaths = false)
    graft.streaming.StreamingOps.writeValidatedBatch(
      corrupt, 7L, "event_id", rules, s"$root/app", idempotentBatchPaths = false)
    assert(spark.read.parquet(s"$root/app/valid").count() == 2 * wantValid,
      "plain append must double on replay (this is the documented hazard)")
    // and the end-to-end idempotent STREAM (the embeddings gate's
    // posture) still equals the batch partition across micro-batches
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/src"))
    locally {
      val tmp = s"$root/_stage"
      corrupt.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(s"$root/src", "f0.parquet").toPath)
    }
    val (validSink, quarantineSink) =
      graft.streaming.StreamingOps.streamingValidateQuarantine(
        spark, s"$root/src", corrupt, "event_id", rules,
        s"$root/sink", idempotentBatchPaths = true)
    assert(validSink.count() == wantValid &&
      quarantineSink.count() == wantQ,
      "idempotent-mode stream sinks must equal the batch partition")
    corrupt.unpersist(): Unit
  }

  /** Write each df as one flat parquet file under `root` with pinned,
    * increasing mod times (FileStreamSource orders by mod time, so file
    * order == intended epoch order under `maxFilesPerTrigger = 1`).
    */
  private def landFlatFiles(root: String,
      dfs: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    dfs.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$root/../_stage_${new java.io.File(root).getName}"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(root, f"f$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 10000L))
    }
  }

  test("CRASH-INJECTED engine retry: foreachBatch fails AFTER the sink " +
      "write, restart from checkpoint — idempotent layout == batch " +
      "relation, plain append double-counts the replayed epoch") {
    // the r15 verdict item 1: prove the at-least-once hazard THROUGH the
    // engine, not by calling writeValidatedBatch twice by hand. The
    // afterBatchWrite hook throws once on epoch 0 — after its sink
    // writes landed, before its offset commit — failing the
    // StreamingQuery exactly inside the retry window; the restarted
    // query replays epoch 0 with the same batchId and data
    import graft.ops.Validate
    import org.apache.spark.sql.functions._
    val root = s"$base/validate_crash"
    val corrupt = Validate.eventsWithPlantedCorruption(
      DerivedModel.events(spark, dir).limit(300)).cache()
    val file0 = corrupt.filter(col("event_id") % 2 === 0)
    val file1 = corrupt.filter(col("event_id") % 2 =!= 0)
    landFlatFiles(s"$root/src", Seq(file0, file1))
    val rules = Validate.eventRules()
    val wantValid = Validate.valid(corrupt, rules).count()
    val wantQ = Validate.violationRows(corrupt, "event_id", rules).count()
    val valid0 = Validate.valid(file0, rules).count()
    val q0 = Validate.violationRows(file0, "event_id", rules).count()
    def crashOnce() = new (Long => Unit) {
      private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      def apply(batchId: Long): Unit =
        if (batchId == 0L && fired.compareAndSet(false, true))
          throw new RuntimeException("planted crash after epoch-0 sink write")
    }
    def runCrashed(out: String, idem: Boolean): Unit = {
      val thrown = intercept[Throwable] {
        graft.streaming.StreamingOps.streamingValidateQuarantine(
          spark, s"$root/src", corrupt, "event_id", rules, out,
          maxFilesPerTrigger = Some(1), idempotentBatchPaths = idem,
          afterBatchWrite = crashOnce())
      }
      def hasPlanted(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("planted crash")) ||
          hasPlanted(t.getCause))
      assert(hasPlanted(thrown),
        s"query must fail with the planted crash, got $thrown")
      // epoch 0's writes LANDED before the failure — the at-least-once
      // window is real, not simulated
      val sinkDir = new java.io.File(s"$out/valid")
      assert(sinkDir.isDirectory, "epoch-0 valid write must have landed")
    }
    def restart(out: String, idem: Boolean) =
      graft.streaming.StreamingOps.streamingValidateQuarantine(
        spark, s"$root/src", corrupt, "event_id", rules, out,
        maxFilesPerTrigger = Some(1), idempotentBatchPaths = idem,
        resumeFromCheckpoint = true)
    // (a) idempotent layout: replayed epoch 0 overwrites its own dirs —
    // the final sinks equal the batch relation EXACTLY
    runCrashed(s"$root/idem", idem = true)
    val (validI, qI) = restart(s"$root/idem", idem = true)
    assert(validI.count() == wantValid && qI.count() == wantQ,
      s"idempotent sinks after engine retry must equal the batch " +
        s"relation (${validI.count()}/$wantValid, ${qI.count()}/$wantQ)")
    assert(validI.collect().map(_.getLong(0)).toSet ==
      Validate.valid(corrupt, rules).collect().map(_.getLong(0)).toSet)
    // (b) plain append: the replay double-counts exactly epoch 0 — the
    // documented hazard reproduced through a real engine retry
    runCrashed(s"$root/app", idem = false)
    val (validA, qA) = restart(s"$root/app", idem = false)
    assert(validA.count() == wantValid + valid0 && qA.count() == wantQ + q0,
      s"append sinks must double-count the replayed epoch " +
        s"(${validA.count()} vs ${wantValid + valid0}, " +
        s"${qA.count()} vs ${wantQ + q0})")
    corrupt.unpersist(): Unit
  }

  test("epoch compaction: relation preserved, files shrink, absorbed " +
      "replays skipped, post-compaction epochs still land") {
    import graft.ops.Validate
    import graft.streaming.EpochLayout
    import org.apache.spark.sql.functions._
    val root = s"$base/validate_compact"
    val corrupt = Validate.eventsWithPlantedCorruption(
      DerivedModel.events(spark, dir).limit(300)).cache()
    landFlatFiles(s"$root/src", Seq(
      corrupt.filter(col("event_id") % 4 === 0),
      corrupt.filter(col("event_id") % 4 === 1),
      corrupt.filter(col("event_id") % 4 === 2),
      corrupt.filter(col("event_id") % 4 === 3)))
    val rules = Validate.eventRules()
    val (validPre, qPre) =
      graft.streaming.StreamingOps.streamingValidateQuarantine(
        spark, s"$root/src", corrupt, "event_id", rules, s"$root/sink",
        maxFilesPerTrigger = Some(1), idempotentBatchPaths = true)
    val wantValidRows = validPre.collect().map(_.toSeq).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val wantQRows = qPre.collect().map(_.toSeq).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val validRoot = s"$root/sink/valid"
    val filesBefore = EpochLayout.dataFileCount(spark, validRoot)
    assert(EpochLayout.liveEpochDirs(spark, validRoot).size == 4,
      "4 staged files under maxFilesPerTrigger=1 must give 4 epochs")
    // compact both sinks; the read-back relation must be IDENTICAL
    // (multiset equality) and the file count strictly smaller
    val repV = EpochLayout.compactEpochSink(spark, validRoot)
    val repQ = EpochLayout.compactEpochSink(spark, s"$root/sink/quarantine")
    assert(repV.nonEmpty && repQ.nonEmpty, "4 epochs -> something to fold")
    assert(repV.get.mergedEpochs == 4 && repV.get.upTo == 3L)
    assert(repV.get.filesAfter < filesBefore,
      s"compaction must shrink files (${repV.get.filesAfter}/$filesBefore)")
    def readBack(name: String) = graft.streaming.StreamingOps
      .readValidatedSink(spark, s"$root/sink", name, "event_id", rules,
        corrupt, idempotentBatchPaths = true)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.groupBy(identity).view
        .mapValues(_.size).toMap
    assert(multiset(readBack("valid")) == wantValidRows,
      "compaction must preserve the valid relation exactly")
    assert(multiset(readBack("quarantine")) == wantQRows,
      "compaction must preserve the quarantine relation exactly")
    assert(EpochLayout.compactedUpTo(spark, validRoot).contains(3L))
    assert(EpochLayout.liveEpochDirs(spark, validRoot).isEmpty,
      "folded epoch dirs must be GC'd")
    // a REPLAY of an absorbed epoch is skipped — sinks unchanged
    graft.streaming.StreamingOps.writeValidatedBatch(
      corrupt.filter(col("event_id") % 4 === 2), 2L, "event_id", rules,
      s"$root/sink", idempotentBatchPaths = true)
    assert(multiset(readBack("valid")) == wantValidRows &&
      !new java.io.File(s"$validRoot/batch=2").exists(),
      "replay of a compacted epoch must be absorbed by skip")
    // a NEW epoch after compaction lands and is read alongside merged
    val extra = corrupt.limit(7)
    graft.streaming.StreamingOps.writeValidatedBatch(
      extra, 9L, "event_id", rules, s"$root/sink",
      idempotentBatchPaths = true)
    val validPlus = readBack("valid").count()
    assert(validPlus ==
      wantValidRows.values.sum + Validate.valid(extra, rules).count(),
      "post-compaction epoch must append to the merged view")
    // second compaction folds merged + the new epoch; relation holds
    val rep2 = EpochLayout.compactEpochSink(spark, validRoot)
    assert(rep2.exists(_.upTo == 9L) &&
      readBack("valid").count() == validPlus,
      "re-compaction must fold the new epoch and preserve the relation")
    // idempotence: nothing live -> no-op
    assert(EpochLayout.compactEpochSink(spark, validRoot).isEmpty)
    corrupt.unpersist(): Unit
  }

  test("epoch compaction and read-back work on a file: URI sink root") {
    import graft.streaming.EpochLayout
    import spark.implicits._
    // the root as a URI, the way a cluster deployment names its sink
    // (hdfs://, s3a://): every step must resolve it through Hadoop
    val dirPath = s"$base/epoch_uri"
    val uri = s"file:$dirPath"
    Seq(0L, 1L, 2L).foreach { e =>
      (0L until 5L).map(i => (e * 10 + i, s"row$i")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$uri/batch=$e")
    }
    def rows() = EpochLayout.readEpochSink(spark, uri,
        Seq.empty[(Long, String)].toDF("id", "v"))
      .as[(Long, String)].collect().toSet
    val before = rows()
    assert(before.size == 15, s"3 epochs x 5 rows must read back: $before")
    val rep = EpochLayout.compactEpochSink(spark, uri)
    assert(rep.exists(r => r.upTo == 2L && r.mergedEpochs == 3),
      s"a URI root must compact, not read as 'not a directory': $rep")
    assert(EpochLayout.compactedUpTo(spark, uri).contains(2L))
    assert(EpochLayout.liveEpochDirs(spark, uri).isEmpty)
    assert(EpochLayout.dataFileCount(spark, uri) == 1L)
    assert(rows() == before, "compaction must preserve the relation")
    assert(new java.io.File(dirPath, "merged=2").isDirectory &&
      !new java.io.File(dirPath, "batch=0").exists())
  }

  test("zero-epoch sources read back as empty, correctly-shaped " +
      "relations in both sink layouts") {
    // ADVICE r15: a source yielding zero epochs used to throw an
    // unhelpful AnalysisException from the read-back
    import graft.ops.Validate
    val rules = Validate.eventRules()
    val events = DerivedModel.events(spark, dir).limit(10)
    Seq(true, false).foreach { idem =>
      val validEmpty = graft.streaming.StreamingOps.readValidatedSink(
        spark, s"$base/nonexistent_root_$idem", "valid", "event_id",
        rules, events, idempotentBatchPaths = idem)
      assert(validEmpty.count() == 0L &&
        validEmpty.schema == events.schema,
        s"empty valid read-back (idem=$idem) must be schema-shaped")
      val qEmpty = graft.streaming.StreamingOps.readValidatedSink(
        spark, s"$base/nonexistent_root_$idem", "quarantine", "event_id",
        rules, events, idempotentBatchPaths = idem)
      assert(qEmpty.count() == 0L &&
        qEmpty.columns.toSeq == Seq("event_id", "violation"),
        s"empty quarantine read-back (idem=$idem) must be audit-shaped")
    }
  }

  test("streaming validate/quarantine RESTART from checkpoint ingests " +
      "only the late file — no re-emission of already-committed rows") {
    // the operational claim behind the 100 TB stream boundary: an
    // AvailableNow run terminates, more data lands, and the next run
    // resumes from the same checkpoint — the source offsets must skip
    // every already-committed file, so the append sinks end up with
    // EXACTLY the batch relation over the union (a naive re-run without
    // the checkpoint would double every early row in the sinks)
    import graft.ops.Validate
    import org.apache.spark.sql.functions._
    val root = s"$base/validate_restart_stream"
    locally {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p))
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val corrupt = Validate.eventsWithPlantedCorruption(
      DerivedModel.events(spark, dir).limit(300)).cache()
    val early = corrupt.filter(col("event_id") % 3 =!= 0)
    val late = corrupt.filter(col("event_id") % 3 === 0)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/src"))
    def land(df: org.apache.spark.sql.DataFrame, name: String, ts: Long): Unit = {
      val tmp = s"$root/_stage"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$root/src", name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(ts))
    }
    land(early, "f0.parquet", 1700000000000L)
    val rules = Validate.eventRules()
    // first run commits the early file and terminates (AvailableNow);
    // note streamingValidateQuarantine deletes outRoot on entry, so the
    // restart must NOT call it again — it re-runs the same query shape
    // against the same checkpoint by hand
    val (_, _) = graft.streaming.StreamingOps.streamingValidateQuarantine(
      spark, s"$root/src", corrupt, "event_id", rules, s"$root/sink")
    val validAfterFirst = spark.read.parquet(s"$root/sink/valid").count()
    land(late, "f1.parquet", 1700000060000L)
    locally {
      import org.apache.spark.sql.streaming.{OutputMode, Trigger}
      val sq = spark.readStream.schema(corrupt.schema)
        .parquet(s"$root/src")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          Validate.valid(batch, rules)
            .write.mode("append").parquet(s"$root/sink/valid")
          Validate.violationRows(batch, "event_id", rules)
            .write.mode("append").parquet(s"$root/sink/quarantine")
          ()
        }
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", s"$root/sink/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      assert(sq.awaitTermination(600000L), "restart run timed out")
    }
    val validSink = spark.read.parquet(s"$root/sink/valid")
    val quarantineSink = spark.read.parquet(s"$root/sink/quarantine")
    // the restart only added the late file's valid rows
    val wantValid = Validate.valid(corrupt, rules)
    assert(validSink.count() == wantValid.count() &&
      validAfterFirst == Validate.valid(early, rules).count(),
      "restart must append exactly the late file's rows")
    // and the final sinks equal the batch relations over the UNION —
    // multiset equality via id sets + total counts (no duplicates)
    val gotValid = validSink.collect().map(_.getLong(0)).toSet
    assert(gotValid == wantValid.collect().map(_.getLong(0)).toSet,
      "valid sink != batch valid after restart")
    val gotQ = quarantineSink.collect()
      .map(r => (Option(r.get(0)), r.getString(1)))
    val wantQ = Validate.violationRows(corrupt, "event_id", rules)
      .collect().map(r => (Option(r.get(0)), r.getString(1)))
    assert(gotQ.toSet == wantQ.toSet && gotQ.length == wantQ.length,
      s"quarantine sink != batch violations after restart " +
        s"(${gotQ.length} vs ${wantQ.length} rows)")
    corrupt.unpersist(): Unit
  }

  test("streaming source counters: last update per source over multi-" +
      "batch arrival equals the batch volumes") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("card_stream").toString
    val docs = DerivedModel.table(spark, dir, "documents").limit(300).cache()
    // 3 overlapping-source files -> every source's counters update across
    // batches; the sums must still land on the batch totals
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 3 === i)
        .coalesce(1).write.mode("append").parquet(s"$root/src")
    }
    val srcDf = spark.read.parquet(s"$root/src")
    val upd = graft.streaming.StreamingOps.runUpdateToParquetSink(
      graft.streaming.StreamingOps.streamingSourceCounters(
        spark, s"$root/src", srcDf, "source", "text",
        sourceOptions = Map("maxFilesPerTrigger" -> "1")),
      s"$root/sink")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("_graft_batch_id").desc)
    val got = upd.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = srcDf.groupBy(col("source"))
      .agg(count(lit(1)), sum(graft.text.TextFunctions.tokenCount(col("text"))
        .cast("long")), sum(length(col("text")).cast("long")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    docs.unpersist()
    assert(got == want && got.nonEmpty,
      s"streaming counters != batch: $got vs $want")
  }

  test("update-mode stamped sink: a duplicated epoch leaves the " +
      "latest-batch-wins consumption unchanged (file-level idempotence " +
      "unnecessary by reader contract)") {
    // the r15 verdict item 3 decision, pinned: runUpdateToParquetSink
    // keeps the stamped append because replayed epochs re-emit
    // byte-identical rows (versioned state store + deterministic stamp),
    // so the consumer's max-_graft_batch_id-per-key window absorbs
    // duplicates — dead bytes, never wrong answers
    import org.apache.spark.sql.functions._
    val root = s"$base/update_replay"
    val docs = DerivedModel.table(spark, dir, "documents").limit(300).cache()
    landFlatFiles(s"$root/src", Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2)))
    val srcDf = spark.read.parquet(s"$root/src")
    val upd = graft.streaming.StreamingOps.runUpdateToParquetSink(
      graft.streaming.StreamingOps.streamingSourceCounters(
        spark, s"$root/src", srcDf, "source", "text",
        sourceOptions = Map("maxFilesPerTrigger" -> "1")),
      s"$root/sink")
    def consume(df: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("_graft_batch_id").desc)
      df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    val snapshot = consume(upd)
    assert(snapshot.nonEmpty)
    // REPLAY epoch 1: append the stamped rows of batch 1 a second time
    // (exactly what an at-least-once retry of that epoch writes — the
    // state store reloads version 0, recomputes epoch 1 identically,
    // stamps the same batchId)
    val epoch1 = upd.filter(col("_graft_batch_id") === 1L)
    assert(epoch1.count() > 0, "fixture must have a non-trivial epoch 1")
    epoch1.write.mode("append").parquet(s"$root/sink/data")
    val afterReplay = spark.read.parquet(s"$root/sink/data")
    assert(afterReplay.count() == upd.count() + epoch1.count(),
      "the duplicate epoch's rows are physically present (dead bytes)")
    assert(consume(afterReplay) == snapshot,
      "latest-batch-wins consumption must be unchanged by a replayed epoch")
    docs.unpersist(): Unit
  }

  test("dedup-on-arrival index refresh CONVERGES: each re-staging folds " +
      "prior survivors in, and every wave's stream survivors equal the " +
      "batch probe over the cumulative corpus") {
    // streamingIncrementalDedup runs against a FROZEN index by design;
    // the deployment refreshes on a cadence — re-stage the index with
    // accepted survivors folded in, restart the query. This pins that
    // the cadence is CORRECT at every boundary: after each refresh, the
    // next wave's streaming survivors equal incrementalDedup(cumulative
    // corpus, wave) — i.e. frozen-index staleness never outlives one
    // cadence and nothing drifts across K refreshes
    import graft.dedup.Dedup
    import org.apache.spark.sql.functions._
    val root = s"$base/index_refresh"
    val docs = DerivedModel.table(spark, dir, "documents").limit(400).cache()
    var corpus = docs.filter(col("doc_id") % 4 === 0)
    val waves = Seq(1, 2, 3).map(k => docs.filter(col("doc_id") % 4 === k))
    waves.zipWithIndex.foreach { case (wave, k) =>
      landFlatFiles(s"$root/src$k", Seq(
        wave.filter(col("doc_id") % 2 === 0),
        wave.filter(col("doc_id") % 2 =!= 0)))
      // the refresh: a FRESH index over the cumulative corpus (pure
      // function of the corpus — append-vs-rebuild equivalence is
      // pinned by the 'corpus dedup index appends per micro-batch' test)
      val idx = Dedup.buildCorpusDedupIndex(corpus, "doc_id", "text")
      val got = graft.streaming.StreamingOps.streamingIncrementalDedup(
        spark, s"$root/src$k", wave, "doc_id", "text", idx,
        s"$root/sink$k", maxFilesPerTrigger = Some(1))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val want = Dedup.incrementalDedup(corpus, wave, "doc_id", "text",
          precomputedIndex = Some(idx))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      Persisted.unpersistAll()
      assert(got == want,
        s"wave $k streaming survivors != batch over cumulative corpus: " +
          s"only-stream=${got -- want}, only-batch=${want -- got}")
      assert(got.nonEmpty, s"degenerate wave $k: no survivors")
      // fold the ACCEPTED survivors into the corpus for the next cadence
      corpus = corpus.unionByName(
        wave.join(spark.createDataset(got.toSeq)(
            org.apache.spark.sql.Encoders.scalaLong).toDF("doc_id"),
          Seq("doc_id"), "left_semi"))
    }
    docs.unpersist(): Unit
  }

  test("streaming dedup drops replayed events, watermark-bounded state") {
    val batchDf = spark.read.parquet(eventsMicros)
    // replay the source twice (at-least-once delivery) into one stream dir
    val dupPath = s"$base/events_dup"
    batchDf.write.mode("overwrite").parquet(dupPath)
    batchDf.write.mode("append").parquet(dupPath)

    val sq = StreamingOps.streamingDedup(spark, dupPath, batchDf)
      .writeStream
      .format("memory")
      .queryName("graft_dedup_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    sq.awaitTermination(120000)
    val got = spark.table("graft_dedup_test").count()
    assert(got == batchDf.count(),
      s"doubled source must dedup back to ${batchDf.count()} events, got $got")
  }

  test("streaming parquet file sink + checkpoint persists the deduped stream") {
    val batchDf = spark.read.parquet(eventsMicros)
    val dupPath = s"$base/events_dup_sink"
    batchDf.write.mode("overwrite").parquet(dupPath)
    batchDf.write.mode("append").parquet(dupPath)
    // a DURABLE sink: exactly-once via the sink transaction log + the
    // checkpoint; the read-back must equal the batch dedup of the source
    val outRoot = s"$base/stream_sink"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(outRoot))
    val sq = StreamingOps.streamingDedup(spark, dupPath, batchDf)
      .writeStream
      .format("parquet")
      .option("path", s"$outRoot/data")
      .option("checkpointLocation", s"$outRoot/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination(120000)
    val got = spark.read.parquet(s"$outRoot/data")
    assert(got.count() == batchDf.count(),
      "file sink must hold exactly the deduped event set")
    assert(got.select("event_id").distinct().count() == batchDf.count())
  }

  test("flatMapGroupsWithState running totals equal batch aggregation") {
    val batchDf = spark.read.parquet(eventsMicros)
    val sq = StreamingOps.statefulUserTotals(spark, eventsMicros, batchDf)
      .writeStream
      .format("memory")
      .queryName("graft_state_test")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    sq.awaitTermination(120000)
    // keep the LAST update per user (multiple micro-batches emit multiple)
    val got = spark.sql(
      """SELECT user_id, max(n_events) AS n, max(value_cents) AS cents
        |FROM graft_state_test GROUP BY user_id""".stripMargin)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val expected = batchDf.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          StreamingOps.valueCents(org.apache.spark.sql.functions.col("value"))).as("cents"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
  }

  test("transformWithState running totals equal batch aggregation") {
    val batchDf = spark.read.parquet(eventsMicros)
    // the new state API only runs on the RocksDB store; scope the provider
    // to this query and restore afterwards
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sq = StreamingOps.transformWithStateTotals(spark, eventsMicros, batchDf)
        .writeStream
        .format("memory")
        .queryName("graft_tws_test")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination(120000)
      val got = spark.sql(
        """SELECT user_id, max(n_events) AS n, max(value_cents) AS cents
          |FROM graft_tws_test GROUP BY user_id""".stripMargin)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val expected = batchDf.groupBy("user_id")
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum(
            StreamingOps.valueCents(org.apache.spark.sql.functions.col("value"))).as("cents"))
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(got == expected)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Multi-batch ingestion — the production arrival regime the gated
    * single-file staging deliberately avoids. Events arrive as K
    * time-ordered files, `maxFilesPerTrigger = 1` makes each file one
    * micro-batch, and the asserted contract is Spark's documented
    * watermark semantics: after batch i the watermark is max(event time
    * through batch i) − delay, applied from batch i+1; append mode emits
    * exactly the windows whose end the watermark has passed. The
    * late-drop contract is ONE-SIDED (verified empirically here): a row
    * older than the watermark is guaranteed dropped only once its
    * window's state has been EVICTED — a late row landing in the same
    * micro-batch that evicts its window is still absorbed ("data delayed
    * beyond the threshold may or may not be dropped", the docs' wording).
    * These tests therefore deliver the late row one batch AFTER the
    * eviction batch and assert both the drop (via the state operator's
    * numRowsDroppedByWatermark metric) and the emit sets.
    */
  private def stageBatches(name: String,
      batches: Seq[Seq[(Long, String, Long, Double)]]): String = {
    val root = s"$base/multibatch_$name"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(root))
    new java.io.File(root).mkdirs()
    val tmp = s"$root/_stage"
    batches.zipWithIndex.foreach { case (rows, i) =>
      import spark.implicits._
      rows.toDF("event_id", "_ts", "user_id", "value")
        .select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.to_timestamp(
            org.apache.spark.sql.functions.col("_ts")).as("ts"),
          org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.lit("click").as("event_type"),
          org.apache.spark.sql.functions.col("value"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(root, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // FileStreamSource orders by modification time: pin increasing
      // mod times so file order == intended batch order
      assert(dst.setLastModified(1700000000000L + i * 10000L))
    }
    rm(new java.io.File(tmp))
    root
  }

  test("multi-batch windowed agg: late rows dropped, closed windows emitted") {
    val t = "2024-05-01 "
    val src = stageBatches("win", Seq(
      Seq((1L, t + "10:00:00", 1L, 1.0), (2L, t + "10:10:00", 1L, 1.0)),
      Seq((3L, t + "12:00:00", 1L, 1.0)),  // after b1: wm 11:30
      Seq((4L, t + "13:00:00", 1L, 1.0)),  // b2 runs at wm 11:30: EVICTS window 10:00 (n=2)
      Seq((5L, t + "10:15:00", 1L, 1.0)),  // b3 at wm 12:30: state gone -> DROPPED
      Seq((6L, t + "15:00:00", 9L, 1.0)))) // after b4: wm 14:30 -> final batch closes 12:00, 13:00
    val schemaFrom = spark.read.parquet(s"$src/b00.parquet")
    val sq = StreamingOps.streamingWindowedEventStats(spark, src, schemaFrom,
      watermark = "30 minutes",
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      .writeStream.format("memory").queryName("graft_mb_win")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(sq.awaitTermination(120000), "query must terminate")
    val batches = sq.recentProgress.map(_.batchId).distinct
    assert(batches.length >= 5, s"expected >=5 micro-batches, got ${batches.toSeq}")
    val dropped = sq.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    assert(dropped == 1L,
      s"exactly the one late row must be counted dropped, got $dropped")
    val got = spark.table("graft_mb_win")
      .collect().map(r => (r.getTimestamp(0).toString, r.getLong(2), r.getLong(3)))
      .toSet
    // window 10:00 was evicted in b2 with n=2; the late 10:15 row in b3
    // (behind the 12:30 watermark, state evicted) is dropped — were it
    // admitted, 10:00 would re-emit or show n=3. Windows 12:00 and 13:00
    // close under the final 14:30 watermark; 15:00 is withheld by append
    assert(got == Set(
      (t + "10:00:00.0", 2L, 200L),
      (t + "12:00:00.0", 1L, 100L),
      (t + "13:00:00.0", 1L, 100L)), s"got $got")
  }

  test("multi-batch sessionize: late rows dropped, closed sessions emitted") {
    val t = "2024-05-01 "
    val src = stageBatches("sess", Seq(
      Seq((1L, t + "10:00:00", 1L, 1.0), (2L, t + "10:10:00", 1L, 1.0)),
      Seq((3L, t + "12:00:00", 1L, 1.0)),  // after b1: wm 11:30
      Seq((4L, t + "13:00:00", 1L, 1.0)),  // b2 at wm 11:30: EVICTS session [10:00,10:40) n=2
      Seq((5L, t + "10:05:00", 1L, 1.0),   // b3 at wm 12:30: state gone -> DROPPED
        (7L, t + "13:10:00", 1L, 1.0)),    // merges into the 13:00 session
      Seq((6L, t + "15:00:00", 9L, 1.0)))) // final wm 14:30 closes [12:00,12:30), [13:00,13:40)
    val schemaFrom = spark.read.parquet(s"$src/b00.parquet")
    val sq = StreamingOps.streamingSessionize(spark, src, schemaFrom,
      gap = "30 minutes", watermark = "30 minutes",
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
      .writeStream.format("memory").queryName("graft_mb_sess")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    assert(sq.awaitTermination(120000), "query must terminate")
    assert(sq.recentProgress.map(_.batchId).distinct.length >= 5)
    val dropped = sq.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    assert(dropped == 1L,
      s"exactly the one late row must be counted dropped, got $dropped")
    val got = spark.table("graft_mb_sess")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the late 10:05 row (behind the 12:30 watermark, session state
    // already evicted) is dropped — admitted it would have merged into
    // [10:00,10:40) and re-emitted n=3; 13:00+13:10 merge into one
    // session; user 9's 15:00 session is withheld by append mode
    assert(got == Set(
      (t + "10:00:00.0", 1L, 2L, 200L),
      (t + "12:00:00.0", 1L, 1L, 100L),
      (t + "13:00:00.0", 1L, 2L, 200L)), s"got $got")
  }

  test("stream-stream interval join equals the batch join") {
    val batchDf = spark.read.parquet(eventsMicros)
    val expected = StreamingOps.clickPurchaseJoinBatch(batchDf)
      .collect().map(_.toSeq).toSet
    val sq = StreamingOps.streamStreamJoin(spark, eventsMicros, batchDf)
      .writeStream
      .format("memory")
      .queryName("graft_ssj_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination(120000)
    val got = spark.table("graft_ssj_test").collect().map(_.toSeq).toSet
    assert(got == expected,
      s"stream-stream join (${got.size} rows) != batch join (${expected.size} rows)")
    assert(got.nonEmpty)
  }

  test("streaming session_window produces sessions consistent with batch gap logic") {
    val batchDf = spark.read.parquet(eventsMicros)
    val sq = StreamingOps.streamingSessionize(spark, eventsMicros, batchDf, gap = "30 minutes")
      .writeStream
      .format("memory")
      .queryName("graft_sess_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination(120000)
    val streamed = spark.table("graft_sess_test")
    val batch = StreamingOps.sessionize(batchDf, gapMillis = 30L * 60 * 1000)
    // session_window merges by gap exactly like the lag/cumsum batch form:
    // same number of sessions and same total event count per user
    val a = streamed.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = batch.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "sessions per user differ between streaming and batch")
  }

  test("streaming CDC compaction converges under out-of-order multi-batch arrival") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import spark.implicits._
    val t = "2024-05-01 "
    // (event_id, ts, user_id, event_type, value) — arrival order is
    // DELIBERATELY not version order: user 1's delete arrives first and
    // an older update trails it (must not resurrect the key)
    val batches = Seq(
      Seq((3L, t + "12:00:00", 1L, "error", 0.0),
        (10L, t + "10:00:00", 2L, "click", 1.0)),
      Seq((1L, t + "10:00:00", 1L, "click", 1.0),
        (11L, t + "11:00:00", 2L, "view", 2.0)),
      Seq((2L, t + "11:00:00", 1L, "view", 2.0),
        (20L, t + "09:00:00", 3L, "purchase", 5.0)))
    val root = s"$base/multibatch_cdc"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(root))
    new java.io.File(root).mkdirs()
    val tmp = s"$root/_stage"
    batches.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("event_id", "_ts", "user_id", "event_type", "value")
        .select(col("event_id"), to_timestamp(col("_ts")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(root, f"b$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 10000L))
    }
    rm(new java.io.File(tmp))
    val schemaFrom = spark.read.parquet(s"$root/b00.parquet")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sq = StreamingOps.streamingCompact(spark, root, schemaFrom,
          sourceOptions = Map("maxFilesPerTrigger" -> "1"))
        .writeStream.format("memory").queryName("graft_cdc_test")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      assert(sq.awaitTermination(120000), "query must terminate")
      assert(sq.recentProgress.map(_.batchId).distinct.length >= 3,
        "each staged file must be its own micro-batch")
      // final state per key = emission with max (ts_ms, event_id) — the
      // processor's state is monotone in the version order
      val got = spark.sql(
        """SELECT user_id, event_type, is_delete FROM (
          |  SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY ts_ms DESC, event_id DESC) AS rn
          |  FROM graft_cdc_test) WHERE rn = 1 AND NOT is_delete""".stripMargin)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(2L -> "view", 3L -> "purchase"),
        "delete must tombstone user 1; out-of-order older update must not resurrect it")
      // and it IS the batch compaction of the same change set
      val expected = graft.ops.Merge.compact(
          spark.read.parquet(root), "user_id", "ts", "event_id",
          col("event_type") === "error")
        .select(col("user_id"), col("event_type"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === expected)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
