package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness (test scope, run by hand): measures exact vs bucketed
  * crossovers for the heavy dedup/ANN operators at corpus sizes the gated
  * sf0.1 bench cannot reach. Results are recorded in TUNING.md next to the
  * analytical sizing claims.
  *
  *   sbt "Test/runMain graft.ScalePerfHarness embed 100000"
  *   sbt "Test/runMain graft.ScalePerfHarness text 300000"
  *   sbt "Test/runMain graft.ScalePerfHarness knn 100000"
  *   sbt "Test/runMain graft.ScalePerfHarness quant 100000"
  *
  * (a bare numeric first arg keeps the original embed-mode CLI working)
  */
object ScalePerfHarness {

  def corpus(spark: SparkSession, count: Long): DataFrame = {
    // hash-derived uniform vectors: genuinely decorrelated background
    // (cosine ~ 0 +- d^-1/2, like real embedding corpora). Transforms of
    // a small base set (rotation blends, sign patterns) do NOT work —
    // they leave structured moderate/high similarities that change the
    // problem. No oracle runs here, so no cross-engine constraint.
    spark.range(count).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 63), i -> " +
        "(CAST(pmod(xxhash64(id, i), 1000003) AS DOUBLE) / 500001.5) - 1.0)")
        .as("embedding"))
  }

  def main(args: Array[String]): Unit = {
    // back-compat: a bare number means embed mode
    val (mode, rest) =
      if (args.isEmpty || args.head.forall(_.isDigit)) ("embed", args)
      else (args.head, args.tail)
    lazy val count = rest.headOption.map(_.toLong).getOrElse(100000L)
    lazy val numTables = rest.lift(1).map(_.toInt).getOrElse(8)
    lazy val planesPerTable = rest.lift(2).map(_.toInt).getOrElse(12)
    val cpus = GraftSession.cpus
    val spark = GraftSession.build(s"local[$cpus]", cpus, GraftSession.toolConf)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val secs = (for {s <- i.submissionTime; c <- i.completionTime} yield (c - s) / 1e3)
          .getOrElse(-1.0)
        val m = i.taskMetrics
        if (secs > 0.5) println(
          f"[stage] ${i.stageId}%4d $secs%7.1f s tasks=${i.numTasks}%4d " +
            f"cpu=${m.executorCpuTime / 1e9}%7.1f run=${m.executorRunTime / 1e3}%7.1f " +
            f"gc=${m.jvmGCTime / 1e3}%5.1f deser=${m.executorDeserializeTime / 1e3}%5.1f " +
            f"swMB=${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.1f " +
            f"swT=${m.shuffleWriteMetrics.writeTime / 1e9}%5.1f " +
            s"[${i.name.take(70)}]")
      }
    })
    mode match {
      case "embed" => embedMode(spark, count, numTables, planesPerTable)
      case "text"  => textMode(spark, count)
      case "knn"   => knnMode(spark, count)
      case "quant" => quantMode(spark, count)
      case "blocks" => blocksMode(spark, count)
      case "spans" => spansMode(spark, count)
      case "bpe"   => bpeMode(spark, count)
      case "signals" => signalsMode(spark, count)
      case "search" => searchMode(spark, count)
      case "streamstate" => streamStateMode(spark, count)
      case "indexrefresh" => indexRefreshMode(spark, count)
      case "streamvalidate" => streamValidateMode(spark, count)
      case "pipeline" => pipelineMode(spark, count)
      case "ssjoin" => ssjoinMode(spark, count)
      case "ssjoinskew" => ssjoinSkewMode(spark, count)
      case "graphskew" => graphSkewMode(spark, count)
      case "joins" => joinsMode(spark, count)
      case "merge" => mergeMode(spark, count)
      case "winnow" => winnowMode(spark, count)
      case "graphxl" => graphXlMode(spark, count)
      case "cap" => capMode(spark, count)
      case "graph" => graphMode(spark, count)
      case "proto" => protoMode(spark, count)
      case "groups10m" => groupsMode(spark, count)
      case "phash" => phashMode(spark, count)
      case "simhash10m" => simhash10mMode(spark, count)
      case "round5" => round5Mode(spark, count)
      case "pq" => pqMode(spark, count)
      case "recall" => recallMode(spark, count)
      case "signals10m" => signals10mMode(spark, count)
      case "triangles" => trianglesMode(spark, count)
      case "sketches" => sketchesMode(spark, count)
      case "cooc" => coocMode(spark, count)
      case "prefixdecade" => prefixDecadeMode(spark, count)
      case "vocabdecade" => vocabDecadeMode(spark, count)
      case "neardedup" =>
        profileQuery(spark, "x_dedup_near_dedup",
          rest.headOption.getOrElse("/root/testdata/sf0.1"))
      case "profile" =>
        profileQuery(spark, rest.headOption.getOrElse("x_dedup_near_dedup"),
          rest.lift(1).getOrElse("/root/testdata/sf0.1"))
      case other => throw new IllegalArgumentException(
        s"unknown mode '$other' (embed | text | knn | quant | neardedup)")
    }
    spark.stop()
  }

  private def time(name: String, n: Long)(f: => Long): Double = {
    val t0 = System.nanoTime()
    val rows = f
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[scale-harness] $name n=$n rows=$rows $secs%.1f s")
    secs
  }

  /** Exact-O(n^2) vs bucketed-LSH crossover for embedding near-dup pairs. */
  private def embedMode(spark: SparkSession, count: Long,
      numTables: Int, planesPerTable: Int): Unit = {
    val docs = corpus(spark, count)
    val augmented = docs.unionByName(
      docs.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          expr("transform(embedding, (x, i) -> x + (CAST((vec_id * 31 + CAST(i AS BIGINT)) % 7 AS DOUBLE) - 3.0) * 0.0001)")
            .as("embedding")))
      .persist()
    val n = augmented.count()
    time(s"bucket-only(t=$numTables,p=$planesPerTable)", n) {
      val planes = (0 until numTables).map(t =>
        graft.sim.Similarity.hyperplanes(64, planesPerTable, 42L + t))
      augmented.select(planes.map(p =>
        graft.sim.Similarity.lshBucket(col("embedding"), p)): _*).count()
    }
    // probes replicating lshCosinePairs internals, to localize cost
    locally {
      import graft.sim.{SimExpressions, Similarity}
      val normed = augmented.select(col("vec_id").as("_nid"),
        col("embedding").cast("array<double>").as("_nvec"),
        sqrt(SimExpressions.dot(col("embedding"), col("embedding"))).as("_nnorm"))
      val withBuckets = normed.select(
        Seq(col("_nid"), col("_nvec"), col("_nnorm")) ++
          (0 until numTables).map { t =>
            Similarity.lshBucket(col("_nvec"),
              Similarity.hyperplanes(64, planesPerTable, 42L + t)).as(s"_b$t")
          }: _*)
      val bucketed = withBuckets
        .select(col("_nid"), col("_nvec"), col("_nnorm"),
          explode(array((0 until numTables).map(t =>
            struct(lit(t).as("tbl"), col(s"_b$t").as("bucket"))): _*)).as("tb"))
        .select(col("_nid"), col("_nvec"), col("_nnorm"),
          col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
      time("probe:bucketed-compute", n) { bucketed.count() }
      time("probe:bucketed-shuffle", n) {
        bucketed.repartition(col("tbl"), col("bucket")).count()
      }
      val a = bucketed.select(col("tbl"), col("bucket"), col("_nid").as("id_a"))
      val bb = bucketed.select(col("tbl").as("tbl_b"), col("bucket").as("bucket_b"),
        col("_nid").as("id_b"))
      time("probe:skinny-pair-join", n) {
        a.join(bb, col("tbl") === col("tbl_b") && col("bucket") === col("bucket_b") &&
          col("id_a") < col("id_b")).count()
      }
    }
    time(s"lshCosinePairs(t=$numTables,p=$planesPerTable)", n) {
      graft.sim.Similarity.lshCosinePairs(augmented, "vec_id", "embedding",
        tau = 0.95, numTables = numTables, planesPerTable = planesPerTable).count()
    }
    Persisted.unpersistAll()
    time(s"lshCosinePairsQuantized(t=$numTables,p=$planesPerTable)", n) {
      graft.sim.Similarity.lshCosinePairsQuantized(augmented, "vec_id", "embedding",
        tau = 0.95, numTables = numTables, planesPerTable = planesPerTable).count()
    }
    Persisted.unpersistAll()
    if (n <= 200000) {
      time("cosineNearDupPairs(exact)", n) {
        graft.sim.Similarity.cosineNearDupPairs(augmented, "vec_id", "embedding",
          tau = 0.95).count()
      }
    } else println(s"[scale-harness] cosineNearDupPairs(exact) skipped at n=$n (O(n^2))")
  }

  /** Synthetic text corpus: 40 hash-derived words per doc from a 50k-word
    * vocabulary. A uniform vocab makes 3-word shingles effectively unique
    * across unrelated docs, so verified pairs come only from the planted
    * near-dups while banding/bucketing cost is borne by the whole corpus.
    * Every 50th doc gets a copy with the last word replaced: 3 of 38
    * shingles differ, Jaccard = 35/41 ~= 0.85 > the 0.8 default tau.
    */
  def textCorpus(spark: SparkSession, count: Long): DataFrame = {
    def words(idExpr: String) =
      s"transform(sequence(0, 39), i -> concat('w', CAST(pmod(xxhash64($idExpr, i), 50000) AS STRING)))"
    val base = spark.range(count).select(col("id").as("doc_id"),
      expr(s"array_join(${words("id")}, ' ')").as("text"))
    val copies = spark.range(0, count, 50).select(
      (col("id") + lit(1000000000L)).as("doc_id"),
      expr(s"array_join(concat(slice(${words("id")}, 1, 39), array('wdup')), ' ')")
        .as("text"))
    base.unionByName(copies)
  }

  /** r9 iterative-graph + budget-selection operators at scale: PageRank
    * over a 2-out-regular n-node/2n-edge planted graph (the gate's graph
    * at 200-2000x), and token-budget selection over a hash-scored corpus.
    * The bounds to confirm: per-iteration cost is ~flat (two key shuffles
    * over the cached pre-partitioned edge relation), and the budget
    * cumsum never funnels the corpus through one window partition.
    */
  /** Domain cap at scale: the bucket-pruned construction vs the naive
    * per-domain window. Few huge domains is the adversarial shape — the
    * naive window funnels each domain through ONE task.
    */
  private def capMode(spark: SparkSession, count: Long): Unit = {
    import graft.ops.Sampling
    // payload toggle: thin rows measure the rank machinery alone; wide
    // rows (the real shape — documents) expose the naive window's
    // full-payload single-task shuffle
    val payload = sys.env.getOrElse("SPARK_GRAFT_CAP_PAYLOAD", "0").toInt
    val docs = spark.range(count)
      .select(col("id"), concat(lit("dom"), (col("id") % lit(sys.env.getOrElse("SPARK_GRAFT_CAP_DOMAINS", "4").toLong))).as("dom"),
        (if (payload > 0) expr(s"repeat(md5(CAST(id AS STRING)), ${payload / 32 + 1})")
         else lit("")).as("payload"))
      .persist()
    val n = docs.count()
    // the shipped form: plain rank window -> Catalyst WindowGroupLimit
    // (map-side per-domain top-k before the shuffle)
    time("domainCapSample(cap=1000)", n) {
      Sampling.domainCapSample(docs, "dom", "id", cap = 1000L).count()
    }
    Persisted.unpersistAll()
    // the hand-built md5-prefix bucket-offset construction (rejected
    // r10: 5x slower — it pays two extra full passes for a prune the
    // optimizer already performs via WindowGroupLimit)
    time("probe:hand-bucket-offsets", n) {
      val bucket = substring(Sampling.shuffleKey(col("id")), 1, 2)
      val bucketed = docs.withColumn("bkt", bucket)
      val offsets = bucketed.groupBy(col("dom"), col("bkt"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("dom"))
            .orderBy(col("bkt")).rowsBetween(
              org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
        .select(col("dom"), col("bkt"), col("off"))
      val localRank = row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("dom"), col("bkt"))
          .orderBy(Sampling.shuffleKey(col("id")), col("id")))
      bucketed.join(broadcast(offsets), Seq("dom", "bkt"))
        .filter(col("off") < 1000L)
        .withColumn("rk", col("off") + localRank)
        .filter(col("rk") <= 1000L).count()
    }
    docs.unpersist()
  }

  /** Boilerplate-skewed corpus: [[textCorpus]] with a shared 10-token
    * template appended to every `bpEvery`-th doc — the Zipfian shape real
    * corpora have (site chrome, license headers) and the r11 10.4M
    * validation did NOT probe (it ran ~uniform docs). The template's 8
    * internal trigrams each land in ~count/bpEvery documents, so the
    * unguarded shingle self-join must produce ~8·(count/bpEvery)²/2
    * within-key pairs — the quadratic tail the maxDf guard exists for.
    */
  def skewedTextCorpus(spark: SparkSession, count: Long,
      bpEvery: Long): DataFrame = {
    textCorpus(spark, count).withColumn("text",
      when(col("doc_id") % bpEvery === 0 && col("doc_id") < 1000000000L,
        concat(col("text"), lit(" "),
          expr("array_join(transform(sequence(0, 9), " +
            "i -> concat('bp', CAST(i AS STRING))), ' ')")))
        .otherwise(col("text")))
  }

  /** r11 verdict item 1: skew-probe the SMJ shingle self-joins on a
    * planted-boilerplate corpus. Questions this mode answers with
    * measurements (TUNING rows):
    *  - does the unguarded self-join survive a hot shingle (SMJ streams
    *    + spills the d² pair block), and does AQE's skew-split engage on
    *    it (counted from the executed adaptive plan)?
    *  - does the DEFAULT maxDfFraction=0.5 guard cap the blowup? (It
    *    structurally CANNOT for sub-50% boilerplate — df = count/bpEvery
    *    never crosses 0.5·count — so the arm measures the cost of that
    *    gap, and the absolute-maxDf arm measures the fix.)
    *  - is the PREFIX ssjoin immune? (hot shingles are the COMMONEST, so
    *    the rarest-first prefix never joins them — the candidate cut is
    *    exactly the skew cut)
    *  - does the posting-list variant hit its giant-row cliff here?
    *    (collect_list materializes the full d-element posting and
    *    expands d²/2 structs in ONE expression eval — run LAST, fenced)
    * SPARK_GRAFT_BP_EVERY overrides the boilerplate spacing (default
    * 1000 → df ≈ count/1000, ~10.4k docs at 10.4M).
    */
  /** Cumulative shuffle-write / spill totals across an arm's stages —
    * the DISK law the 104M dedup-prefix decade needs: whether the next
    * rung fits this box is a shuffle-bytes projection, not a guess.
    */
  private final class IoTotals extends org.apache.spark.scheduler.SparkListener {
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      diskSpill.addAndGet(m.diskBytesSpilled)
      memSpill.addAndGet(m.memoryBytesSpilled): Unit
    }
  }

  private def withIoTotals(spark: SparkSession, tag: String)(f: => Unit): Unit = {
    val l = new IoTotals
    spark.sparkContext.addSparkListener(l)
    // sample the LIVE disk floor: cumulative shuffle totals understate
    // the binding resource (concurrent shuffle files + in-flight sort
    // spill), and the rung-feasibility projection needs the true peak
    val minFree = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() => {
      while (!stop.get()) {
        minFree.getAndUpdate(m =>
          math.min(m, new java.io.File("/tmp").getUsableSpace))
        Thread.sleep(2000)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    try f finally {
      Thread.sleep(3000) // listener bus is async; let it drain
      stop.set(true)
      spark.sparkContext.removeSparkListener(l)
      println(f"[io-totals] $tag shuffleWriteGB=${l.shuffleWrite.get / 1e9}%.1f " +
        f"diskSpillGB=${l.diskSpill.get / 1e9}%.1f " +
        f"memSpillGB=${l.memSpill.get / 1e9}%.1f " +
        f"tmpFreeGB=${new java.io.File("/tmp").getUsableSpace / 1e9}%.1f " +
        f"minFreeGB=${minFree.get / 1e9}%.1f")
    }
  }

  /** r13 verdict item 4: the dedup-prefix at-scale posture at its third
    * decade. Runs ONLY the postures recommended for boilerplate corpora
    * (absolute maxDf; jaccard prefix; containment prefix — the
    * unguarded arms are infeasible at this df by the measured law, as
    * the 20%-share probe established), on the standard bpEvery=1000
    * skewed corpus, with per-arm cumulative shuffle/spill totals so the
    * next rung's DISK footprint is a measured projection (shuffle bytes
    * are linear in docs; the box's free disk is the binding resource at
    * 104M, and a cluster's disk scales with executors).
    * `SPARK_GRAFT_PREFIX_ARMS=maxdf|jaccard|containment` runs one arm
    * (the 104M rungs are hour-scale each; one arm per process keeps a
    * failure from voiding completed arms).
    */
  private def prefixDecadeMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    val bpEvery = sys.env.getOrElse("SPARK_GRAFT_BP_EVERY", "1000").toLong
    val armSel = sys.env.getOrElse("SPARK_GRAFT_PREFIX_ARMS", "all")
    def on(a: String) = armSel == "all" || armSel == a
    val docs = skewedTextCorpus(spark, count, bpEvery).persist()
    val n = docs.count()
    println(s"[scale-harness] prefixdecade: n=$n bpEvery=$bpEvery " +
      s"(planted df ~= ${count / bpEvery}) arms=$armSel")
    if (on("maxdf")) {
      withIoTotals(spark, "maxdf1000") {
        time("ngramJaccardPairs(maxDf=1000 absolute)", n) {
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.8,
            maxDf = Some(1000)).count()
        }: Unit
      }
      Persisted.unpersistAll()
    }
    if (on("jaccard")) {
      withIoTotals(spark, "jaccardPrefix") {
        time("jaccardPrefixPairs(tau=4/5)", n) {
          Dedup.jaccardPrefixPairs(docs, "doc_id", "text", n = 3,
            tauNum = 4, tauDen = 5).count()
        }: Unit
      }
      Persisted.unpersistAll()
    }
    if (on("containment")) {
      withIoTotals(spark, "containmentPrefix") {
        time("containmentPrefixPairs(tau=9/10)", n) {
          Dedup.containmentPrefixPairs(docs, "doc_id", "text", n = 3,
            tauNum = 9, tauDen = 10).count()
        }: Unit
      }
      Persisted.unpersistAll()
    }
    docs.unpersist(): Unit
  }

  /** r13 verdict item 6: the vocab family at 104M docs (4.2B tokens) —
    * frequency pass + top-N (the map-side-combine claim: the shuffle is
    * bounded by partitions × distinct tokens, never the token stream),
    * broadcast-join encode, and OOV stats at the decade the signals10m
    * evidence stops at.
    */
  private def vocabDecadeMode(spark: SparkSession, count: Long): Unit = {
    import graft.text.Vocabulary
    // arm filter (comma-set of encode|inrow|oov): the 106M relational
    // encode costs ~19 min and drove the disk floor to 3 GB — re-runs
    // that only need the in-row comparison skip it
    val arms = sys.env.getOrElse("SPARK_GRAFT_VOCAB_ARMS", "encode,inrow,oov")
      .split(',').map(_.trim).toSet
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    val vocab = Vocabulary.buildVocab(docs, "text", size = 50000, minCount = 2L)
      .persist()
    withIoTotals(spark, "buildVocab") {
      time("buildVocab(size=50k)", n) { vocab.count() }: Unit
    }
    if (arms("encode")) withIoTotals(spark, "encode") {
      time("encode(token-ids)", n) {
        consume(Vocabulary.encode(docs, "doc_id", "text", vocab))
      }: Unit
    }
    if (arms("inrow")) withIoTotals(spark, "encodeInRow") {
      time("encodeInRow(token-ids)", n) {
        consume(Vocabulary.encodeInRow(docs, "doc_id", "text", vocab))
      }: Unit
    }
    if (arms("oov")) withIoTotals(spark, "oovStats") {
      time("oovStats", n) {
        consume(Vocabulary.oovStats(docs, "doc_id", "text", vocab))
      }: Unit
    }
    // BPE segmentation stats: relational (explode + broadcast join +
    // per-doc reassembly agg) vs the embedded word→n_syms expression
    // (r15 verdict item 4). Both time a full call including the
    // identical 6-round training, so the delta IS the application path;
    // withIoTotals separates the reassembly exchange.
    if (arms("bpeseg")) withIoTotals(spark, "bpeSegmentStats") {
      time("bpeSegmentStats(rounds=6)", n) {
        consume(Vocabulary.bpeSegmentStats(docs, "doc_id", "text", 6))
      }: Unit
      Persisted.unpersistAll()
    }
    if (arms("bpeseginrow")) withIoTotals(spark, "bpeSegmentStatsInRow") {
      time("bpeSegmentStatsInRow(rounds=6)", n) {
        consume(Vocabulary.bpeSegmentStatsInRow(docs, "doc_id", "text", 6))
      }: Unit
      Persisted.unpersistAll()
    }
    vocab.unpersist()
    docs.unpersist(): Unit
  }

  private def ssjoinSkewMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    val bpEvery = sys.env.getOrElse("SPARK_GRAFT_BP_EVERY", "1000").toLong
    // SPARK_GRAFT_SKEW_ARMS=guarded skips the arms that are QUADRATIC in
    // the planted df (unguarded self-join, default-fraction guard,
    // posting-list): at the verdict's 20%-share scenario (bpEvery=5,
    // df = 0.2·corpus) those are ~3.5e13 candidate pairs — infeasible by
    // the measured law, which is the point — while the absolute-maxDf
    // and prefix arms must still complete. Default "all".
    val arms = sys.env.getOrElse("SPARK_GRAFT_SKEW_ARMS", "all")
    val quadraticArms = arms != "guarded"
    val docs = skewedTextCorpus(spark, count, bpEvery).persist()
    val n = docs.count()
    println(s"[scale-harness] ssjoinskew: bpEvery=$bpEvery -> " +
      s"planted df ~= ${count / bpEvery}, arms=$arms")
    // occupancy first: the candidate volume the arms below must absorb
    locally {
      val ng = Dedup.shingles(docs, "doc_id", "text", 3)
      val occ = ng.groupBy(col("ngram"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
        .agg(max(col("c")).as("maxDf"),
          sum(expr("c * (c - 1) / 2")).as("candPairs"),
          org.apache.spark.sql.functions.count(lit(1)).as("shingles")).head()
      println(s"[occupancy] skew corpus: shingles=${occ.get(2)} " +
        s"maxDf=${occ.get(0)} candPairs=${occ.get(1)}")
    }
    def skewEvidence(df: DataFrame): Unit = {
      // after the action the queryExecution holds the FINAL adaptive
      // plan; OptimizeSkewedJoin marks both the join (isSkew) and the
      // AQEShuffleRead (skewed) — count any case-insensitive "skew"
      val plan = df.queryExecution.executedPlan.toString.toLowerCase
      val hits = "skew".r.findAllIn(plan).size
      println(s"[scale-harness] AQE skew markers in executed plan: $hits")
    }
    // arm 1: UNGUARDED self-join (SMJ) — the r11 fix's posture under skew
    if (quadraticArms) {
      locally {
        val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, tau = 0.8, maxDfFraction = None)
        time("ngramJaccardPairs(unguarded, SMJ)", n) { pairs.count() }
        skewEvidence(pairs)
      }
      Persisted.unpersistAll()
      // arm 2: DEFAULT fraction guard — structurally can't cut
      // df = count/bpEvery boilerplate; expect arm-1 cost
      time("ngramJaccardPairs(maxDfFraction=0.5 default)", n) {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.8).count()
      }
      Persisted.unpersistAll()
    } else println("[scale-harness] quadratic arms SKIPPED (arms=guarded)")
    // arm 3: ABSOLUTE maxDf — the knob that actually bounds the blowup
    time("ngramJaccardPairs(maxDf=1000 absolute)", n) {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.8,
        maxDf = Some(1000)).count()
    }
    Persisted.unpersistAll()
    // arm 4: prefix ssjoin — rarest-first prefixes never join the hot
    // (commonest) shingles, so the skew never reaches the candidate join
    time("jaccardPrefixPairs(tau=4/5)", n) {
      Dedup.jaccardPrefixPairs(docs, "doc_id", "text", n = 3,
        tauNum = 4, tauDen = 5).count()
    }
    Persisted.unpersistAll()
    // arm 5: sub-side-prefix containment — same immunity, asymmetric form
    time("containmentPrefixPairs(tau=9/10)", n) {
      Dedup.containmentPrefixPairs(docs, "doc_id", "text", n = 3,
        tauNum = 9, tauDen = 10).count()
    }
    Persisted.unpersistAll()
    // arm 6 (LAST, fenced): posting-list pair generation — the giant-row
    // cliff claim, measured: one d-element posting expands d²/2 structs
    // in a single expression eval in a single task
    if (quadraticArms) {
      try time("ngramJaccardPairs(postingListPairs=true, unguarded)", n) {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.8,
          maxDfFraction = None, postingListPairs = true).count()
      } catch { case e: Throwable =>
        println(s"[scale-harness] posting-list arm DIED (the cliff, " +
          s"measured): ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
      Persisted.unpersistAll()
    }
    docs.unpersist()
  }

  /** r11 verdict item 5: the graph family at the skewed end — a
    * power-law-ish graph with ONE celebrity node (every 5th node links
    * to node 0, so in-degree(0) = count/5) against the same-size uniform
    * 2-out-regular graph. The claim to verify: the per-round contribution
    * aggregate (groupBy dst / groupBy (node, label)) absorbs the hot key
    * via map-side partial aggregation — no single-partition hotspot, so
    * celebrity cost ≈ uniform cost + the extra edge volume.
    */
  private def graphSkewMode(spark: SparkSession, count: Long): Unit = {
    import graft.graph.PageRank
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val nodes = spark.range(count).select(col("id").as("node")).persist()
    val n = nodes.count()
    val uniform = nodes.select(col("node").as("src"),
        ((col("node") * 7 + 13) % count).as("dst"))
      .unionByName(nodes.select(col("node").as("src"),
        ((col("node") * 31 + 5) % count).as("dst")))
    // celebrity graph: the uniform background PLUS count/5 edges into
    // node 0 — ~10% more edge rows, 20% of nodes adjacent to the hub
    val celebrity = uniform.unionByName(
      nodes.filter(col("node") % 5 === 0 && col("node") =!= 0)
        .select(col("node").as("src"), lit(0L).as("dst")))
    for ((name, edges) <- Seq("uniform" -> uniform, "celebrity" -> celebrity)) {
      // unpersist OUTSIDE the timed block (ssjoinSkewMode's fencing):
      // cache cleanup is not part of the arm being compared
      time(s"pageRank(6 iters, $name)", n) {
        consume(PageRank.pageRank(nodes, edges, iters = 6))
      }
      Persisted.unpersistAll()
      time(s"labelPropagate(5 iters, $name)", n) {
        consume(graft.graph.LabelProp.labelPropagate(nodes, edges, iters = 5))
      }
      Persisted.unpersistAll()
    }
    nodes.unpersist()
  }

  /** Merge/CDC-family decade probe (compact / upsert / scd2 /
    * snapshotDiff / purge). Arms and their checks:
    *  - `compact` over a count-row change stream (4 changes/key, 1%
    *    deletes, hash-jittered versions, 64-byte payloads riding the
    *    window shuffle).
    *  - `upsert` with the CDC INVARIANT asserted: split the stream at a
    *    version threshold (batch = newer versions, the MERGE contract),
    *    then upsert(compact(pre), batch) must equal compact(all) —
    *    count AND sum(version)/sum(tie) checksums.
    *  - `scd2` at 100 versions/key; invariant: exactly ONE open
    *    interval (is_current) per surviving key.
    *  - `snapshotDiff` of two count-row releases with PLANTED
    *    added/removed/changed counts, asserted exactly (the shuffle
    *    carries (key, 16-byte md5), never the 200-byte payload).
    *  - `purgeKeys` of 0.5% of keys — broadcast anti-join at scan
    *    speed; removed count asserted exactly.
    */
  private def mergeMode(spark: SparkSession, count: Long): Unit = {
    import graft.ops.Merge
    val numKeys = math.max(count / 4L, 1L)
    val isDel = expr("pmod(xxhash64(tie, 3), 100) = 0")
    val changes = spark.range(count).select(
      (col("id") % numKeys).as("key"),
      expr(s"pmod(xxhash64(id, 1), ${count}L)").as("version"),
      col("id").as("tie"),
      expr("pmod(xxhash64(id, 2), 7)").as("attr"),
      expr("repeat('x', 64)").as("payload"))
    // warmup (untimed): pay codegen/JIT before the first timed arm
    Merge.compact(changes.limit((count / 10L).toInt), "key", "version",
        "tie", isDel)
      .write.mode("overwrite").format("noop").save()

    var allCnt = -1L; var allVsum = -1L; var allTsum = -1L
    time(s"compact($count changes, $numKeys keys)", count) {
      val r = Merge.compact(changes, "key", "version", "tie", isDel)
        .agg(org.apache.spark.sql.functions.count(lit(1)),
          sum(col("version")), sum(col("tie"))).collect()(0)
      allCnt = r.getLong(0); allVsum = r.getLong(1); allTsum = r.getLong(2)
      require(allCnt > (numKeys * 9) / 10 && allCnt <= numKeys,
        s"compact kept $allCnt of $numKeys keys")
      allCnt
    }
    val splitV = count / 2
    time(s"upsert(snapshot + newer-version batch)", count) {
      val pre = changes.filter(col("version") < splitV)
      val batch = changes.filter(col("version") >= splitV)
      val snap = Merge.compact(pre, "key", "version", "tie", isDel)
      val r = Merge.upsert(snap, batch, "key", "version", "tie", isDel)
        .agg(org.apache.spark.sql.functions.count(lit(1)),
          sum(col("version")), sum(col("tie"))).collect()(0)
      require(r.getLong(0) == allCnt && r.getLong(1) == allVsum &&
        r.getLong(2) == allTsum,
        s"upsert != compact(all): ${r.getLong(0)}/${r.getLong(1)}/${r.getLong(2)} " +
          s"vs $allCnt/$allVsum/$allTsum")
      r.getLong(0)
    }

    val scdKeys = math.max(count / 100L, 1L)
    val history = spark.range(count).select(
      (col("id") % scdKeys).as("key"),
      col("id").as("version"), col("id").as("tie"),
      expr("pmod(xxhash64(id, 4), 3)").cast("string").as("attr"),
      expr("repeat('y', 64)").as("payload"))
    time(s"scd2($count rows, $scdKeys keys)", count) {
      val r = Merge.scd2(history, "key", "version", "tie", "attr")
        .agg(org.apache.spark.sql.functions.count(lit(1)),
          sum(col("is_current").cast("long")),
          count_distinct(col("key"))).collect()(0)
      require(r.getLong(1) == r.getLong(2),
        s"scd2 open intervals ${r.getLong(1)} != keys ${r.getLong(2)}")
      r.getLong(0)
    }

    // snapshot diff with planted added/removed/changed
    val shift = count / 200 // 0.5% churn each way
    val older = spark.range(count).select(col("id").as("key"),
      (col("id") % 1000).as("v"), expr("repeat('z', 200)").as("payload"))
    val newer = spark.range(shift, count + shift).select(col("id").as("key"),
      ((col("id") % 1000) +
        when(col("id") % 100 === 7, lit(1)).otherwise(lit(0))).as("v"),
      expr("repeat('z', 200)").as("payload"))
    val expChanged = (shift until count).count(i => i % 100 == 7).toLong
    time(s"snapshotDiff($count rows, 0.5% churn)", count) {
      val byStatus = Merge.snapshotDiff(older, newer, "key", Seq("v", "payload"))
        .groupBy(col("status")).agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(byStatus.getOrElse("added", 0L) == shift &&
        byStatus.getOrElse("removed", 0L) == shift &&
        byStatus.getOrElse("changed", 0L) == expChanged,
        s"diff $byStatus vs added/removed=$shift changed=$expChanged")
      byStatus.values.sum
    }

    time(s"purgeKeys(0.5% of keys)", count) {
      val keys = spark.range(shift).select(col("id").as("k"))
      val r = Merge.purgeKeys(older, "key", keys, "k").count()
      require(r == count - shift, s"purge kept $r, expected ${count - shift}")
      r
    }
  }

  /** Joins-family decade probe (as-of / interval / grid) — the last
    * family whose TUNING rows were design notes without measured 10M
    * rows. Arms:
    *  - as-of backward, uniform keys: `count` left events, `count/10`
    *    right reference rows, `count/100` keys — the one-shuffle
    *    union-tag plan; output asserted == |L| rows.
    *  - as-of backward, CELEBRITY key (10% of left rows on one key):
    *    the documented "skew is bounded by per-key sort" claim,
    *    measured — one window partition sorts ~count/10 + right rows.
    *  - as-of naive theta-join baseline (inner max-struct reduce), run
    *    at <= ~1M only: the quadratic-per-key intermediate the operator
    *    exists to avoid, quantified against the same inputs (matched
    *    rows and sum(px) asserted equal to the union-tag form's).
    *  - interval join (`clickPurchaseJoinBatch`): per-user burst
    *    traffic (events 60 s apart per user, 30-min horizon), so the
    *    per-key click x purchase block is bounded by the horizon — the
    *    shape a range join must have to survive 100 TB.
    *  - grid join: 25 broadcast zones at cellDeg=10 AND 10,000 small
    *    zones at cellDeg=2 — the zone-cell relation stays broadcastable
    *    (~60k rows) and candidates stay ~4/point, demonstrating the
    *    zone-count axis the operator doc claims ("no cross product at
    *    any zone count").
    * Timestamps are hash-jittered (not pre-sorted within keys) so the
    * per-key sorts do real work.
    */
  private def joinsMode(spark: SparkSession, count: Long): Unit = {
    import graft.ops.AsofJoin
    val numKeys = math.max(count / 100L, 1L)
    val base = 1700000000000L
    def leftEvents(celebrity: Boolean): DataFrame = {
      val uid = if (celebrity)
        when(col("id") % 10 === 0, lit(0L)).otherwise(col("id") % numKeys)
      else col("id") % numKeys
      spark.range(count).select(
        uid.as("user_id"), col("id").as("event_id"),
        expr(s"timestamp_millis(${base}L + pmod(xxhash64(id), ${count}L) * 1000)")
          .as("ts"))
    }
    // right side unique per (key, ts) BY CONSTRUCTION (AsofJoin contract):
    // 1000 ms id spacing dominates the <= 997 ms hash jitter
    val right = spark.range(math.max(count / 10L, 1L)).select(
      (col("id") % numKeys).as("user_id"),
      expr(s"timestamp_millis(${base}L + id * 1000 + pmod(xxhash64(id, 7), 997))")
        .as("rts"),
      (col("id") % 1000).cast("double").as("px"))

    // untimed warmup at count/10: the first timed arm must not carry
    // codegen/JIT charges the second arm skips (graphSkewMode fencing)
    AsofJoin.backward(leftEvents(celebrity = false).limit((count / 10L).toInt),
        right, Seq("user_id"), "ts", "rts", Seq("px"))
      .write.mode("overwrite").format("noop").save()

    var uniformMatched = -1L; var uniformSum = Double.NaN
    for ((name, celebrity) <- Seq("uniform" -> false, "celebrity" -> true)) {
      time(s"asofBackward($name keys=$numKeys)", count) {
        val out = AsofJoin.backward(leftEvents(celebrity), right,
          Seq("user_id"), "ts", "rts", Seq("px"))
        val r = out.agg(org.apache.spark.sql.functions.count(lit(1)), org.apache.spark.sql.functions.count(col("asof_px")),
          sum(col("asof_px"))).collect()(0)
        require(r.getLong(0) == count,
          s"as-of must preserve left rows: ${r.getLong(0)} vs $count")
        println(f"[joins] asof $name: matched=${r.getLong(1)} " +
          f"sum_px=${r.getDouble(2)}%.1f")
        if (!celebrity) { uniformMatched = r.getLong(1); uniformSum = r.getDouble(2) }
        r.getLong(0)
      }
    }
    if (count <= 2000000L) {
      def naive(l: DataFrame, r: DataFrame): DataFrame =
        l.join(r, l("user_id") === r("user_id") && col("rts") <= col("ts"))
          .groupBy(col("event_id"))
          .agg(max(struct(col("rts"), col("px"))).as("_m"))
          .select(col("event_id"), col("_m.px").as("px"))
      time("asofNaiveThetaBaseline(uniform)", count) {
        val r = naive(leftEvents(celebrity = false), right)
          .agg(org.apache.spark.sql.functions.count(lit(1)), sum(col("px"))).collect()(0)
        require(r.getLong(0) == uniformMatched &&
          math.abs(r.getDouble(1) - uniformSum) < 1e-6,
          s"theta baseline disagrees: ${r.getLong(0)}/${r.getDouble(1)} " +
            s"vs $uniformMatched/$uniformSum")
        r.getLong(0)
      }
      // DENSE-key arm: the regime where the theta join's per-key
      // |L_u| x |R_u| intermediate actually explodes (keys=count/10000
      // => R_u ~ 1000, intermediate ~ count * R_u / 2 rows) while the
      // union-tag plan still sorts exactly |L|+|R| rows. At R_u ~ 10
      // (the uniform arm above) the two are comparable — the union-tag
      // form is insurance priced at zero, paying off as right-side
      // density per key grows.
      val denseKeys = math.max(count / 10000L, 1L)
      val denseLeft = spark.range(count).select(
        (col("id") % denseKeys).as("user_id"), col("id").as("event_id"),
        expr(s"timestamp_millis(${base}L + pmod(xxhash64(id), ${count}L) * 1000)")
          .as("ts"))
      val denseRight = spark.range(math.max(count / 10L, 1L)).select(
        (col("id") % denseKeys).as("user_id"),
        expr(s"timestamp_millis(${base}L + id * 1000 + pmod(xxhash64(id, 7), 997))")
          .as("rts"),
        (col("id") % 1000).cast("double").as("px"))
      var denseMatched = -1L; var denseSum = Double.NaN
      time(s"asofBackward(dense keys=$denseKeys)", count) {
        val r = AsofJoin.backward(denseLeft, denseRight,
            Seq("user_id"), "ts", "rts", Seq("px"))
          .agg(org.apache.spark.sql.functions.count(col("asof_px")),
            sum(col("asof_px"))).collect()(0)
        denseMatched = r.getLong(0); denseSum = r.getDouble(1)
        denseMatched
      }
      time(s"asofNaiveTheta(dense keys=$denseKeys)", count) {
        val r = naive(denseLeft, denseRight)
          .agg(org.apache.spark.sql.functions.count(lit(1)), sum(col("px"))).collect()(0)
        require(r.getLong(0) == denseMatched &&
          math.abs(r.getDouble(1) - denseSum) < 1e-6,
          s"dense theta disagrees: ${r.getLong(0)}/${r.getDouble(1)} " +
            s"vs $denseMatched/$denseSum")
        r.getLong(0)
      }
    }

    // interval join: bursty per-user traffic, bounded per-key block
    val events = spark.range(count).select(
      (col("id") % numKeys).as("user_id"),
      col("id").as("event_id"),
      expr(s"timestamp_millis(${base}L + (id DIV ${numKeys}L) * 60000 + " +
        s"pmod(id, 60) * 1000)").as("ts"),
      // type from a HASH of the id, not id mod k: numKeys can share
      // factors with k, which would correlate type with user_id (a
      // mod-20 type on mod-10400 users gives purchase-users no clicks)
      when(expr("pmod(xxhash64(id, 3), 20)") < 10, lit("click"))
        .when(expr("pmod(xxhash64(id, 3), 20)") === 10, lit("purchase"))
        .otherwise(lit("view")).as("event_type"),
      (col("id") % 500).cast("double").as("value"))
    time("intervalJoin(30min horizon)", count) {
      graft.streaming.StreamingOps.clickPurchaseJoinBatch(events)
        .agg(org.apache.spark.sql.functions.count(lit(1))).collect()(0).getLong(0)
    }

    // grid join: hash-spread points; zone-count axis
    val points = spark.range(count).select(
      (col("id") % 997L).as("taxon"),
      expr("(pmod(xxhash64(id, 1), 17000) / 100.0D) - 85.0D").as("lat"),
      expr("(pmod(xxhash64(id, 2), 35000) / 100.0D) - 175.0D").as("lon"))
    val manyZones = spark.range(10000).selectExpr(
      "id AS zone_id",
      "(id * 37) % 160 - 80 AS lat0",
      "(id * 37) % 160 - 80 + 2 + id % 3 AS lat1",
      "(id * 101) % 340 - 170 AS lon0",
      "(id * 101) % 340 - 170 + 3 + id % 4 AS lon1")
    for ((name, zs, cell) <- Seq(
        ("25 zones cellDeg=10", graft.geo.GridJoin.zones(spark), 10),
        ("10k zones cellDeg=2", manyZones, 2))) {
      time(s"gridJoin($name)", count) {
        val r = graft.geo.GridJoin.pointsPerZone(points, "lat", "lon",
            "taxon", zs, cell)
          .agg(org.apache.spark.sql.functions.count(lit(1)), sum(col("n_points"))).collect()(0)
        println(s"[joins] grid $name: zones_hit=${r.getLong(0)} " +
          s"contained_points=${r.getLong(1)}")
        r.getLong(0)
      }
    }
  }

  /** PageRank alone at the scale=2^32 guard's ceiling (~2^26 nodes):
    * pins the per-round wall-clock slope beyond the 1M/10M graph rows
    * (NOTES r9 candidate). 2-out-regular synthetic graph, 2 rounds.
    */
  private def graphXlMode(spark: SparkSession, count: Long): Unit = {
    import graft.graph.PageRank
    val nodes = spark.range(count).select(col("id").as("node")).persist()
    val n = nodes.count()
    val edges = nodes.select(col("node").as("src"),
        ((col("node") * 7 + 13) % count).as("dst"))
      .unionByName(nodes.select(col("node").as("src"),
        ((col("node") * 31 + 5) % count).as("dst")))
    time("pageRank(2 iters)", n) {
      val out = PageRank.pageRank(nodes, edges, iters = 2)
      out.write.mode("overwrite").format("noop").save()
      Persisted.unpersistAll(); 0L
    }
    time("labelPropagate(2 iters)", n) {
      val out = graft.graph.LabelProp.labelPropagate(nodes, edges, iters = 2)
      out.write.mode("overwrite").format("noop").save()
      Persisted.unpersistAll(); 0L
    }
    nodes.unpersist()
  }

  /** ANN recall audit at scale (r10): the exact arm is the bound —
    * Q·n skinny cosine pairs (the query set broadcasts, the rank cut is
    * WindowGroupLimit), the IVF arm reuses the already-measured coarse
    * assignment. Claim: audit cost ≈ Q corpus scans' worth of dot
    * products, linear in n at fixed Q — pick Q for the confidence the
    * monitoring needs, not the corpus size.
    */
  private def recallMode(spark: SparkSession, count: Long): Unit = {
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val emb = corpus(spark, count).persist()
    emb.count()
    val step = math.max(count / 64L, 1L)
    time(s"annRecallAudit(Q=${count / step}, k=10, nc=256, np=8)", count) {
      consume(graft.sim.Similarity.annRecallAudit(emb, "vec_id", "embedding",
        k = 10, queryStep = step, numClusters = 256, nProbe = 8))
    }
    // the quantized sibling, in the production shape: the codebook is
    // trained on a BOUNDED deterministic sample (the faiss protocol —
    // codebook quality saturates long before corpus size; training cost
    // must not scale with the corpus), codes staged once over the FULL
    // corpus (encode amortized at ingest), the audit scans codes + pays
    // the same Q·n exact arm. Sample cap: ~1M sub-vectors per subspace.
    val sampleStep = math.max(count / 1000000L, 1L)
    val trainSample = emb.filter(col("vec_id") % sampleStep === 0)
    val cb = graft.sim.Similarity.pqCodebookTrained(trainSample, "vec_id",
      "embedding", m = 8, ksub = 16, dim = 64, iterations = 2,
      deterministic = true)
    val codes = graft.sim.Similarity.pqEncodedRelation(emb, "vec_id",
      "embedding", cb, m = 8, ksub = 16, dim = 64, numClusters = 16)
      .persist()
    codes.count()
    time(s"pqRecallAudit(Q=${count / step}, k=10, m=8, rerank=40, staged codes)", count) {
      consume(graft.sim.Similarity.pqRecallAudit(emb, "vec_id", "embedding",
        k = 10, queryStep = step, m = 8, ksub = 16, rerank = 40,
        dim = Some(64), codebook = Some(cb), precomputedCodes = Some(codes)))
    }
    codes.unpersist()
    // fold-fix certification: FULL-corpus deterministic training used to
    // die at 64 g in the array_sort(collect_list) giant-group projection
    // (r13 measured); the streamed orderedGroupMeans fold must complete.
    // One round is enough to exercise the assignment + fold pipeline.
    time("pqCodebookTrained FULL corpus, deterministic, 1 iter", count) {
      graft.sim.Similarity.pqCodebookTrained(emb, "vec_id", "embedding",
        m = 8, ksub = 16, dim = 64, iterations = 1, deterministic = true)
      0L
    }
    emb.unpersist()
  }

  /** The r10 linear-claim check at the next decade: the three text ops
    * whose scale story is "one or two token-agg passes + broadcast
    * models" measured at ~10M docs — if the claim holds, each costs
    * ~10x its 1M row and nothing super-linear appears.
    */
  private def signals10mMode(spark: SparkSession, count: Long): Unit = {
    import graft.text.Vocabulary
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    time("surprisalScore", n) {
      val out = consume(Vocabulary.surprisalScore(docs, "doc_id", "text"))
      Persisted.unpersistAll(); out
    }
    time("tfidfKeyTerms(k=5)", n) {
      val out = consume(Vocabulary.tfidfKeyTerms(docs, "doc_id", "text", k = 5))
      Persisted.unpersistAll(); out
    }
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    time("nbClassify(halves model + full scoring)", n) {
      val out = consume(Vocabulary.nbClassify(docs, "doc_id", "text",
        Vocabulary.nbTokenWeights(
          Vocabulary.unigramDriftCounts(a, b, "text"))))
      Persisted.unpersistAll(); out
    }
    docs.unpersist()
  }

  /** Skip-gram co-occurrence at corpus scale: pairs stream in-row from
    * the Generator (window × tokens rows at scan speed, no join); the
    * cost driver is the count agg's PAIR CARDINALITY — on this
    * uniform-vocab corpus pairs barely repeat, so the agg shuffles ~one
    * row per sampled pair (the measured worst case in TUNING). */
  private def coocMode(spark: SparkSession, count: Long): Unit = {
    import graft.text.Vocabulary
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    // untimed warmup: the mode's first window op pays ~90 s of one-time
    // session cost (JIT + codegen + cache-read paths) regardless of
    // which variant runs first — measured identically across the join,
    // HOF, and Generator shapes
    consume(Vocabulary.skipgramCounts(docs, "doc_id", "text", 1, 5L))
    Persisted.unpersistAll()
    for (w <- Seq(2, 5)) time(s"skipgramCounts(window=$w)", n) {
      val out = consume(Vocabulary.skipgramCounts(
        docs, "doc_id", "text", window = w, minCount = 5L))
      Persisted.unpersistAll()
      out
    }
    docs.unpersist()
  }

  /** The four gated summaries at the scale they exist for: `count`
    * values (half duplicated) sketched by KMV, HLL, Bloom, CMS — every
    * one is a distinct/agg-bounded single pass, so the expectation is
    * "costs ≈ one distinct of the column" with state that never grows.
    */
  private def sketchesMode(spark: SparkSession, count: Long): Unit = {
    import graft.sketch.{Bloom, CountMin, Hll, Kmv}
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val vals = spark.range(count).select((col("id") % (count / 2)).as("v"))
    time(s"kmv(k=512) over $count vals (n/2 distinct)", count) {
      consume(Kmv.kmvEstimate(Kmv.kmvSketch(Kmv.kmvHashes(vals, "v"), 512), 512))
    }
    time("hll(p=10) same", count) {
      consume(Hll.hllEstimate(
        Hll.hllRegisters(spark, Kmv.kmvHashes(vals, "v"), 10), 10))
    }
    time("bloom(m=2^24, k=4) build+disjoint probe", count) {
      consume(Bloom.bloomFprAudit(vals.distinct(),
        vals.select((col("v") + 10L * count).as("v")).distinct(),
        mBits = 1L << 24, kHashes = 4))
      Persisted.unpersistAll(); 0L
    }
    time("cms(w=10) counters", count) {
      consume(CountMin.sketch(
        vals.select(col("v").cast("string").as("token")), widthBits = 10))
    }
  }

  /** Triangle counting at scale with DELIBERATE skew: 4 hash edges per
    * node plus 16 mega-hubs each touching n/16 nodes — the regime where
    * a naive shared-endpoint join pays Σdeg² ≈ 16·(n/16)² and dies,
    * while degree-ordered orientation keeps every out-degree (hubs
    * included) near the √m bound. Reported beside the wall:
    * max_oriented_outdeg, the certificate the claim rests on.
    */
  private def trianglesMode(spark: SparkSession, count: Long): Unit = {
    val nodes = spark.range(count).select(col("id").as("node")).persist()
    val n = nodes.count()
    val hash = (0 until 4).map(k =>
      nodes.select(col("node").as("src"),
        pmod(xxhash64(col("node"), lit(k)), lit(n)).as("dst")))
      .reduce(_.unionByName(_))
    val hubs = nodes.select(col("node").as("src"), (col("node") % 16).as("dst"))
    val edges = hash.unionByName(hubs)
    time(s"triangleCount(4n hash + 16 hubs, n=$n)", n) {
      val row = graft.graph.Triangles.triangleCount(edges).head()
      println(s"[scale-harness]   -> $row")
      Persisted.unpersistAll()
      0L
    }
    nodes.unpersist()
  }

  private def graphMode(spark: SparkSession, count: Long): Unit = {
    import graft.graph.PageRank
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val nodes = spark.range(count).select(col("id").as("node")).persist()
    val n = nodes.count()
    val edges = nodes.select(col("node").as("src"),
        ((col("node") * 7 + 13) % count).as("dst"))
      .unionByName(nodes.select(col("node").as("src"),
        ((col("node") * 31 + 5) % count).as("dst")))
    for (iters <- Seq(2, 8)) time(s"pageRank($iters iters)", n) {
      val out = consume(PageRank.pageRank(nodes, edges, iters))
      Persisted.unpersistAll()
      out
    }
    // label propagation: same per-round skeleton as pageRank (join into
    // the cached symmetrized edges + two map-side aggs) but the contrib
    // agg key is (node, label) — the claim is per-round cost within ~2x
    // of a pageRank round
    for (iters <- Seq(2, 5)) time(s"labelPropagate($iters iters)", n) {
      val out = consume(graft.graph.LabelProp.labelPropagate(nodes, edges, iters))
      Persisted.unpersistAll()
      out
    }
    val docs = textCorpus(spark, count).select(col("doc_id"),
      pmod(xxhash64(col("doc_id")), lit(1000)).as("quality"),
      graft.text.TextFunctions.tokenCount(col("text")).cast("long").as("n_toks"))
      .persist()
    docs.count()
    time("tokenBudgetSelect(~half the tokens)", n) {
      consume(graft.ops.Sampling.tokenBudgetSelect(docs, "doc_id", "n_toks",
        "quality", budget = count * 20L, prefixChars = 1))
    }
    docs.unpersist()
    nodes.unpersist()
    // chunk->doc pooling: 1M 64-dim chunk vectors into count/100 docs —
    // the per-group HOF fold (CodegenFallback) is the cost to watch
    val vecs = corpus(spark, count)
      .select(col("vec_id"), (col("vec_id") % (count / 100L)).as("doc"),
        col("embedding"))
    time("meanPoolVectors(100 chunks/doc)", count) {
      consume(graft.sim.Similarity.meanPoolVectors(vecs, "doc", "vec_id",
        "embedding"))
    }
    // hybrid retrieval at scale: BM25 arm over the text corpus + IVF arm
    // over the vector corpus, RRF-fused — the fuse itself is k rows/arm,
    // so the wall is the two arms' own (already-measured) plans
    val hdocs = textCorpus(spark, count).persist()
    hdocs.count()
    val hvecs = corpus(spark, count)
    time("hybridSearch(bm25 + ivf, k=25)", count) {
      val sparse = graft.text.Vocabulary.bm25SearchFixed(hdocs, "doc_id",
        "text", query = Seq("w100", "w2000", "w30000"), k = 50)
      val dense = graft.sim.Similarity.ivfTopK(hvecs, "vec_id", "embedding",
        queryId = 0L, k = 50, numClusters = 64, nProbe = 4)
        .select(col("vec_id").as("doc_id"), col("cosine"))
      consume(graft.sim.HybridSearch.rrfFuse(Seq(
        sparse -> Seq(col("bm25_fp").desc, col("doc_id")),
        dense -> Seq(col("cosine").desc, col("doc_id"))), "doc_id", k = 25))
    }
    hdocs.unpersist()
  }

  /** r8 signal operators at scale: surprisal, drift, quantile sketch.
    * The claims under test: surprisal/drift cost ~ two token-agg passes
    * + broadcast joins (so 10x corpus ≈ 10x scan time, never a pair
    * blowup); the quantile sketch is one bounded-cell agg.
    */
  private def signalsMode(spark: SparkSession, count: Long): Unit = {
    import graft.text.Vocabulary
    import graft.sketch.QuantileSketch
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    time("surprisalScore", n) {
      consume(Vocabulary.surprisalScore(docs, "doc_id", "text"))
    }
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    time("unigramDrift(halves)", n) {
      consume(Vocabulary.unigramDrift(a, b, "text"))
    }
    val withLen = docs.withColumn("n_chars", length(col("text")))
    time("quantileSketch(7 pcts)", n) {
      consume(QuantileSketch.valueQuantiles(withLen, "n_chars",
        pcts = Seq(1, 10, 25, 50, 75, 90, 99), binWidth = 16L,
        maxValue = 1023L))
    }
    // ranked retrieval at scale (r8 verdict item 6): same plan shape as
    // searchByTokens — IN-filtered token scan, vocab-bounded fixed-point
    // idf table, ordered limit; query terms exist by construction
    // (textCorpus vocabulary is w0..w49999)
    time("bm25SearchFixed(3 terms, k=25)", n) {
      consume(Vocabulary.bm25SearchFixed(docs, "doc_id", "text",
        query = Seq("w100", "w2000", "w30000"), k = 25))
    }
    // TF-IDF key terms (r10): one tf agg + vocab-bounded broadcast idf +
    // the WindowGroupLimit rank cut — claim: ~the tf-agg pass, the rank
    // prune never funnels a doc's full term set through one partition
    time("tfidfKeyTerms(k=5)", n) {
      consume(Vocabulary.tfidfKeyTerms(docs, "doc_id", "text", k = 5))
    }
    // NB classifier (r10): two token aggs (model) + broadcast-scored
    // scan — the claim is drift-build cost + one surprisal-shaped
    // scoring pass
    time("nbClassify(halves model + full scoring)", n) {
      val out = consume(Vocabulary.nbClassify(docs, "doc_id", "text",
        Vocabulary.nbTokenWeights(
          Vocabulary.unigramDriftCounts(a, b, "text"))))
      Persisted.unpersistAll(); out
    }
    // DSIR selection at scale (r9): the model is bucket-bounded (two
    // feature aggs + the 4096-row universe), scoring is a broadcast join
    // on the raw feature stream — the bound to confirm is that 10x the
    // corpus costs ~the two extra feature passes, nothing super-linear
    val tgt = docs.filter(col("doc_id") % 10 === 0)
    val raw = docs.filter(col("doc_id") % 10 =!= 0)
    time("dsirSelect(top-1000)", n) {
      consume(Vocabulary.dsirSelect(tgt, raw, "doc_id", "text", k = 1000))
    }
    // bigram stupid-backoff surprisal (r9): one extra corpus pass over
    // unigram surprisal (the bigram count agg) + the TakeOrdered model
    // prune; scoring is still broadcast-model-onto-stream, so the claim
    // is ~2x the unigram scoring cost, never super-linear
    time("bigramSurprisal(topN=65536)", n) {
      consume(Vocabulary.bigramSurprisal(docs, "doc_id", "text",
        topN = 65536))
    }
    Persisted.unpersistAll()
    // interpolated KN (r10): unlike the pruned stupid-backoff model, KN
    // carries the FULL bigram-type table (continuation counts need it),
    // so scoring joins the bigram stream on (w1,w2) — one content-keyed
    // shuffle bounded by the bigram stream, plus the type-bounded model
    // aggs; claim: small constant over bigramSurprisal, never
    // super-linear
    time("knSurprisal", n) {
      consume(Vocabulary.knSurprisal(docs, "doc_id", "text"))
    }
    Persisted.unpersistAll()
    // the stateless scorer (model as a map literal, no explode/join) —
    // the per-probe cost once the model is a staged artifact, and the
    // per-row cost bound for the streaming ingest-time scorer
    val wmap = Vocabulary.dsirWeightsMap(
      Vocabulary.dsirBucketWeights(tgt, raw, "text"))
    Persisted.unpersistAll()
    time("dsirScoreCol(expr scan)", n) {
      consume(raw.select(col("doc_id"),
        Vocabulary.dsirScoreCol(col("text"), wmap).as("s")))
    }
    docs.unpersist()
  }

  /** Prototypicality pruning at scale (r9): the assignment join scores
    * n × numClusters skinny rows — the same coarse-assignment cost IVF
    * pays (amortized at ingest in production, here measured per run with
    * pre-trained centroids passed in, isolating assignment + rank from
    * training). numClusters ~ sqrt(n) per the IVF sizing rule.
    */
  private def protoMode(spark: SparkSession, count: Long): Unit = {
    import graft.sim.Similarity
    val emb = corpus(spark, count).persist()
    val n = emb.count()
    val c = math.max(16, math.sqrt(n.toDouble).toInt / 2)
    val cent = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      numClusters = c, iterations = 1).persist()
    val nc = cent.count()
    time(s"prototypesPrune(c=$nc, drop=25%)", n) {
      Similarity.prototypesPrune(emb, "vec_id", "embedding",
        dropPerMille = 250, precomputedCentroids = Some(cent))
        .write.mode("overwrite").format("noop").save(); 0L
    }
    Persisted.unpersistAll()
    cent.unpersist(); emb.unpersist(): Unit
  }

  /** The distributed union-find fallback measured at 10M+ pairs (r8
    * verdict item 5): `duplicateGroupsAuto`'s driver cap routes big pair
    * sets to convergence-checked propagate+pointer-jump; this records its
    * rounds and wall at the scale the cap defends. Pair graphs are
    * synthetic — the algorithm sees only the component structure — at the
    * two shapes that bracket reality: 4-node stars (the near-dup norm,
    * diameter 2) and 1000-node chains (adversarial diameter, where
    * pointer-jumping's log-diameter convergence is the whole story).
    */
  private def groupsMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    val stars = spark.range(count)
      .filter(col("id") % 4 =!= 0)
      .select(((col("id") / 4).cast("long") * 4).as("id_a"), col("id").as("id_b"))
    val chains = spark.range(count)
      .filter(col("id") % 1000 =!= 999)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    Seq(("stars(size-4,diam-2)", stars, (count + 3) / 4),
      ("chains(len-1000)", chains, (count + 999) / 1000))
      .foreach { case (name, pairs, wantGroups) =>
        val p = pairs.persist()
        val n = p.count()
        var rounds = 0
        var groups = 0L
        // io totals per arm (r15 verdict item 5): the decade claim is
        // linear shuffle bytes per pair alongside bounded rounds
        withIoTotals(spark, s"groups:$name") {
          time(s"duplicateGroupsConverged:$name", n) {
            groups = Dedup.duplicateGroupsConverged(
              p, onRound = r => rounds = r)
              .select(col("group_id")).distinct().count()
            groups
          }: Unit
        }
        println(s"[scale-harness] $name pairs=$n rounds=$rounds " +
          s"groups=$groups (want $wantGroups)")
        assert(groups == wantGroups,
          s"$name: got $groups components, expected $wantGroups")
        Persisted.unpersistAll()
        p.unpersist(true): Unit
      }
  }

  /** Streaming state at ~10M distinct keys (r12 verdict item 4): the
    * transformWithState/RocksDB path is functionally gated at sf0.1 but
    * had no large-key-cardinality row. Drives the CDC keep-latest
    * compaction (one ValueState row per key — state == key cardinality,
    * the worst of the gated processors) over a `count`-key change stream
    * split into 4 AvailableNow micro-batches, so batch 1 starts on empty
    * state and batch 4 updates against ~`count` existing keys. Reports
    * per-batch wall, state rows, and the RocksDB store's own memory /
    * SST-file metrics — the claim to verify is that per-batch cost stays
    * ~flat as resident state grows (RocksDB is log-structured: updates
    * are appends + background compaction, not in-place B-tree touches).
    * A second RECOVERY arm then restarts the query from the same
    * checkpoint with a 1% tail of late updates: the restart batch pays
    * the full state reload (snapshot + changelog replay for every
    * partition) before committing — the executor-loss / redeploy cost
    * at `count` resident keys, reported separately as [streamrestore].
    */
  /** Streaming ingest-validation decade probe: the stateless
    * valid/quarantine split ([[graft.streaming.StreamingOps
    * .streamingValidateQuarantine]]) over a synthetic events corpus with
    * a deterministic ~16% corruption mix (id % 37 selects one violation
    * class: null user / null ts / out-of-range ts / NaN value /
    * over-envelope value / truncated-JSON props), ingested as 8
    * micro-batches (16 files, maxFilesPerTrigger=2). Stateless rules ⇒
    * the claims to verify are (a) per-batch wall tracks BATCH size, not
    * stream history (no state operator — nothing accumulates), and
    * (b) end-to-end wall and sink bytes scale linearly in `count`.
    * Accounting is EXACT, not statistical: each corrupt id violates
    * exactly one rule, so quarantine rows == planted ids and
    * valid + quarantined must partition the source.
    */
  private def streamValidateMode(spark: SparkSession, count: Long): Unit = {
    import graft.streaming.StreamingOps
    import graft.ops.Validate
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_streamvalidate_" +
      s"${ProcessHandle.current().pid()}"
    val rootFile = new java.io.File(root)
    try {
      val m = col("id") % 37
      spark.range(count).select(
          col("id").as("event_id"),
          when(m === 1, lit(null).cast("long"))
            .otherwise(col("id") % 1000000L).as("user_id"),
          when(m === 2, lit(null).cast("timestamp"))
            .when(m === 3, expr("timestamp_millis(-3000000000000)"))
            .otherwise(expr("timestamp_millis(1700000000000 + id * 37)"))
            .as("ts"),
          when(col("id") % 3 === 0, lit("click"))
            .when(col("id") % 3 === 1, lit("view"))
            .otherwise(lit("purchase")).as("event_type"),
          when(m === 4, lit(Double.NaN))
            .when(m === 5, lit(1e18d))
            .otherwise((col("id") % 10000).cast("double") / 100.0)
            .as("value"),
          when(m === 6, lit("{\"a\":1,"))
            .otherwise(concat(lit("{\"k\":"), (col("id") % 100).cast("string"),
              lit("}"))).as("props"))
        .repartition(16).write.parquet(s"$root/src")
      val src = spark.read.parquet(s"$root/src")
      val n = src.count()
      val rules = Validate.eventRules()
      // per-batch progress via a listener — the operator returns only the
      // sink relations; progress events are async, so collect by batchId
      val progress = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          progress.synchronized {
            progress += ((e.progress.batchId, e.progress.numInputRows,
              e.progress.batchDuration)); ()
          }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val (valid, quarantine) =
        try {
          var out: (DataFrame, DataFrame) = null
          time(s"streamingValidateQuarantine 8 batches, $count events", n) {
            out = StreamingOps.streamingValidateQuarantine(
              spark, s"$root/src", src, "event_id", rules, s"$root/out",
              maxFilesPerTrigger = Some(2), timeoutMs = 3600000L)
            0L
          }
          // drain async listener events: poll until every source row is
          // accounted for in per-batch progress (the terminal condition),
          // bounded — a fixed sleep was race-prone on a loaded box and
          // silently dropped late batches from the report (ADVICE r15)
          val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
          while (progress.synchronized(progress.map(_._2).sum) < n &&
              System.nanoTime() < deadline)
            Thread.sleep(100)
          out
        } finally spark.streams.removeListener(listener)
      progress.synchronized {
        progress.sortBy(_._1).foreach { case (id, in, wall) =>
          println(f"[streamvalidate] batch=$id%2d in=$in%9d " +
            f"wall=${wall / 1e3}%7.1f s")
        }
      }
      val validN = valid.count()
      val quarantineRows = quarantine.count()
      val quarantinedIds = quarantine.select("event_id").distinct().count()
      val planted = src.filter(col("event_id") % 37 >= 1 &&
        col("event_id") % 37 <= 6).count()
      println(f"[streamvalidate] n=$n valid=$validN quarantineRows=" +
        f"$quarantineRows quarantinedIds=$quarantinedIds planted=$planted " +
        f"validMB=${org.apache.commons.io.FileUtils.sizeOfDirectory(
          new java.io.File(s"$root/out/valid")) / 1e6}%.1f " +
        f"quarMB=${org.apache.commons.io.FileUtils.sizeOfDirectory(
          new java.io.File(s"$root/out/quarantine")) / 1e6}%.1f")
      assert(quarantineRows == planted && quarantinedIds == planted,
        s"quarantine must equal the planted set exactly " +
          s"($quarantineRows/$quarantinedIds vs $planted)")
      assert(validN + quarantinedIds == n,
        "valid + quarantined must partition the stream")
      // RETRY-SAFE posture arm: the batchId-keyed overwrite layout
      // (idempotentBatchPaths) pays one directory per epoch per sink —
      // this arm prices that protection at the same n so the deploy
      // choice (append for replay-free backfills vs idempotent for
      // live at-least-once ingest) is a measured trade, not a guess
      val (validI, quarantineI) =
        locally {
          var out: (DataFrame, DataFrame) = null
          time(s"streamingValidateQuarantine IDEMPOTENT layout, $count events", n) {
            out = StreamingOps.streamingValidateQuarantine(
              spark, s"$root/src", src, "event_id", rules, s"$root/outIdem",
              maxFilesPerTrigger = Some(2), timeoutMs = 3600000L,
              idempotentBatchPaths = true)
            0L
          }
          out
        }
      assert(validI.count() == validN && quarantineI.count() == quarantineRows,
        "idempotent-layout sinks must equal the append-layout relation")
      // EPOCH COMPACTION arm (r16): fold the idempotent run's closed
      // epochs (one dir per epoch per sink) into one merged dir per
      // sink — the maintenance cost a long-lived at-least-once ingest
      // pays on its re-staging cadence, priced at the same n
      import graft.streaming.EpochLayout
      val vRoot = s"$root/outIdem/valid"
      val qRoot = s"$root/outIdem/quarantine"
      val filesBefore = EpochLayout.dataFileCount(new java.io.File(vRoot)) +
        EpochLayout.dataFileCount(new java.io.File(qRoot))
      var reports: Seq[EpochLayout.CompactionReport] = Nil
      time(s"compactEpochSink both sinks, $count events", n) {
        // size merged files to ~128 MB (the maxPartitionBytes posture) —
        // file COUNT is what compaction exists to shrink, so the target
        // follows bytes, not core count
        reports = Seq(vRoot, qRoot).flatMap { r =>
          val mb = org.apache.commons.io.FileUtils
            .sizeOfDirectory(new java.io.File(r)) / 1e6
          EpochLayout.compactEpochSink(spark, r,
            targetFiles = math.max(1, math.ceil(mb / 128).toInt))
        }
        0L
      }
      val filesAfter = EpochLayout.dataFileCount(new java.io.File(vRoot)) +
        EpochLayout.dataFileCount(new java.io.File(qRoot))
      println(f"[streamvalidate] compaction files $filesBefore -> " +
        f"$filesAfter epochs=${reports.map(_.mergedEpochs).sum}")
      val validC = EpochLayout.readEpochSink(spark, vRoot, src).count()
      val quarC = EpochLayout.readEpochSink(spark, qRoot, src).count()
      assert(validC == validN && quarC == quarantineRows,
        s"compacted read-back must equal the pre-compaction relation " +
          s"($validC/$validN, $quarC/$quarantineRows)")
      assert(filesAfter < filesBefore,
        s"compaction must shrink the file count ($filesAfter/$filesBefore)")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(rootFile)
    }
  }

  /** Prices the dedup-on-arrival INDEX-REFRESH cadence at scale
    * (r15 verdict item 4's cost half; convergence is spec-pinned in
    * StreamingOpsSpec): `streamingIncrementalDedup` probes a FROZEN
    * staged [[graft.dedup.Dedup.CorpusDedupIndex]], and a deployment
    * folds accepted survivors in on a cadence. Two refresh strategies:
    *   (a) full REBUILD of all three index relations over the cumulative
    *       corpus (what a parameter change forces), and
    *   (b) delta APPEND — index rows for just the accepted batch,
    *       appended to the persisted artifact (correct because every
    *       index relation is a per-doc pure function; append == rebuild
    *       is pinned by the 'corpus dedup index appends per micro-batch'
    *       spec — `hashes` needs a read-side distinct after append).
    * Reported: wall + artifact bytes for both, plus the per-batch probe
    * against the staged artifact to show cadence choice doesn't change
    * probe cost.
    */
  private def indexRefreshMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_indexrefresh_" +
      s"${ProcessHandle.current().pid()}"
    val rootFile = new java.io.File(root)
    def sizeMB(p: String): Double =
      org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(p)) / 1e6
    try {
      val docs = textCorpus(spark, count).persist()
      val n = docs.count()
      // the arriving batch for the delta arm: 1% fresh docs (disjoint
      // ids, same shape)
      val batch = spark.range(count, count + count / 100).select(
        (col("id") + lit(2000000000L)).as("doc_id"),
        expr("array_join(transform(sequence(0, 39), i -> " +
          "concat('w', CAST(pmod(xxhash64(id, i), 50000) AS STRING))), ' ')")
          .as("text")).persist()
      val bn = batch.count()
      // (a) full rebuild: build + persist all three relations — the
      // refresh a parameter change (n, numHashes, rowsPerBand) forces
      time(s"index REBUILD (build+stage 3 relations), $count docs", n) {
        val idx = Dedup.buildCorpusDedupIndex(docs, "doc_id", "text")
        idx.hashes.write.mode("overwrite").parquet(s"$root/idx/hashes")
        idx.buckets.write.mode("overwrite").parquet(s"$root/idx/buckets")
        idx.shingles.write.mode("overwrite").parquet(s"$root/idx/shingles")
        0L
      }
      println(f"[indexrefresh] staged artifact MB: hashes=${sizeMB(s"$root/idx/hashes")}%.1f " +
        f"buckets=${sizeMB(s"$root/idx/buckets")}%.1f " +
        f"shingles=${sizeMB(s"$root/idx/shingles")}%.1f")
      // (b) delta append: index rows for the accepted batch only — the
      // per-cadence cost of dedup-on-arrival in steady state
      time(s"index APPEND (batch of $bn accepted docs)", bn) {
        val delta = Dedup.buildCorpusDedupIndex(batch, "doc_id", "text")
        delta.hashes.write.mode("append").parquet(s"$root/idx/hashes")
        delta.buckets.write.mode("append").parquet(s"$root/idx/buckets")
        delta.shingles.write.mode("append").parquet(s"$root/idx/shingles")
        0L
      }
      // probe cost against the staged artifact (read back from disk —
      // the deployment shape), unaffected by which arm refreshed it
      val staged = Dedup.CorpusDedupIndex(
        spark.read.parquet(s"$root/idx/hashes").distinct(),
        spark.read.parquet(s"$root/idx/buckets"),
        spark.read.parquet(s"$root/idx/shingles"))
      val probe = spark.range(count / 2, count / 2 + count / 100).select(
        (col("id") + lit(3000000000L)).as("doc_id"),
        expr("array_join(transform(sequence(0, 39), i -> " +
          "concat('w', CAST(pmod(xxhash64(id - " + (count / 2) +
          "L, i), 50000) AS STRING))), ' ')").as("text"))
      // probe docs are content-twins of corpus docs 0..count/100 (the
      // xxhash64 seed realigns), so the probe has real drop work to do
      time(s"incrementalDedup probe ($bn arrivals vs staged index)", bn) {
        val survivors = Dedup.incrementalDedup(docs.limit(0), probe,
          "doc_id", "text", precomputedIndex = Some(staged))
        val kept = survivors.count()
        println(s"[indexrefresh] probe survivors=$kept of $bn " +
          s"(planted content-twins must be dropped)")
        Persisted.unpersistAll()
        kept
      }
      docs.unpersist()
      batch.unpersist(): Unit
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(rootFile)
    }
  }

  private def streamStateMode(spark: SparkSession, count: Long): Unit = {
    import graft.streaming.StreamingOps
    import org.apache.spark.sql.streaming.Trigger
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_streamstate_" +
      s"${ProcessHandle.current().pid()}"
    val rootFile = new java.io.File(root)
    try {
      // 1.5 change rows per key: every key inserts once, half update once
      val rows = (count * 3) / 2
      spark.range(rows).select(
          (col("id") % count).as("user_id"),
          col("id").as("event_id"),
          expr("timestamp_millis(1700000000000 + id * 1000)").as("ts"),
          when(col("id") % 97 === 0, lit("error"))
            .otherwise(lit("click")).as("event_type"),
          (col("id") % 100).cast("double").as("value"))
        .repartition(8).write.parquet(s"$root/src")
      val src = spark.read.parquet(s"$root/src")
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
      try {
        val streaming = StreamingOps.streamingCompact(spark, s"$root/src",
          src, sourceOptions = Map("maxFilesPerTrigger" -> "2")).toDF()
        val n = src.count()
        time(s"streamingCompact 4 batches, $count keys", n) {
          val sq = streaming.writeStream
            .foreachBatch { (b: DataFrame, id: Long) =>
              b.write.mode("append").parquet(s"$root/sink"); (): Unit
            }
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
            .option("checkpointLocation", s"$root/ckpt")
            .trigger(Trigger.AvailableNow())
            .start()
          if (!sq.awaitTermination(3600000L)) {
            sq.stop(); throw new IllegalStateException("stream timed out")
          }
          for (p <- sq.recentProgress; so <- p.stateOperators) {
            import scala.jdk.CollectionConverters._
            // metric names vary across store versions — sum whatever
            // SST-file-size metrics this provider exposes
            val sst = so.customMetrics.asScala.collect {
              case (k, v) if k.toLowerCase.contains("sstfile") => v.longValue()
            }.sum
            println(f"[streamstate] batch=${p.batchId}%2d " +
              f"in=${p.numInputRows}%9d wall=${p.batchDuration / 1e3}%7.1f s " +
              f"stateRows=${so.numRowsTotal}%9d upd=${so.numRowsUpdated}%9d " +
              f"updMs=${so.allUpdatesTimeMs}%6d commitMs=${so.commitTimeMs}%6d " +
              f"memMB=${so.memoryUsedBytes / 1e6}%8.1f sstMB=${sst / 1e6}%8.1f")
          }
          0L
        }
        // RECOVERY arm: the operational half of the 100 TB claim. Kill
        // the query (done — AvailableNow terminated), append a small
        // tail of late changes to the source, and restart from the SAME
        // checkpoint: every state partition must reopen its RocksDB
        // store from the checkpointed snapshot+changelog with ~`count`
        // keys resident before the first new batch can commit. The
        // restart batch's wall vs the steady-state batches above IS the
        // recovery overhead; at a real deployment this is the
        // executor-loss / redeploy path, so it must not scale with
        // stream history — only with resident state.
        val ckptBytes = org.apache.commons.io.FileUtils
          .sizeOfDirectory(new java.io.File(s"$root/ckpt"))
        println(f"[streamrestore] checkpoint on disk before restart: " +
          f"${ckptBytes / 1e6}%.1f MB")
        val tail = count / 100 // 1% late updates against existing keys
        spark.range(tail).select(
            ((col("id") * 31) % count).as("user_id"),
            (col("id") + rows).as("event_id"),
            expr(s"timestamp_millis(1700000000000 + (id + $rows) * 1000)")
              .as("ts"),
            lit("click").as("event_type"),
            (col("id") % 100).cast("double").as("value"))
          .coalesce(1).write.mode("append").parquet(s"$root/src")
        val streaming2 = StreamingOps.streamingCompact(spark, s"$root/src",
          src, sourceOptions = Map("maxFilesPerTrigger" -> "2")).toDF()
        time(s"streamingCompact RESTART from ckpt, $count resident keys", tail) {
          val sq2 = streaming2.writeStream
            .foreachBatch { (b: DataFrame, id: Long) =>
              b.write.mode("append").parquet(s"$root/sink"); (): Unit
            }
            .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
            .option("checkpointLocation", s"$root/ckpt")
            .trigger(Trigger.AvailableNow())
            .start()
          if (!sq2.awaitTermination(3600000L)) {
            sq2.stop(); throw new IllegalStateException("restart timed out")
          }
          for (p <- sq2.recentProgress; so <- p.stateOperators) {
            println(f"[streamrestore] batch=${p.batchId}%2d " +
              f"in=${p.numInputRows}%9d wall=${p.batchDuration / 1e3}%7.1f s " +
              f"stateRows=${so.numRowsTotal}%9d upd=${so.numRowsUpdated}%9d " +
              f"loadMs=${so.allUpdatesTimeMs}%6d commitMs=${so.commitTimeMs}%6d " +
              f"memMB=${so.memoryUsedBytes / 1e6}%8.1f")
          }
          0L
        }
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    } finally {
      // quiesce RocksDB provider maintenance threads BEFORE deleting
      // their working dirs: the 100M-key run SEGV'd at JVM exit inside
      // the RocksDB JNI logger callback when teardown raced the delete
      // (all measurements had completed; exit-path only)
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(rootFile): Unit
    }
  }

  /** Search family at the 10M decade (r12 verdict item 3) — the one
    * family whose TUNING rows stopped at ~1M. Measures the four retrieval
    * shapes on the synthetic 50k-vocab corpus: keyword top-k (IN-filtered
    * scan), fixed-point BM25 (two corpus-stat aggs + scored scan),
    * block-partitioned inverted-index build (the staged search artifact —
    * this one is a full corpus shuffle by construction), and hybrid RRF
    * over BM25 + the dense IVF arm in the staged-assignment deployment
    * shape (index built once untimed-but-reported; the probe path is what
    * repeats per query). Expected: everything except the index build is
    * scan-bound (linear, no corpus shuffle); the index build is one
    * explode+groupBy shuffle.
    */
  /** The COMPOSED curation pipeline at the decade — every stage has its
    * own TUNING row, but a production corpus build runs them as one DAG
    * with materialization barriers between stages (each stage's output
    * is written/persisted before the next reads it — the checkpointed
    * shape a 100 TB build uses so a stage failure doesn't re-run the
    * world). This mode answers the composition question: do the stages
    * still hold their individual slopes when each consumes the
    * previous one's (shrinking) survivor set, and does any stage's
    * output shape (partitioning, skew) poison the next?
    *
    * Corpus: the shared textCorpus (its 2% 39/40-shingle twins ride
    * along as the MINHASH detector's prey — the simhash stage below
    * deliberately does not remove them; detector recall vs footprint is
    * the documented trade) PLUS ~1% planted EXACT copies (stage-1 prey)
    * PLUS ~1.2% REORDERED copies — same token set, reversed order —
    * which exact dedup must miss (different bytes) and the simhash
    * detector must catch at hamming 0 (its features are distinct
    * unigrams, order-invariant). Stages: basicCuration (signal gate +
    * exact dedup) → nearDedupBy over simhashPairsSplit candidates
    * (hamming <= 3, longest-text survivor; the footprint-lean detector —
    * the minhash form's shingle self-join needs more scratch disk than
    * this box's ~77 GB ceiling when composed behind a cached corpus,
    * measured ENOSPC twice; its standalone decade row lives in the
    * Dedup TUNING section) → datasetSplit (pure scan expr) →
    * packSequences over the train split (the one-shuffle bucket-offset
    * packer).
    */
  private def pipelineMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    import graft.text.{Chunking, Curation}
    import graft.ops.Sampling
    def words(idExpr: String) =
      s"transform(sequence(0, 39), i -> concat('w', CAST(pmod(xxhash64($idExpr, i), 50000) AS STRING)))"
    val raw = textCorpus(spark, count)
      .unionByName(
        // exact twins: identical text under a fresh id — exactDedup's prey
        spark.range(0, count, 97).select(
          (col("id") + lit(2000000000L)).as("doc_id"),
          expr(s"array_join(${words("id")}, ' ')").as("text")))
      .unionByName(
        // reorder twins: same token SET, reversed order — near-dup prey
        spark.range(0, count, 83).select(
          (col("id") + lit(3000000000L)).as("doc_id"),
          expr(s"array_join(reverse(${words("id")}), ' ')").as("text")))
      .persist()
    val n0 = raw.count()
    // the synthetic vocab is not a natural language; let the REAL langId
    // expression vote and gate on its own dominant class so the operator
    // stays in the chain without filtering the corpus to zero
    val domLang = raw.limit(1000)
      .select(graft.text.TextFunctions.langId(col("text")).as("l"))
      .groupBy(col("l")).count().orderBy(col("count").desc, col("l"))
      .head().getString(0)
    println(s"[pipeline] dominant synthetic lang_id: $domLang")
    var curated: DataFrame = null
    time(s"stage 1: basicCuration(lang=$domLang) + exactDedup", n0) {
      curated = Curation.basicCuration(raw, "doc_id", "text", lang = domLang)
        .persist()
      curated.count()
    }
    // stage barrier hygiene, exactly what a production build does between
    // checkpointed stages: the raw input's storage is dropped the moment
    // its consumer is materialized, and the dead stage's shuffle files
    // are released (ContextCleaner prunes on driver GC) — without this
    // the single box carries every stage's scratch SIMULTANEOUSLY and
    // stage 2's sort spills hit the disk ceiling (measured: first 10.4M
    // run died ENOSPC with raw+curated pinned and stage-1 shuffles live)
    raw.unpersist(true)
    System.gc()
    val n1 = curated.count()
    var deduped: DataFrame = null
    time("stage 2: nearDedupBy(simhash hamming<=3, longest-text survivor)", n1) {
      val pairs = Dedup.simhashPairsSplit(
        Dedup.simhash64Fast(curated, "doc_id", "text"), maxHamming = 3)
      deduped = Dedup.nearDedupBy(curated, "doc_id", "text",
        keepBy = Seq(length(col("text")).desc),
        precomputedPairs = Some(pairs))
        .persist()
      deduped.count()
    }
    curated.unpersist(true)
    Persisted.unpersistAll() // the pair relation duplicateGroupsAuto tracked
    System.gc()
    val n2 = deduped.count()
    // planted-recovery audit: reorder twins (id >= 3e9) are hamming-0 —
    // every one must lose to its lower-id original; the 39/40-shingle
    // twins (1e9 <= id < 2e9) are the minhash detector's prey — simhash
    // catches only the fraction whose 2-token swap lands within 3 bits
    val reorderLeft = deduped.filter(col("doc_id") >= 3000000000L).count()
    val shingleLeft = deduped.filter(
      col("doc_id") >= 1000000000L && col("doc_id") < 2000000000L).count()
    println(s"[pipeline] surviving reorder twins: $reorderLeft (expect 0); " +
      s"surviving 39/40-shingle twins: $shingleLeft (simhash partial recall " +
      s"by design — the minhash detector's row covers them)")
    var packed: DataFrame = null
    time("stage 3: datasetSplit + packSequences(train, 2048)", n2) {
      packed = Chunking.packSequences(
        Sampling.datasetSplit(deduped, "doc_id")
          .filter(col("split") === "train"), "doc_id", "text",
        seqTokens = 2048).persist()
      packed.count()
    }
    val n3 = packed.count()
    println(s"[pipeline] $n0 raw -> $n1 curated -> $n2 deduped " +
      s"-> $n3 packed sequences")
    Persisted.unpersistAll()
    Seq(packed, deduped).foreach(_.unpersist())
  }

  private def searchMode(spark: SparkSession, count: Long): Unit = {
    import graft.text.Vocabulary
    import graft.sim.{HybridSearch, Similarity}
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    // query terms from the synthetic vocab (w0..w49999 by construction)
    val q = Seq("w101", "w202", "w303")
    time("searchByTokens(k=25)", n) {
      consume(Vocabulary.searchByTokens(docs, "doc_id", "text", q, k = 25))
    }
    Persisted.unpersistAll()
    time("bm25SearchFixed(k=50)", n) {
      consume(Vocabulary.bm25SearchFixed(docs, "doc_id", "text", q, k = 50))
    }
    Persisted.unpersistAll()
    time("invertedIndex(blockSize=100)", n) {
      consume(Vocabulary.invertedIndex(docs, "doc_id", "text", blockSize = 100L))
    }
    Persisted.unpersistAll()
    // dense arm at the same scale: deterministic synthetic embeddings
    val dim = 64
    val embs = spark.range(count).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), i -> " +
        "CAST(pmod(xxhash64(id, i), 1000) AS FLOAT) / 500.0 - 1.0)")
        .as("embedding"))
      .persist()
    embs.count()
    val numClusters = 64
    time(s"ivfTopK inline (build+probe, k=50, $numClusters clusters)", n) {
      consume(Similarity.ivfTopK(embs, "vec_id", "embedding",
        queryId = 0L, k = 50, numClusters = numClusters, nProbe = 4))
    }
    Persisted.unpersistAll()
    // staged index: assignment built once (timed separately — the
    // one-time cost), then the probe path alone, then hybrid RRF fusion
    // over both staged arms — the per-query cost of a deployed system
    val assigned = Similarity.ivfAssign(embs, "vec_id", "embedding", numClusters)
      .persist()
    time("ivfAssign staging (one-time index build)", n) {
      assigned.count(); 0L
    }
    time("ivfTopK staged probe (k=50, nProbe=4)", n) {
      consume(Similarity.ivfTopK(embs, "vec_id", "embedding",
        queryId = 0L, k = 50, numClusters = numClusters, nProbe = 4,
        precomputedAssignments = Some(assigned)))
    }
    Persisted.unpersistAll()
    time("hybrid rrfFuse (bm25 + staged-IVF dense arm, k=25)", n) {
      val sparse = Vocabulary.bm25SearchFixed(docs, "doc_id", "text", q, k = 50)
      val dense = Similarity.ivfTopK(embs, "vec_id", "embedding",
        queryId = 0L, k = 50, numClusters = numClusters, nProbe = 4,
        precomputedAssignments = Some(assigned))
        .select(col("vec_id").as("doc_id"), col("cosine"))
      consume(HybridSearch.rrfFuse(Seq(
        sparse -> Seq(col("bm25_fp").desc, col("doc_id")),
        dense -> Seq(col("cosine").desc, col("doc_id"))),
        "doc_id", k = 25))
    }
    Persisted.unpersistAll()
    assigned.unpersist(true)
    embs.unpersist(true)
    docs.unpersist(true): Unit
  }

  /** Exact ssjoin head-to-head: all-shingle self-join vs the
    * prefix-filtered join (identical pair sets — asserted), plus the
    * prefix candidate volume against the self-join's Σdf² bound.
    */
  private def ssjoinMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    var selfJoin = 0L
    time("ngramJaccardPairs(self-join)", n) {
      selfJoin = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        tau = 0.8, maxDfFraction = None).count()
      selfJoin
    }
    Persisted.unpersistAll()
    var prefJoin = 0L
    time("jaccardPrefixPairs(tau=4/5)", n) {
      prefJoin = Dedup.jaccardPrefixPairs(docs, "doc_id", "text", n = 3,
        tauNum = 4, tauDen = 5).count()
      prefJoin
    }
    Persisted.unpersistAll()
    require(selfJoin == prefJoin,
      s"prefix join must be lossless: $prefJoin vs $selfJoin")
    // candidate volumes: Σdf² over all shingles (self-join) vs over the
    // prefix relation only (what the prefix filter actually joins)
    val ng = Dedup.shingles(docs, "doc_id", "text", 3).persist()
    val all = ng.groupBy(col("ngram"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) / 2"))).head().getDouble(0)
    val prefCand = Dedup.positionedPrefix(Dedup.canonicalTokens(ng), 4, 5)
      .groupBy(col("ngram"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) / 2"))).head().getDouble(0)
    println(s"[occupancy] ssjoin candidates: all-shingle=$all prefix=$prefCand " +
      f"cut=${all / math.max(prefCand, 1.0)}%.1fx")
    ng.unpersist()

    // BOILERPLATE regime — the corpus shape the prefix filter exists
    // for: every 5th doc carries an identical 12-token tail, so each of
    // its ~12 shingles has df = n/5 and the all-shingle join's candidate
    // volume gains ~12·(n/5)²/2 pairs (quadratic in the tail df), while
    // the rare-first prefix never reaches shingles that common. The
    // all-shingle join is only PREDICTED here (Σdf²); running it at 1M
    // would be ~5 orders beyond the uniform corpus's volume. Unlike the
    // maxDf guard (which drops frequent shingles and redefines the
    // Jaccard universe), the prefix join keeps Jaccard EXACT over the
    // full universe.
    val boiler = docs.withColumn("text",
      when(col("doc_id") % 5 === 0, concat(col("text"),
        lit(" common boilerplate tail shared by very many documents in" +
          " this corpus exactly"))).otherwise(col("text"))).persist()
    boiler.count()
    val ngB = Dedup.shingles(boiler, "doc_id", "text", 3).persist()
    val allB = ngB.groupBy(col("ngram"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) / 2"))).head().getDouble(0)
    val prefCandB = Dedup.positionedPrefix(Dedup.canonicalTokens(ngB), 4, 5)
      .groupBy(col("ngram"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) / 2"))).head().getDouble(0)
    println(f"[occupancy] ssjoin+boilerplate candidates: " +
      f"all-shingle=$allB%.3g (predicted, not run) prefix=$prefCandB%.3g " +
      f"cut=${allB / math.max(prefCandB, 1.0)}%.1fx")
    ngB.unpersist()
    time("jaccardPrefixPairs(tau=4/5,boilerplate)", n) {
      Dedup.jaccardPrefixPairs(boiler, "doc_id", "text", n = 3,
        tauNum = 4, tauDen = 5).count()
    }
    Persisted.unpersistAll()
    boiler.unpersist()
    docs.unpersist()
  }

  /** Winnowing at scale: fingerprint generation is scan + one per-doc
    * window; the pair join is content-keyed on the selected minima
    * (density 2/(w+1) per gram — the compression knob).
    */
  private def winnowMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    time("winnowPairs(k=4,w=4,m=2)", n) {
      Dedup.winnowPairs(docs, "doc_id", "text", k = 4, w = 4,
        minShared = 2L).count()
    }
    Persisted.unpersistAll()
    time("winnowPairs(k=4,w=8,m=2)", n) {
      Dedup.winnowPairs(docs, "doc_id", "text", k = 4, w = 8,
        minShared = 2L).count()
    }
    Persisted.unpersistAll()
    docs.unpersist()
  }

  /** simhashPairs / minhashNearDuplicates / ngramJaccardPairs at scale,
    * plus the posting-list pair-generation alternative (NOTES round-4
    * candidate) measured head-to-head against the shingle self-join.
    */
  private def textMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()

    val hashes = Dedup.simhash64Fast(docs, "doc_id", "text").persist()
    time("simhash64Fast(hash-only)", n) { hashes.count() }
    time("simhashPairs(maxHamming=3)", n) {
      Dedup.simhashPairs(hashes, maxHamming = 3).count()
    }
    // second-key split: same pair set (lossless recursive pigeonhole),
    // candidate volume cut for buckets over the limit — the n=10M guard
    time("simhashPairsSplit(limit=64)", n) {
      Dedup.simhashPairsSplit(hashes, maxHamming = 3, bucketLimit = 64).count()
    }
    time("simhashPairsSplit(limit=16)", n) {
      Dedup.simhashPairsSplit(hashes, maxHamming = 3, bucketLimit = 16).count()
    }
    // sub-bucket occupancy: candidate volume of the split path = 4 x sum
    // over (bucket, sub-bucket) of c^2 — compare against candPairs below
    locally {
      val splitCand = hashes.select(col("simhash"),
        expr("explode(sequence(0, 3))").as("blk"))
        .select(col("simhash"), col("blk"),
          expr("pmod(shiftrightunsigned(simhash, blk * 16), 65536)").as("blkval"))
        .withColumn("rem",
          // bits outside the 16-bit block, packed (same layout as
          // Dedup.simhashPairsSplit's remCol)
          expr("""CASE blk
                 |  WHEN 0 THEN CAST(shiftrightunsigned(simhash, 16) AS BIGINT)
                 |  WHEN 1 THEN simhash % 65536 + shiftleft(shiftrightunsigned(simhash, 32), 16)
                 |  WHEN 2 THEN simhash % 4294967296 + shiftleft(shiftrightunsigned(simhash, 48), 32)
                 |  ELSE simhash % 281474976710656 END""".stripMargin))
        .select(col("blk"), col("blkval"), col("rem"),
          expr("explode(sequence(0, 3))").as("sub"))
        // subWidth = 48/4 = 12 bits; last sub-block takes the remainder
        .withColumn("subval",
          expr("pmod(shiftrightunsigned(rem, sub * 12), " +
            "CASE WHEN sub = 3 THEN 268435456 ELSE 4096 END)"))
        .groupBy(col("blk"), col("blkval"), col("sub"), col("subval"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) / 2")), max(col("c"))).head()
      println(s"[occupancy] split(all buckets) sub-buckets: " +
        s"candPairs=${splitCand.get(0)} maxBucket=${splitCand.get(1)}")
    }
    // block-bucket occupancy: pair-join cost is sum over buckets of c^2,
    // so maxBucket and candPairs are the stats TUNING.md sizes against
    (0 until 4).foreach { b =>
      val v = pmod(shiftrightunsigned(col("simhash"), b * 16), lit(65536L))
      val r = hashes.groupBy(v.as("v")).agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
        .agg(max(col("c")), sum(expr("c * (c - 1) / 2")), org.apache.spark.sql.functions.count(lit(1))).head()
      println(s"[occupancy] simhash block $b: buckets=${r.get(2)} " +
        s"maxBucket=${r.get(0)} candPairs=${r.get(1)}")
    }
    hashes.unpersist()

    // candidate volume BEFORE the Jaccard verify — the minhash analogue of
    // bucket occupancy (bands x rowsPerBand as in the gated defaults)
    time("probe:minhash-candidates(h=32,r=2)", n) {
      Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(docs, "doc_id", "text", 3, 32), 32, 2).count()
    }
    Persisted.unpersistAll()
    time("minhashNearDuplicates(tau=0.8)", n) {
      Dedup.minhashNearDuplicates(docs, "doc_id", "text",
        n = 3, tau = 0.8, numHashes = 32, rowsPerBand = 2,
        maxDfFraction = None).count()
    }
    Persisted.unpersistAll()

    time("ngramJaccardPairs(self-join)", n) {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.8,
        maxDfFraction = None).count()
    }
    Persisted.unpersistAll()
    // prefix-filtered exact ssjoin: same pair set, candidates generated
    // from only the rarest ~(1-tau) shingles per doc
    time("jaccardPrefixPairs(tau=4/5)", n) {
      Dedup.jaccardPrefixPairs(docs, "doc_id", "text", n = 3,
        tauNum = 4, tauDen = 5).count()
    }
    Persisted.unpersistAll()
    // posting-list alternative: group each shingle's posting list once,
    // expand id pairs in-line (no second shuffle of the shingle relation),
    // then aggregate intersections and verify Jaccard exactly as the
    // self-join does. Same output on this corpus (per-doc shingles are
    // distinct under the uniform vocab).
    time("probe:posting-list-pairs", n) {
      val ng = Dedup.shingles(docs, "doc_id", "text", 3).persist()
      val docLen = ng.groupBy(col("_id")).agg(org.apache.spark.sql.functions.count(lit(1)).as("len"))
      val inter = ng.groupBy(col("ngram"))
        .agg(collect_list(col("_id")).as("ids"))
        .filter(size(col("ids")) > 1)
        .select(explode(expr(
          "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids)), " +
            "b -> struct(least(a, b) AS id_a, greatest(a, b) AS id_b))))")).as("p"))
        .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("inter"))
      val out = inter
        .join(docLen.select(col("_id").as("id_a"), col("len").as("len_a")), "id_a")
        .join(docLen.select(col("_id").as("id_b"), col("len").as("len_b")), "id_b")
        .filter(col("inter") / (col("len_a") + col("len_b") - col("inter")) >= 0.8)
        .count()
      ng.unpersist()
      out
    }
  }

  /** Perceptual-hash media near-dup at scale (the one family without a
    * 1M-row TUNING measurement): REAL png encode (build) + decode + 8×8
    * aHash per image — the codec-bound stage — then the banded hamming
    * join over the skinny (id, hash) relation. `count` is the doc-id
    * range; images = ids with id % 3 == 1 plus twins at id % 30 == 1
    * (keep count ≤ 1M: twin ids offset by +1e6 must not collide).
    */
  private def phashMode(spark: SparkSession, count: Long): Unit = {
    import graft.multimodal.Multimodal
    import graft.dedup.Dedup
    // twin ids live at doc_id + offset — widen past 1M ids so the
    // decade rungs don't collide twins with base docs
    val offset = math.max(1000000L, count)
    val docs = spark.range(count)
      .select(col("id").as("doc_id"), lit("x").as("text"))
    val hashes = Multimodal.perceptualHash64(
      Multimodal.syntheticImagesWithTwins(docs, twinOffset = offset)).persist()
    time("aHash(png encode+decode+hash, cold)", count) { hashes.count() }
    val n = hashes.count()
    // above the r9 rung the flat banding's synthetic-collision buckets go
    // quadratic (TUNING's documented caveat) — the decade rung runs the
    // second-key split, which is the 10M+ posture for TEXT simhash too;
    // identical pair set by the lossless recursive pigeonhole
    val pairs = (if (count <= 1000000L) Dedup.simhashPairs(hashes, maxHamming = 3)
      else Dedup.simhashPairsSplit(hashes, maxHamming = 3)).persist()
    time(if (count <= 1000000L) "simhashPairs over aHash"
      else "simhashPairsSplit over aHash", n) { pairs.count() }
    val twinPairs = pairs
      .filter(col("id_b") === col("id_a") + offset).count()
    val plantedTwins = hashes.filter(col("_id") >= offset).count()
    println(s"[scale-harness] twin recall: $twinPairs/$plantedTwins " +
      s"(total pairs ${pairs.count()})")
    pairs.unpersist(); hashes.unpersist(true): Unit
  }

  /** The n=10M simhash cliff measured for real: flat banding vs the
    * second-key split at the DEFAULT bucket limit (4096), on a corpus
    * big enough that the limit engages on merit rather than by forcing
    * it down (TUNING.md's 1M rows used limit 16–64). Split runs first so
    * its numbers survive if the quadratic flat pass has to be cut short.
    */
  private def simhash10mMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    val docs = textCorpus(spark, count)
    val hashes = Dedup.simhash64Fast(docs, "doc_id", "text").persist()
    val n = hashes.count()
    time("simhash64Fast(hash-only)", n) { hashes.count() }
    // flat-banding occupancy: the candidate volume the split is cutting
    (0 until 4).foreach { b =>
      val v = pmod(shiftrightunsigned(col("simhash"), b * 16), lit(65536L))
      val r = hashes.groupBy(v.as("v"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
        .agg(max(col("c")), sum(expr("c * (c - 1) / 2")),
          org.apache.spark.sql.functions.count(lit(1))).head()
      println(s"[occupancy] simhash block $b: buckets=${r.get(2)} " +
        s"maxBucket=${r.get(0)} candPairs=${r.get(1)}")
    }
    time("simhashPairsSplit(default limit 4096)", n) {
      Dedup.simhashPairsSplit(hashes, maxHamming = 3).count()
    }
    time("simhashPairs(flat)", n) {
      Dedup.simhashPairs(hashes, maxHamming = 3).count()
    }
    hashes.unpersist()
  }

  /** int8 quantization at scale: shuffle-byte volume per payload width
    * (the 100 TB claim — measured through a post-exchange consumer, since
    * a bare count() would prune the vector out of the shuffle entirely)
    * and quantized-vs-exact top-10 recall on hash-uniform vectors, the
    * WORST case for quantized ranking (near-tied cosines everywhere; real
    * embedding corpora have margins).
    */
  private def quantMode(spark: SparkSession, count: Long): Unit = {
    import graft.sim.Similarity
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
    })
    def shuffled(name: String, n: Long)(f: => Long): Unit = {
      // listener events drain asynchronously — settle before reading
      Thread.sleep(1000) // listener bus is async and private — settle by time
      val b0 = bytes.get()
      time(name, n)(f)
      Thread.sleep(1000) // listener bus is async and private — settle by time
      println(f"[scale-harness] $name shuffleWrite=${(bytes.get() - b0) / 1e6}%.1f MB")
    }
    val vecs = corpus(spark, count).persist() // embedding: array<double>
    val n = vecs.count()
    val quant = Similarity.withQuantizedVec(vecs, "embedding")
      .select(col("vec_id"), col("qvec")).persist()
    quant.count()
    // a downstream aggregate gets PUSHED BELOW the repartition (the scalar
    // is computed pre-shuffle and the array pruned — the exchange carried
    // 0.6 MB for every width when first measured); the noop sink consumes
    // whole rows, so the exchange genuinely carries the vector payload
    def throughExchange(df: org.apache.spark.sql.DataFrame): Long = {
      df.repartition(col("vec_id")).write.mode("overwrite").format("noop").save()
      0L
    }
    shuffled("shuffle:float64-payload", n) {
      throughExchange(vecs)
    }
    shuffled("shuffle:float32-payload", n) {
      throughExchange(vecs.select(col("vec_id"),
        col("embedding").cast("array<float>").as("v")))
    }
    shuffled("shuffle:int8-payload", n) {
      throughExchange(quant)
    }
    val recalls = (0L until 5L).map { q =>
      val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val approx = Similarity.quantizedTopK(vecs, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      (exact & approx).size
    }
    println(s"[scale-harness] quantized recall@10 x 5 probes: " +
      s"${recalls.mkString(",")} (mean ${recalls.sum / 5.0})")
    // sign-bit scan: 8 bytes + bit_count per row, broadcast probe, no
    // shuffle — time it against the float brute-force probe
    time("signBitTopK(k=10,rerank=64)", n) {
      Similarity.signBitTopK(vecs, "vec_id", "embedding", 0L, 10,
        rerank = 64, dim = Some(64)).count()
    }
    time("bruteForceTopK(k=10)", n) {
      Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 10).count()
    }
    // recall curve over the re-rank depth: 64 bits cannot RANK
    // weakly-similar (near-orthogonal) vectors — hamming distributions of
    // the background and the "top"-10 overlap — so recall on THIS
    // unstructured corpus only recovers with a deep re-rank; the operator's
    // regime is high-similarity retrieval (near-dup candidates), where the
    // hamming gap is wide
    Seq(64, 1024, 8192).foreach { rr =>
      val sbRecalls = (0L until 5L).map { q =>
        val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 10)
          .collect().map(_.getLong(0)).toSet
        val approx = Similarity.signBitTopK(vecs, "vec_id", "embedding", q, 10,
          rerank = rr, dim = Some(64)).collect().map(_.getLong(0)).toSet
        (exact & approx).size
      }
      println(s"[scale-harness] sign-bit(rerank=$rr) recall@10 x 5 probes: " +
        s"${sbRecalls.mkString(",")} (mean ${sbRecalls.sum / 5.0})")
    }
    vecs.unpersist()
    quant.unpersist()
    Persisted.unpersistAll()
  }

  /** The block-dedup / packing family at corpus scale: all are
    * scan + O(1) content-keyed shuffles, so the check is that time grows
    * ~linearly with the corpus and no stage degenerates.
    */
  private def blocksMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    import graft.text.Chunking
    // consume through the noop sink: a bare count() prunes the rebuilt
    // text columns (concat_ws/collect_list never run) and under-reports
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    time("duplicatedBlockRatio(b=10)", n) {
      consume(Dedup.duplicatedBlockRatio(docs, "doc_id", "text", blockTokens = 10))
    }
    Persisted.unpersistAll()
    time("dedupBlocks(b=10)", n) {
      consume(Dedup.dedupBlocks(docs, "doc_id", "text", blockTokens = 10))
    }
    Persisted.unpersistAll()
    time("packSequences(L=2048)", n) {
      consume(Chunking.packSequences(docs, "doc_id", "text", seqTokens = 2048))
    }
    time("chunkByTokens(b=512)", n) {
      consume(Chunking.chunkByTokens(docs, "doc_id", "text", maxTokens = 512))
    }
    // CDC chunking (r10): posexplode + one md5/token + a per-doc running
    // sum window + the (doc, chunk) reassembly agg — the claim is
    // ~the dedupBlocks shape (token-stream-bound, no corpus-wide window)
    time("cdcChunks(mod=16)", n) {
      consume(Chunking.cdcChunks(docs, "doc_id", "text", modulus = 16))
    }
    docs.unpersist()
  }

  /** Duplicated-span removal at scale: the occurrence relation is
    * ~tokens-per-doc x corpus rows through one content-keyed agg + one
    * join-back — LINEAR, so the interesting numbers are the per-stage
    * shuffle volumes and how wall time tracks 10x corpus growth.
    */
  private def spansMode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    for (k <- Seq(8, 16)) {
      val out = Dedup.spanDedup(docs, "doc_id", "text", k)
      time(s"spanDedup(k=$k)", n) { consume(out) }
      val r = out.agg(sum(col("n_removed")),
        sum(when(col("n_removed") > 0, 1L).otherwise(0L))).head()
      println(s"[spans] k=$k removedTokens=${r.get(0)} docsTouched=${r.get(1)}")
      Persisted.unpersistAll()
    }
    // md5 (32-hex, oracle-replayable) vs xxhash64 (8-byte long) span key:
    // same plan, smaller exchange — measure total shuffle-write bytes
    val sw = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        sw.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    for (key <- Seq("md5", "xxhash64")) {
      Thread.sleep(3000) // listener events are async; let the bus drain
      val before = sw.get
      val out = Dedup.spanDedup(docs, "doc_id", "text", 8, key)
      time(s"spanDedup(k=8,key=$key)", n) { consume(out) }
      Persisted.unpersistAll()
      Thread.sleep(3000) // listener events are async; let the bus drain
      println(f"[spans] key=$key shuffleWriteMB=${(sw.get - before) / 1e6}%.1f")
    }
    docs.unpersist()
  }

  /** BPE training cost vs corpus size: the claim under test is that after
    * the one corpus pass (token-frequency groupBy), per-round cost is
    * bounded by the word-TYPE table (50k types here at ANY corpus size),
    * so training wall time should grow far slower than the corpus.
    */
  private def bpeMode(spark: SparkSession, count: Long): Unit = {
    import graft.text.Vocabulary
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    for (rounds <- Seq(6, 12)) {
      time(s"bpeTrain(rounds=$rounds)", n) {
        Vocabulary.bpeTrain(docs, "text", rounds).count()
      }
      Persisted.unpersistAll()
    }
    time("bpeSegmentStats(rounds=6)", n) {
      val out = Vocabulary.bpeSegmentStats(docs, "doc_id", "text", 6)
      out.write.mode("overwrite").format("noop").save(); 0L
    }
    Persisted.unpersistAll()
    // the batched-training claim: 48 merges one-at-a-time vs 12x4 —
    // same merge count, 4x fewer pair-count materializations
    time("bpeTrain(rounds=48)", n) {
      Vocabulary.bpeTrain(docs, "text", 48).count()
    }
    Persisted.unpersistAll()
    time("bpeTrainBatched(12x4)", n) {
      Vocabulary.bpeTrainBatched(docs, "text", batchRounds = 12,
        batchSize = 4).count()
    }
    Persisted.unpersistAll()
    // wide batches are where pooled selection pays: selection is 1-2
    // pool collects per round instead of batchSize limit(1) probes
    time("bpeTrainBatched(4x12)", n) {
      Vocabulary.bpeTrainBatched(docs, "text", batchRounds = 4,
        batchSize = 12).count()
    }
    Persisted.unpersistAll()
    docs.unpersist()
  }

  /** Bucketed (IVF) vs exact kNN join. Exact is O(n^2) — run only at
    * n <= 20000 (the crossover ratio); bucketed scales to the full count.
    * numClusters ~ sqrt(n * nProbe) balances the n x c assignment cost
    * against the n x nProbe x n/c candidate cost.
    */
  private def knnMode(spark: SparkSession, count: Long): Unit = {
    import graft.sim.Similarity
    val vecs = corpus(spark, count).persist()
    val n = vecs.count()
    val nProbe = 8
    val numClusters = math.max(16, math.sqrt(n.toDouble * nProbe).toInt)
    val fl = Similarity.knnJoinBucketed(vecs, "vec_id", "embedding", k = 5,
      numClusters = numClusters, nProbe = nProbe).persist()
    time(s"knnJoinBucketed(k=5,c=$numClusters,probe=$nProbe)", n) { fl.count() }
    // int8 candidate scoring + exact re-rank of the top-10: same IVF
    // skeleton, 4x smaller candidate shuffle
    val q8 = Similarity.knnJoinBucketedQuantized(vecs, "vec_id", "embedding",
      k = 5, numClusters = numClusters, nProbe = nProbe).persist()
    time(s"knnJoinBucketedQuantized(k=5,c=$numClusters,probe=$nProbe)", n) {
      q8.count()
    }
    // recall: quantized+re-rank top-5 vs the float path on 10 probe anchors
    locally {
      val probeIds = (0L until 10L).map(_ * (n / 10))
      def tops(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("vec_id").isin(probeIds: _*)).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val (ft, qt) = (tops(fl), tops(q8))
      val agree = probeIds.count(id => ft.get(id) == qt.get(id))
      println(s"[recall] quantized top-5 set equals float top-5 on " +
        s"$agree/${probeIds.size} probe anchors")
    }
    fl.unpersist(); q8.unpersist()
    Persisted.unpersistAll()
    if (n <= 20000) {
      time("knnJoinAgg(exact)", n) {
        Similarity.knnJoinAgg(vecs, "vec_id", "embedding", k = 5).count()
      }
      Persisted.unpersistAll()
    } else println(s"[scale-harness] knnJoinAgg(exact) skipped at n=$n (O(n^2))")
  }

  /** The round-5 operator families at corpus scale: vocabulary build /
    * encode / OOV / search (one-shuffle token aggregations + broadcast
    * lookups), dataset split (pure scan), incremental batch-vs-corpus
    * dedup (probe joins against a large corpus), and the PQ ANN paths.
    */
  private def round5Mode(spark: SparkSession, count: Long): Unit = {
    import graft.dedup.Dedup
    import graft.sim.Similarity
    import graft.text.Vocabulary
    def consume(df: DataFrame): Long = {
      df.write.mode("overwrite").format("noop").save(); 0L
    }
    val docs = textCorpus(spark, count).persist()
    val n = docs.count()
    val vocab = Vocabulary.buildVocab(docs, "text", size = 50000, minCount = 2L)
      .persist()
    time("buildVocab(size=50k)", n) { vocab.count() }
    time("encode(token-ids)", n) {
      consume(Vocabulary.encode(docs, "doc_id", "text", vocab))
    }
    time("oovStats", n) {
      consume(Vocabulary.oovStats(docs, "doc_id", "text", vocab))
    }
    time("searchByTokens(k=25)", n) {
      Vocabulary.searchByTokens(docs, "doc_id", "text",
        query = Seq("w17", "w4242", "w33333"), k = 25).count()
    }
    vocab.unpersist()
    time("datasetSplit(80/10/10)", n) {
      consume(graft.ops.Sampling.datasetSplit(docs, "doc_id"))
    }
    docs.unpersist()
    // incremental dedup: corpus = the base docs; batch = the planted
    // near-dup copies (must all drop) + as many fresh clean docs
    locally {
      val corpusDocs = textCorpus(spark, count)
        .filter(col("doc_id") < 1000000000L).persist()
      def fresh(idExpr: String) =
        s"transform(sequence(0, 39), i -> concat('w', CAST(pmod(xxhash64($idExpr, i), 50000) AS STRING)))"
      val batch = textCorpus(spark, count)
        .filter(col("doc_id") >= 1000000000L)
        .unionByName(spark.range(count / 50).select(
          (col("id") + lit(2000000000L)).as("doc_id"),
          expr(s"array_join(${fresh("id + 777000000")}, ' ')").as("text")))
        .persist()
      val nc = corpusDocs.count(); val nb = batch.count()
      time(s"incrementalDedup(corpus=$nc,batch=$nb)", nc) {
        Dedup.incrementalDedup(corpusDocs, batch, "doc_id", "text").count()
      }
      corpusDocs.unpersist(); batch.unpersist()
      Persisted.unpersistAll()
    }
    // PQ ANN on hash-uniform vectors (the worst case for approximate
    // ranking — see quantMode); brute force beside it as the exact anchor
    val vecs = corpus(spark, count).persist()
    vecs.count()
    time("pqTopK(k=10,rerank=40)", n) {
      Similarity.pqTopK(vecs, "vec_id", "embedding", 0L, 10,
        rerank = 40, dim = Some(64)).count()
    }
    time("ivfPqTopK(k=10,c=256,probe=16)", n) {
      Similarity.ivfPqTopK(vecs, "vec_id", "embedding", 0L, 10,
        numClusters = 256, nProbe = 16, rerank = 40, dim = Some(64)).count()
    }
    time("bruteForceTopK(k=10)", n) {
      Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 10).count()
    }
    val recalls = (0L until 5L).map { q =>
      val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 10)
        .collect().map(_.getLong(0)).toSet
      val approx = Similarity.pqTopK(vecs, "vec_id", "embedding", q, 10,
        rerank = 40, dim = Some(64)).collect().map(_.getLong(0)).toSet
      (exact & approx).size
    }
    println(s"[scale-harness] PQ(rerank=40) recall@10 x 5 probes: " +
      s"${recalls.mkString(",")} (mean ${recalls.sum / 5.0})")
    vecs.unpersist()
    Persisted.unpersistAll()
  }

  /** Focused PQ timing (fast iteration on the encode/ADC path). */
  private def pqMode(spark: SparkSession, count: Long): Unit = {
    import graft.sim.Similarity
    val vecs = corpus(spark, count).persist()
    val n = vecs.count()
    time("pqTopK(k=10,rerank=40)", n) {
      Similarity.pqTopK(vecs, "vec_id", "embedding", 0L, 10,
        rerank = 40, dim = Some(64)).count()
    }
    time("ivfPqTopK(k=10,c=256,probe=16)", n) {
      Similarity.ivfPqTopK(vecs, "vec_id", "embedding", 0L, 10,
        numClusters = 256, nProbe = 16, rerank = 40, dim = Some(64)).count()
    }
    vecs.unpersist()
    Persisted.unpersistAll()
  }

  /** Stage-level attribution for a gated query: runs it on the given sf
    * dir with the >0.5 s stage printer active — stage names carry source
    * callsites, which attributes wall-clock between pipeline phases.
    */
  private def profileQuery(spark: SparkSession, name: String, sfDir: String): Unit = {
    val t0 = System.nanoTime()
    val rows = SparkEntry.queries(name)(spark, sfDir).count()
    println(f"[scale-harness] $name($sfDir) rows=$rows " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s (stage lines above attribute it)")
    Persisted.unpersistAll()
  }
}
