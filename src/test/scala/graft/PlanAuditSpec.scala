package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guard over the WHOLE gated query surface:
  * the scale properties §4 of the survey promises (pushdown reaches the
  * scan, no unplanned cartesian products) must hold for every query, not
  * just the ones a human re-explains after a refactor.
  */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Queries whose partitionless windows are adjudicated benign: every
    * entry runs its window over a relation bounded BY CONSTRUCTION
    * (bucket/partition OFFSETS tables of <= 16^prefixChars or
    * shuffle-partition-count rows — Chunking.packSequences,
    * Sampling.withGlobalPosition / tokenBudgetSelect — never the corpus).
    * Any query NOT on this list that plans one fails the sweep below, so
    * Bench's WindowExec log silencing can't hide a future genuinely
    * corpus-sized single-partition window (r11 ADVICE). Populated by
    * running the sweep; every entry must carry its bound here.
    */
  private val benignPartitionlessWindows: Set[String] = Set(
    // Sampling.withGlobalPosition / withGlobalPositionByValue /
    // tokenBudgetSelect: cumulative OFFSETS over the bucket-stats
    // relation (<= 16^prefixChars hash buckets / ~256 value bands),
    // never the corpus (annotated at the sites)
    "x_export_shuffle", "x_curate_token_budget",
    "x_pipeline_curate2", "x_pipeline_curate3", "x_pipeline_curate4",
    // Chunking.packSequences / lengthBatchStats: the same bucket-offsets
    // cumsum over <= 16^prefixChars rows
    "x_text_pack", "x_text_length_batches",
    // Vocabulary.buildVocab: token_id rank over the <= vocab-size top
    // cut (TakeOrdered output), never the token stream
    "x_vocab_top", "x_vocab_encode", "x_vocab_oov",
    // Vocabulary.surprisalBuckets: rank over the <= bucket-count summary
    "x_curate_ppl_buckets",
    // QuantileSketch fixed-grid: cumsum over <= maxValue/binWidth cells
    "x_sketch_quantile", "x_curate_outliers",
    // HybridSearch RRF: rank over the <= k-per-arm fused candidates
    "x_search_hybrid")

  test("no query plans a CartesianProduct or an unlisted partitionless window") {
    // BroadcastNestedLoopJoin with a 1-row broadcast side is intentional
    // (ANN query vectors, all-pairs baselines); an unkeyed CartesianProduct
    // never is — both sides would shuffle everything everywhere at scale.
    // The same sweep catches EMPTY-partitionSpec windows (ordered or not —
    // WindowExec warns "No Partition Defined" for both) anywhere outside
    // the bounded-offsets allowlist above, walking the optimized logical
    // plan (string matching can't split partition from order columns) and
    // expanding persisted intermediates like the IVF skinny-window test.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.window.WindowExec
    val names = SparkEntry.queries.keys.toSeq.sorted
    val cartesians = scala.collection.mutable.ListBuffer[String]()
    val withPartitionless = scala.collection.mutable.Set[String]()
    names.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, dir).queryExecution
      if (qe.executedPlan.toString.contains("CartesianProduct"))
        cartesians += name
      val partitionless =
        qe.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => true
        } ++ qe.optimizedPlan.collect { case r: InMemoryRelation =>
          (r.cachedPlan match {
            case a: AdaptiveSparkPlanExec => a.inputPlan
            case p => p
          }).collect { case w: WindowExec if w.partitionSpec.isEmpty => true }
        }.flatten
      if (partitionless.nonEmpty) withPartitionless += name
      Persisted.unpersistAll()
      spark.catalog.clearCache()
    }
    assert(cartesians.isEmpty, s"cartesian products in: $cartesians")
    val rogue = (withPartitionless.toSet -- benignPartitionlessWindows).toSeq.sorted
    assert(rogue.isEmpty,
      s"partitionless (single-partition) windows outside the " +
        s"bounded-offsets allowlist in: $rogue")
    // anti-rot: every allowlist entry must still BE a gated query that
    // plans such a window — a refactor that removes one must delist it,
    // so the list never shadows a future regression under a stale name
    val stale = (benignPartitionlessWindows -- withPartitionless).toSeq.sorted
    assert(stale.isEmpty,
      s"allowlist entries that no longer plan a partitionless window " +
        s"(remove them): $stale")
  }

  test("filters and projection push into the parquet scan") {
    val s1 = planOf("s1_scan_project")
    assert(s1.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,5.0)]"),
      s"s1 scan lost its pushed filters:\n$s1")
    assert(s1.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      s"s1 scan reads more columns than the projection needs:\n$s1")
  }

  test("partition-pruned scan prunes at the partition level") {
    val k4 = planOf("k4_partitioned_prune")
    assert(k4.contains("PartitionFilters: [isnotnull(countryCode"),
      s"k4 scan does not prune partitions:\n$k4")
    Persisted.unpersistAll()
  }

  test("LSH cosine pair generation is pure equi-join (no nested loops at all)") {
    val p = planOf("x_dedup_embed_cosine_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lshCosinePairs must generate candidates via (table,bucket) equi-joins only:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("bucketed kNN joins candidates on the cluster id, not all pairs") {
    val p = planOf("x_knn_topk_bucketed")
    // the only nested-loop join allowed is attaching the broadcast
    // 16-row centroid relation; the anchor x candidate join must key on
    // the cluster column
    assert(p.contains("Join [cluster") || p.contains("Join cluster") ||
      p.split("\n").exists(l => l.contains("Join") && l.contains("cluster#")),
      s"bucketed kNN lost its cluster equi-join:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("IVF ranking windows rank skinny rows (no vector payload in the shuffle)") {
    // r4 fix: carrying the embedding array through the n x numClusters
    // ranking shuffle measured ~49 GB / 704 s at n=100k — the window's
    // input must be (id, cluster, sim [, rn]) only, vectors rejoin by id
    // afterwards. Guards knnJoinBucketed AND assignToCentroids (x_ann_ivf).
    // checked on the optimized LOGICAL plan (the physical tree hides
    // behind AdaptiveSparkPlanExec before execution); persisted
    // intermediates bury their window inside InMemoryRelation.cachedPlan,
    // so those are expanded too (unwrapping the AQE wrapper)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.window.WindowExec
    // x_eval_ann_recall / x_eval_pq_recall: the audits' per-query rank
    // windows must also stay skinny — (qid, id, score) only, vectors and
    // PQ codes pruned below the exchange
    for (q <- Seq("x_knn_topk_bucketed", "x_ann_ivf", "x_knn_topk_bucketed_q8",
        "x_eval_ann_recall", "x_eval_pq_recall")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.optimizedPlan
      val windowInputs =
        plan.collect { case w: LWindow => w.child.output } ++
          plan.collect { case r: InMemoryRelation =>
            (r.cachedPlan match {
              case a: AdaptiveSparkPlanExec => a.inputPlan
              case p => p
            }).collect { case w: WindowExec => w.child.output }
          }.flatten
      assert(windowInputs.nonEmpty, s"$q no longer plans a ranking window")
      windowInputs.foreach { out =>
        val arrayCols = out.filter(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
        assert(arrayCols.isEmpty,
          s"$q ranks with array payload ${arrayCols.map(_.name)} in the window shuffle")
      }
      Persisted.unpersistAll()
      spark.catalog.clearCache()
    }
  }

  test("simhash bucket-split routes oversized keys via broadcast joins") {
    // the oversized-key set is tiny by definition (<= 4n/bucketLimit);
    // routing rows to the small/big path must be broadcast semi/anti
    // joins — a shuffled routing join would move the whole exploded
    // relation twice before any pairing happens
    val p = planOf("x_dedup_simhash_split")
    val routing = p.split("\n").filter(l =>
      l.contains("LeftAnti") || l.contains("LeftSemi"))
    assert(routing.nonEmpty, s"split plan lost its routing joins:\n$p")
    routing.foreach { l =>
      assert(l.contains("Broadcast"),
        s"oversized-key routing must broadcast, got: $l")
    }
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("sign-bit candidate scan never hash-shuffles the corpus") {
    // the probe is a 1-row broadcast and top-R/top-k are ordered limits
    // (TakeOrderedAndProject): the candidate pass must stay a scan —
    // any hashpartitioning exchange means the 8-byte-per-row promise broke
    val p = planOf("x_ann_signbit")
    assert(!p.contains("Exchange hashpartitioning"),
      s"sign-bit scan plans a hash shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-R / top-k must be ordered limits:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("contamination check broadcasts the benchmark shingle side") {
    val p = planOf("x_text_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark shingles must broadcast (corpus side must not shuffle):\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("export-shuffle ranks inside md5-prefix buckets and broadcasts offsets") {
    val p = planOf("x_export_shuffle")
    // the tiny bucket-offsets relation must come back as a broadcast join,
    // and the row_number window must partition by the bucket column — a
    // single-partition global rank window would funnel the whole table
    // through one task
    assert(p.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back onto the data:\n$p")
    val rankWindows = p.split("\n").filter(l =>
      l.contains("Window") && l.contains("row_number"))
    assert(rankWindows.nonEmpty && rankWindows.forall(_.contains("_graft_bkt")),
      s"the rank window must partition by _graft_bkt, never globally:\n$p")

    // sequence packing composes the same construction for its weighted
    // cumulative sum — its running-total window must be bucket-partitioned
    val pk = planOf("x_text_pack")
    val sumWindows = pk.split("\n").filter(l =>
      l.contains("Window") && l.contains("sum("))
    assert(sumWindows.nonEmpty && sumWindows.forall(_.contains("_graft_bkt")),
      s"packing's token-offset window must partition by _graft_bkt:\n$pk")
  }

  test("dimension joins broadcast; existence joins are semi-joins") {
    // j1 reads the staged resolved-dimension fixture at query time (r8:
    // build-once, probe-many), so the broadcast to audit lives in the
    // fixture BUILD plan — the resolve itself, not the gate's scan
    val build = graft.ops.TaxonomyResolver.resolve(
      DerivedModel.taxa(spark, dir), DerivedModel.backbone(spark, dir),
      SparkEntry.derivedCfgForAudit)
      .queryExecution.executedPlan.toString
    assert(build.contains("BroadcastHashJoin"),
      s"resolved-dimension build lost its broadcast:\n$build")
    val j1 = planOf("j1_name_resolution")
    assert(j1.contains("FileScan parquet") && !j1.contains("SortMergeJoin"),
      s"j1 should be a bare probe of the staged fixture:\n$j1")
    val j2 = planOf("j2_occurrence_exists")
    assert(j2.contains("LeftSemi"), s"j2 is not a semi-join:\n$j2")
  }

  test("PQ ranking is an ordered limit over skinny codes, probe broadcast") {
    // the ADC ranking must be a TakeOrderedAndProject whose sort input
    // carries no vector payload — codes + the broadcast probe only; the
    // float vectors may only reappear in the post-limit re-rank join
    val p = planOf("x_ann_pq")
    assert(p.contains("TakeOrderedAndProject"),
      s"PQ top-R must be an ordered limit:\n$p")
    val adcLimit = p.split("\n").find(l =>
      l.contains("TakeOrderedAndProject") && l.contains("adc"))
    assert(adcLimit.exists(!_.contains("embedding")),
      s"the ADC ranking limit must not carry the embedding payload:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("incremental dedup probes corpus indexes: anti-join + band equi-join") {
    val p = planOf("x_dedup_incremental")
    assert(p.split("\n").exists(_.contains("LeftAnti")),
      s"the exact content probe must be an anti-join:\n$p")
    assert(p.split("\n").exists(l => l.contains("Join") &&
      l.contains("band#") && l.contains("bucket#")),
      s"the near probe must equi-join on (band, bucket):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incremental dedup must never scan all pairs:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("dataset split is a pure scan expression — no exchange at all") {
    val p = planOf("x_sample_split")
    assert(!p.contains("Exchange"),
      s"datasetSplit must not shuffle (scan-level label expression):\n$p")
  }

  test("tfidf never shuffles the exploded token-pair relation (the r10 " +
    "part-7 fix: one upfront doc exchange serves agg AND window)") {
    val p = planOf("x_text_tfidf_terms")
    // the superlinear plan exchanged hash(doc, term) for the tf agg and
    // then hash(doc) again for the rank window; the fixed plan has
    // neither — only the upfront REPARTITION_BY_COL and the idf
    // branch's vocab-bounded hash(term) exchange remain
    assert("Exchange hashpartitioning\\(doc_id[^)]*term".r.findFirstIn(p).isEmpty,
      s"tf agg must reuse the upfront doc_id partitioning:\n$p")
    assert("Exchange hashpartitioning\\(doc_id[^,)]*, \\d+\\), ENSURE_REQUIREMENTS".r
        .findFirstIn(p).isEmpty,
      s"the rank window must reuse the upfront doc_id partitioning:\n$p")
    Persisted.unpersistAll()
  }

  test("skip-gram co-occurrence plans generation in-row: no join, one " +
    "aggregation exchange") {
    val p = planOf("x_text_cooc")
    assert(!p.contains("Join"), s"pair generation must not join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the count agg may exchange:\n$p")
    assert(p.contains("graft_skipgrams"),
      s"pairs must come from the Generator:\n$p")
    Persisted.unpersistAll()
  }

  test("triangle wedge-close joins are keyed hash joins") {
    val p = planOf("x_graph_triangles")
    // 1-row BroadcastNestedLoopJoins (the n-count literal, the stats
    // crossJoins) are the house convention; the CORPUS-carrying joins —
    // degree attach, wedge pair, wedge close — must all be keyed
    assert(!p.contains("CartesianProduct"), s"cartesian in triangles:\n$p")
    val hashJoins = "HashJoin".r.findAllIn(p).size
    assert(hashJoins >= 4,
      s"expected >=4 keyed joins (2 degree attaches, wedge pair, close), got $hashJoins:\n$p")
    Persisted.unpersistAll()
  }

  test("bloom join prunes the fact side BELOW the join") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val plan = SparkEntry.queries("x_bloom_join")(spark, dir)
      .queryExecution.optimizedPlan
    val pruningFilters = plan.collect {
      case f: LFilter if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    assert(pruningFilters.nonEmpty, s"no might_contain filter in plan:\n$plan")
    // the filter must sit on the scan side — no join beneath it, so the
    // pruning happens before any exchange the join needs
    assert(pruningFilters.exists(_.collect { case j: LJoin => j }.isEmpty),
      s"might_contain filter is not below the join:\n$plan")
  }

  test("BPE segmentation broadcasts the trained types — token stream never shuffles for lookup") {
    val p = planOf("x_vocab_bpe_segment")
    assert(p.contains("BroadcastHashJoin"),
      s"segment lookup must broadcast the vocabulary-sized types table:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus token stream must not shuffle into the lookup join:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("quantile sketch scans the corpus once; extraction stays on the summary") {
    val p = planOf("x_sketch_quantile")
    // one corpus scan: the total must ride the cumulative window, not a
    // second aggregation over a fresh scan
    assert(p.split("\n").count(_.contains("Scan parquet")) == 1,
      s"quantile sketch must scan the corpus exactly once:\n$p")
    // extraction probes the KB-scale summary via broadcast — any shuffle
    // join here would mean the non-equi probe grew corpus-sized inputs
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"quantile extraction must broadcast the bounded summary:\n$p")
  }

  test("surprisal scoring broadcasts the unigram model — token stream never shuffles for lookup") {
    val p = planOf("x_text_surprisal")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-sized model must broadcast onto the token stream:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus token stream must not shuffle into the scoring join:\n$p")
  }

  test("DSIR scoring broadcasts the staged model — feature stream never shuffles for lookup") {
    val p = planOf("x_curate_dsir")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-bounded model must broadcast onto the feature stream:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the raw feature stream must not shuffle into the scoring join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the selection must be an ordered limit, not a global sort:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("bigram surprisal broadcasts both model tables — token and bigram streams never shuffle for lookup") {
    val p = planOf("x_text_surprisal_bigram")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab + top-N bigram models must broadcast onto the streams:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus token/bigram streams must not shuffle into scoring joins:\n$p")
    // the gate probes the STAGED model (r11, train-once/score-many);
    // the top-N prune moved into the model BUILD plan — audit it there
    val build = graft.text.Vocabulary.bigramSurprisalModel(
      DerivedModel.table(spark, dir, "documents"), "text", topN = 256)
      .queryExecution.executedPlan.toString
    assert(build.contains("TakeOrderedAndProject"),
      s"the top-N model prune must be an ordered limit, not a global sort:\n$build")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("prototypicality pruning broadcasts centroids and windows per cluster, vectors stay out of the rank shuffle") {
    val p = planOf("x_curate_prototypes")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the centroid relation must broadcast into the assignment:\n$p")
    // the within-cluster window must partition by the cluster id (a
    // per-cluster sort), never an empty partition spec (global sort)
    assert(p.contains("Window") && !p.contains("Window [")
      || p.split("\n").exists(l => l.contains("windowspecdefinition(cluster")
      || l.contains("windowspecdefinition(_cid")),
      s"prototypicality rank must window per cluster:\n$p")
    // skinny ranking: no embedding payload inside any Exchange row
    val exchanges = p.split("\n").filter(_.contains("Exchange"))
    assert(!exchanges.exists(_.contains("embedding#")),
      s"vector payload must not ride the ranking shuffles:\n${exchanges.mkString("\n")}")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("token-budget cumsum windows per (score, bucket) and broadcasts offsets") {
    val p = planOf("x_curate_token_budget")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket token offsets must broadcast back onto the data:\n$p")
    // the running-sum window over the DATA (the one sorting by the md5
    // key) must be bucket-partitioned; the only global window allowed is
    // the one over the tiny offsets relation
    val dataWindows = p.split("\n").filter(l =>
      l.contains("Window") && l.contains("_graft_sk"))
    assert(dataWindows.nonEmpty && dataWindows.forall(_.contains("_graft_bkt")),
      s"the corpus running sum must window per (score, md5-prefix) bucket:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("PageRank iteration joins reuse the cached edge partitioning") {
    val dir001 = dir
    val nodes = DerivedModel.table(spark, dir001, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id").as("node"))
    val edges = DerivedModel.linkGraph(spark, dir001)
    // materialize ONE iteration lazily (the gated query checkpoints per
    // round, which hides the iteration internals from its final plan)
    val oneIter = graft.graph.PageRank.pageRank(nodes, edges, iters = 1)
    val p = oneIter.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"pagerank must equi-join:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the degree-folded edge relation must be cached:\n$p")
    // cache-build exchanges (the deliberate one-time REPARTITION_BY_COL
    // on edges.src, plus the degree agg) print under the
    // InMemoryTableScan — and a MATERIALIZED adaptive cache prints its
    // build exchange twice (== Final Plan == / == Initial Plan ==) —
    // but execute once. Count only the per-ROUND shuffles (the
    // ENSURE_REQUIREMENTS exchanges): one round may shuffle the
    // contribution agg and the node-join side, never the cached edges
    // (r17: raw-line counting false-flagged a cache-build exchange).
    assert(p.contains("REPARTITION_BY_COL"),
      s"edges must be explicitly pre-partitioned by src in the cache:\n$p")
    // drop the cache-build subtrees before counting: everything printed
    // UNDER an InMemoryRelation line (deeper tree marker) executes once
    // at cache build, not per round
    def depthOf(l: String): Int = {
      val ms = Seq(l.indexOf("+- "), l.indexOf(":- ")).filter(_ >= 0)
      if (ms.isEmpty) -1 else ms.min
    }
    var cacheDepth = -1
    val roundLines = p.split("\n").filter { l =>
      val d = depthOf(l)
      if (cacheDepth >= 0 && d >= 0 && d <= cacheDepth) cacheDepth = -1
      val inCache = cacheDepth >= 0
      if (!inCache && l.contains("InMemoryRelation") && d >= 0) cacheDepth = d
      !inCache
    }
    val roundExchanges = roundLines.filter(l =>
      l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS"))
    assert(roundExchanges.length <= 2,
      s"one pagerank round must shuffle only the contribution agg and at " +
        s"most the rank join side, got ${roundExchanges.length}:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("label propagation reuses the cached symmetrized edges; argmax is an agg, not a window") {
    val nodes = DerivedModel.table(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id").as("node"))
    val edges = DerivedModel.linkGraph(spark, dir)
    val oneIter = graft.graph.LabelProp.labelPropagate(nodes, edges, iters = 1)
    val p = oneIter.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"labelprop must equi-join:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the symmetrized edge relation must be cached:\n$p")
    assert(p.contains("REPARTITION_BY_COL"),
      s"edges must be explicitly pre-partitioned by src in the cache:\n$p")
    // the per-node argmax must be the max-of-struct HashAggregate — a
    // Window here would sort every node's label multiset
    assert(!p.split("\n").exists(_.trim.startsWith("Window")),
      s"argmax must not plan a window:\n$p")
    Persisted.unpersistAll()
    spark.catalog.clearCache()
  }

  test("char entropy runs inside the scan — no exchange anywhere") {
    val p = planOf("x_text_char_entropy")
    assert(!p.contains("Exchange"),
      s"char entropy must be a pure scan projection:\n$p")
    assert(p.contains("graft_char_entropy"),
      s"plan lost the codegen entropy expression:\n$p")
    Persisted.unpersistAll()
  }

  test("KMV sketch ranks via TakeOrdered, never a global sort") {
    val p = planOf("x_sketch_kmv")
    assert(p.contains("TakeOrderedAndProject"),
      s"k-minima must plan as TakeOrdered:\n$p")
    // a global Sort followed by a limit would funnel the hash relation
    // through one partition before truncating
    assert(!p.split("\n").exists(l =>
      l.trim.startsWith("Sort") && l.contains("global=true")),
      s"no global sort in the sketch build:\n$p")
    Persisted.unpersistAll()
  }

  test("domain cap plans a WindowGroupLimit — top-k prunes BEFORE the shuffle") {
    val p = planOf("x_sample_domain_cap")
    // rank <= k must trigger Catalyst's map-side per-group top-k; if
    // this disappears, each domain funnels its FULL row set (payload
    // included) through one partition
    assert(p.contains("WindowGroupLimit"),
      s"cap must plan map-side group limits:\n$p")
    Persisted.unpersistAll()
  }

  test("NB classifier scoring broadcasts the weight table — token stream never shuffles for lookup") {
    val p = planOf("x_curate_classifier")
    assert(p.contains("BroadcastHashJoin"),
      s"weights must broadcast onto the token stream:\n$p")
    Persisted.unpersistAll()
  }

  test("drift/classifier totals are 1-row aggs, not single-partition windows") {
    // r10 verdict item: unigramDrift / nbTokenWeights used to compute
    // corpus totals with Window.partitionBy() over the full vocab
    // relation — a single-partition funnel at 100x vocab. The fix is a
    // 1-row aggregate broadcast-cross-joined back; assert no query in
    // the family plans a partitionless window (a windowspecdefinition
    // whose first argument is the frame means empty partition+order spec)
    for (q <- Seq("x_text_drift", "x_curate_classifier",
        "x_eval_classifier_quality")) {
      val p = planOf(q)
      assert(!p.contains("windowspecdefinition(specifiedwindowframe"),
        s"$q plans a partitionless (single-partition) window:\n$p")
      Persisted.unpersistAll()
      spark.catalog.clearCache()
    }
  }

  test("tfidf key terms: idf broadcasts and the rank cut plans WindowGroupLimit") {
    val p = planOf("x_text_tfidf_terms")
    assert(p.contains("WindowGroupLimit"),
      s"per-doc top-k must prune map-side:\n$p")
    // the vocab-bounded idf table must ride a broadcast join — a hash
    // shuffle here would re-shuffle the full (doc, term) stream on term
    assert(p.contains("BroadcastHashJoin"),
      s"idf join must broadcast:\n$p")
    Persisted.unpersistAll()
  }

  /** The giant-row cliff class: collect_list/collect_set materialize a
    * GROUP as one array, so memory scales with the group's cardinality,
    * not the cluster — twice measured as a 64 g OOM (r12: the opt-in
    * posting-list pair arm at df=10,400; r13: the deterministic training
    * fold's per-(subspace, code, dim) member lists at 10.4M vectors,
    * since rewritten as the streamed orderedGroupMeans fold). Every
    * surviving site must have a group bounded BY CONSTRUCTION; this
    * source sweep pins the inventory so a new site — or a new occurrence
    * in a listed file — fails the suite until its bound is recorded
    * here, the same anti-rot contract as the partitionless-window
    * allowlist above.
    */
  private val boundedCollectSites: Map[String, (Int, String)] = Map(
    "ops/RankResolver.scala" ->
      (1, "children list per parent taxon, capped by the reference's " +
        "children limit (the a3 truncation gate)"),
    "ops/TaxonomyResolver.scala" ->
      (1, "J1 candidate (taxid, rank) rows per canonical name: the " +
        "backbone rows sharing one name (homonyms, synonyms, duplicates), " +
        "independent of input and occurrence volume"),
    "text/Vocabulary.scala" ->
      (2, "per-doc (pos, tid) token list (row-scaled: a doc's tokens " +
        "already fit its row); per-(term, block) postings bounded by " +
        "blockSize — the invertedIndex scaladoc records WHY not per-term"),
    "text/Chunking.scala" ->
      (1, "per-(doc, chunk) token reassembly, bounded by chunkSize"),
    "dedup/Dedup.scala" ->
      (3, "per-doc CDC chunk list (row-scaled); per-doc span list " +
        "(row-scaled); the prefix " +
        "ssjoins' per-doc canonical token array (one document's shingles, " +
        "row-scaled)"),
    "sim/Similarity.scala" ->
      (3, "meanPool partials per pooled group (chunks per doc, " +
        "row-scaled); 2x centroid re-assembly over dsub<=dim positions " +
        "per (subspace, code) — dim-bounded, the corpus-scaled member " +
        "fold streams through orderedGroupMeans instead"),
    "SparkEntry.scala" ->
      (2, "a1 children names/ids per taxon, capped like RankResolver"))

  /** Every Scala file under `dir`'s graft package root as (path under
    * that root, code with comments stripped) — the source the structure
    * guards sweep.
    */
  private def codeUnder(dir: String): Seq[(String, String)] = {
    val root = new java.io.File(s"$dir/scala/graft")
    assert(root.isDirectory, s"sweep root missing: ${root.getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(root).filter(_.getName.endsWith(".scala")).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      // strip comments STRUCTURALLY, not by line prefix: prose may NAME
      // the swept calls, and a prefix filter both misses a trailing
      // `// ... collect_list(...)` after code and skips real code on a
      // line that OPENS with an inline /* block */ (which would let an
      // unbounded agg land unseen — the failure these sweeps exist for).
      // No source line in this repo embeds "//" or "/*" inside a string
      // literal; the SQL twins spell list()/list_sort(), never these.
      val code =
        try src.mkString
          .replaceAll("(?s)/\\*.*?\\*/", " ")
          .replaceAll("(?m)//.*$", " ")
        finally src.close()
      root.toPath.relativize(f.toPath).toString -> code
    }
  }

  test("every collect_list/collect_set site in main is on the " +
    "bounded-group allowlist") {
    val pat = "collect_(list|set)\\(".r
    val counts = codeUnder("src/main").flatMap { case (f, code) =>
      val n = pat.findAllIn(code).length
      if (n > 0) Some(f -> n) else None
    }.toMap
    val unlisted = (counts.keySet -- boundedCollectSites.keySet).toSeq.sorted
    assert(unlisted.isEmpty,
      s"collect_list/collect_set in files with no recorded group bound " +
        s"(add the bound or restructure the agg): " +
        s"${unlisted.map(f => s"$f(${counts(f)})")}")
    val drifted = counts.collect {
      case (f, n) if boundedCollectSites(f)._1 != n =>
        s"$f: ${boundedCollectSites(f)._1} recorded, $n found"
    }.toSeq.sorted
    assert(drifted.isEmpty,
      s"site count drifted — re-justify the new/removed aggs: $drifted")
    // anti-rot: a listed file with no sites left must be delisted
    val stale = (boundedCollectSites.keySet -- counts.keySet).toSeq.sorted
    assert(stale.isEmpty, s"allowlist entries with no sites left: $stale")
  }

  test("the session is built in one place: only GraftSession calls the session builder") {
    val pat = "SparkSession\\s*\\.\\s*builder".r
    val builders = codeUnder("src/main").collect {
      case (f, code) if pat.findFirstIn(code).nonEmpty => f
    }
    assert(builders == Seq("GraftSession.scala"),
      s"build sessions through GraftSession, not the bare builder: $builders")
  }

  test("test scope has two mains: diagnostics are modes of ExplainMain or VerifyUnder") {
    val pat = "def\\s+main\\s*\\(|extends\\s+App\\b".r
    val mains = codeUnder("src/test").collect {
      case (f, code) if pat.findFirstIn(code).nonEmpty => f
    }
    assert(mains == Seq("ExplainMain.scala", "VerifyUnder.scala"),
      s"add a mode to ExplainMain or VerifyUnder, not a new main: $mains")
  }

  test("SPARK_GRAFT_ONLY names are trimmed; an unknown name fails by name") {
    assert(SparkEntry.parseOnly(" s1_scan_project , x_search_bm25,") ===
      Set("s1_scan_project", "x_search_bm25"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.parseOnly("s1_scan_project,no_such_query"))
    assert(e.getMessage.contains("no_such_query"))
  }

  /** A temp dir holding one sparse file of `bytes`: its length counts,
    * no bytes are written. */
  private def dirOf(bytes: Long): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_dsp_").toFile
    d.deleteOnExit()
    val f = new java.io.File(d, "data.bin")
    f.deleteOnExit()
    val raf = new java.io.RandomAccessFile(f, "rw")
    try raf.setLength(bytes) finally raf.close()
    d.getAbsolutePath
  }

  test("derivedShufflePartitions tracks input volume: floor 4, 4MB/partition, cap 4x cpus") {
    import graft.ops.Parallelism.{derivedShufflePartitions, inputBytes, widthForBytes}
    val d18 = dirOf(18L << 20)
    // tiny input: floor, never the core count
    assert(derivedShufflePartitions(dirOf(1L << 20), 32) === 4)
    // volume-proportional in the middle: 18 MB / 4 MB -> 5
    assert(derivedShufflePartitions(d18, 32) === 5)
    // big input saturates at 4x cluster width
    assert(derivedShufflePartitions(dirOf(600L << 20), 8) === 32)
    // missing dir degrades to the floor, not an exception
    assert(derivedShufflePartitions("/nonexistent/graft", 32) === 4)
    // a file: URI and a glob size like the plain path
    assert(derivedShufflePartitions(s"file:$d18", 32) === 5)
    assert(derivedShufflePartitions(s"$d18/*.bin", 32) === 5)
    // several inputs size by their total: 2 x 9 MB -> 5, like one 18 MB
    val conf = new org.apache.hadoop.conf.Configuration()
    assert(widthForBytes(inputBytes(Seq(dirOf(9L << 20), dirOf(9L << 20)), conf), 32) === 5)
  }

  test("a cluster master lifts the local core cap on the derived width") {
    assume(!sys.env.contains("SPARK_GRAFT_SHUFFLE_PARTS"), "width override set")
    val cap = 4 * GraftSession.cpus
    assume(cap < 400, "more than 100 local cores")
    val d = dirOf(400L * (4L << 20)) // 400 partitions' worth of input
    assert(GraftSession.derivedWidth(s"local[${GraftSession.cpus}]", Seq(d)) === cap)
    assert(GraftSession.derivedWidth("spark://driver.example:7077", Seq(s"file:$d")) === 400)
  }
}
