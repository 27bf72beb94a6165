package graft

import graft.dedup.Dedup
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with SparkTestBase {

  /** Small corpus with one exact dup, one near dup (1-word edit), and
    * unrelated documents.
    */
  private def corpus = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 1
      (4L, "completely different words about spark query engines here now"),
      (5L, "entirely unrelated text mentioning window functions and shuffles")
    ).toDF("doc_id", "text")
  }

  test("exact dedup: groups and survivor selection") {
    val groups = Dedup.exactDuplicateGroups(corpus, "doc_id", "text").collect()
    assert(groups.length == 4)
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)

    val kept = Dedup.exactDedup(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
  }

  test("ngram jaccard finds the near-dup pair, not the unrelated ones") {
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", n = 3, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact dup pair")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), "near dup pair")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("containment: embedded doc found in both directions, " +
    "symmetric Jaccard misses it") {
    import spark.implicits._
    val inner = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, inner), // 6 trigrams, all inside doc 2
      (2L, s"intro words here $inner closing words follow after this end"),
      (3L, "unrelated text about completely different things entirely now")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", n = 3,
      tauNum = 9, tauDen = 10, maxDfFraction = None)
      .select("id_sub", "id_super").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Persisted.unpersistAll()
    assert(got == Set((1L, 2L)), s"got $got")
    // the same pair scores J = 6/14 < 0.8 — invisible to the Jaccard gate
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      tau = 0.8, maxDfFraction = None).collect()
    Persisted.unpersistAll()
    assert(jac.isEmpty)
  }

  test("winnowing: scan-speed expression equals the relational window form") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    for ((k, w) <- Seq((4, 4), (3, 5), (2, 1))) {
      val rel = Dedup.winnowFingerprints(docs, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      Persisted.unpersistAll()
      val fast = Dedup.winnowFingerprintsFast(docs, "doc_id", "text", k, w)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(fast == rel, s"k=$k w=$w: ${fast.size} vs ${rel.size} fingerprints")
    }
  }

  test("winnowing: the expression enforces its k/w contract at construction") {
    import graft.dedup.WinnowExpr
    import org.apache.spark.sql.functions.col
    // w <= 0 silently degenerated the window-min selection and k <= 0
    // threw an opaque NegativeArraySizeException; both must fail loudly
    intercept[IllegalArgumentException] {
      WinnowExpr.fingerprintsCol(col("text"), k = 1, w = 4)
    }
    intercept[IllegalArgumentException] {
      WinnowExpr.fingerprintsCol(col("text"), k = 4, w = 0)
    }
  }

  test("winnowing: shared >= w+k-1 token run guarantees a pair; " +
    "unrelated docs don't pair") {
    import spark.implicits._
    // docs 1/2 share a 7-token run (= w+k-1 at k=4,w=4) inside unrelated
    // text; docs 3/4 share nothing
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg xx yy zz qq ww rr tt"),
      (2L, "mm nn oo pp aa bb cc dd ee ff gg uu vv kk"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "red green blue cyan pink gray black white teal navy")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
      k = 4, w = 4, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Persisted.unpersistAll()
    assert(pairs.contains((1L, 2L)), s"guaranteed local-overlap pair, got $pairs")
    assert(pairs == Set((1L, 2L)), s"no spurious pairs, got $pairs")
    // below the guarantee length (6 shared tokens), sharing is possible
    // but not guaranteed; the algorithm must still run without error
    val short = Seq((1L, "aa bb cc dd ee ff zz"), (2L, "aa bb cc dd ee ff"))
      .toDF("doc_id", "text")
    Dedup.winnowPairs(short, "doc_id", "text", k = 4, w = 4, minShared = 1L)
      .collect()
    Persisted.unpersistAll()
  }

  test("prefix-filtered ssjoin equals the all-shingle exact join (lossless)") {
    import DedupSpec._
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val exact = jaccardRows(Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
      tau = 0.8, maxDfFraction = None))
    Persisted.unpersistAll()
    val pref = jaccardRows(Dedup.jaccardPrefixPairs(docs, "doc_id", "text", n = 3,
      tauNum = 4, tauDen = 5))
    assertPairsOnce(pref.map(r => (r._1, r._2)))
    assert(pref == exact, s"prefix ${pref.size} rows vs exact ${exact.size}")
    assert(exact.nonEmpty, "test data should contain planted near-dups")
    // containment: the sub-prefix join equals the all-shingle one row for
    // row, intersection and sub size included
    val exactCont = containmentRows(Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, tauNum = 9, tauDen = 10, maxDfFraction = None))
    Persisted.unpersistAll()
    val prefCont = containmentRows(Dedup.containmentPrefixPairs(docs, "doc_id", "text",
      n = 3, tauNum = 9, tauDen = 10))
    assertPairsOnce(prefCont.map(r => (r._1, r._2)))
    assert(prefCont == exactCont, s"prefix ${prefCont.size} rows vs exact ${exactCont.size}")
    assert(exactCont.nonEmpty, "test data should contain contained pairs")
    // the tau=1 prefix (single rarest shingle per doc) still finds
    // exact-duplicate pairs — on the fixture corpus, which has one
    // (sf0.001 documents plant near-dups only: its tau=1 set is empty)
    val exactDups = jaccardRows(Dedup.jaccardPrefixPairs(corpus, "doc_id", "text", n = 3,
      tauNum = 1, tauDen = 1))
    assert(exactDups == Seq((1L, 2L, 1.0)), s"exact-dup pair at tau=1, got $exactDups")
  }

  test("tau outside (0, 1] fails by name in the prefix and containment operators") {
    for ((tn, td) <- Seq((0, 5), (6, 5))) {
      val ops: Seq[() => Any] = Seq(
        () => Dedup.jaccardPrefixPairs(corpus, "doc_id", "text", n = 3,
          tauNum = tn, tauDen = td),
        () => Dedup.containmentPairs(corpus, "doc_id", "text", n = 3,
          tauNum = tn, tauDen = td),
        () => Dedup.containmentPrefixPairs(corpus, "doc_id", "text", n = 3,
          tauNum = tn, tauDen = td))
      ops.foreach { op =>
        val e = intercept[IllegalArgumentException](op())
        assert(e.getMessage.contains(s"tau must be a rational in (0, 1], got $tn/$td"),
          e.getMessage)
      }
    }
  }

  test("prefix ssjoins plan one ngram join, cache nothing and stay lazy") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val staged = s"${System.getProperty("java.io.tmpdir")}/graft_spec_ppjoin_" +
      s"${ProcessHandle.current().pid()}"
    val sc = spark.sparkContext
    // job starts in this session, in bus order; a marker job in its own
    // group proves every earlier start has been delivered
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        started.put(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def jobsDuring(build: => Unit): Int = {
      started.clear()
      build
      sc.setJobGroup("graft-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      Iterator.continually(started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(g => g != null && g != "graft-marker").size
    }
    Dedup.shingles(corpus, "doc_id", "text", n = 3).write.mode("overwrite").parquet(staged)
    sc.addSparkListener(listener)
    try {
      val pre = Some(spark.read.parquet(staged))
      for ((name, op) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "jaccard" -> (() => Dedup.jaccardPrefixPairs(corpus, "doc_id", "text",
            n = 3, tauNum = 4, tauDen = 5, precomputedShingles = pre)),
          "containment" -> (() => Dedup.containmentPrefixPairs(corpus, "doc_id", "text",
            n = 3, tauNum = 9, tauDen = 10, precomputedShingles = pre)))) {
        var out: org.apache.spark.sql.DataFrame = null
        val jobs = jobsDuring { out = op() }
        assert(jobs == 0, s"$name: building the DataFrame started $jobs job(s)")
        assert(out.collect().nonEmpty, s"$name: the fixture corpus has pairs")
        val plan = out.queryExecution.executedPlan // the final adaptive plan
        val helper = new AdaptiveSparkPlanHelper {}
        val ngramJoins = helper.collectWithSubqueries(plan) {
          case j: BaseJoinExec if j.leftKeys.size == 1 &&
            j.leftKeys.head.references.map(_.name).toSet == Set("ngram") => j
        }
        assert(ngramJoins.size == 1, s"$name: one join keyed on ngram alone:\n$plan")
        assert(helper.collectWithSubqueries(plan) { case m: InMemoryTableScanExec => m }.isEmpty &&
          out.queryExecution.withCachedData.collect { case m: InMemoryRelation => m }.isEmpty,
          s"$name: the prefix join must not read a cached relation:\n$plan")
      }
    } finally {
      sc.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staged))
    }
  }

  test("posting-list pair generation equals the self-join exactly") {
    // both pair-generation forms must emit the identical (id_a, id_b,
    // jaccard) rows — per-doc shingles are distinct by construction, so
    // the in-list expansion counts the same exact intersections. Pinned
    // with AND without the maxDf guard (the guard reshapes the posting
    // lists the expansion runs over).
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    for (guard <- Seq(None, Some(0.5))) {
      val selfJoin = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        tau = 0.8, maxDfFraction = guard)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      Persisted.unpersistAll()
      val posting = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        tau = 0.8, maxDfFraction = guard, postingListPairs = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      Persisted.unpersistAll()
      assert(posting == selfJoin,
        s"guard=$guard: posting-list ${posting.size} pairs vs self-join ${selfJoin.size}")
      assert(selfJoin.nonEmpty, "test data should contain planted near-dups")
    }
  }

  test("precomputedShingles equals inline shingling; incompatible artifacts are rejected") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val staged = Dedup.shingles(docs, "doc_id", "text", n = 3)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inline = pairs(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, tau = 0.8, maxDf = Some(10)))
    Persisted.unpersistAll()
    val viaHook = pairs(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, tau = 0.8, maxDf = Some(10), precomputedShingles = Some(staged)))
    Persisted.unpersistAll()
    assert(viaHook == inline)
    val inlineCont = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, tauNum = 9, tauDen = 10)
      .select("id_sub", "id_super").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Persisted.unpersistAll()
    val hookCont = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, tauNum = 9, tauDen = 10, precomputedShingles = Some(staged))
      .select("id_sub", "id_super").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Persisted.unpersistAll()
    assert(hookCont == inlineCont)
    // artifact validation: a wrong-schema relation and a wrong-width
    // (metadata-stamped) relation must be rejected AT CONSTRUCTION, not
    // produce silently wrong similarities
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.8,
        precomputedShingles = Some(docs.selectExpr("doc_id AS _id", "text")))
    }
    intercept[IllegalArgumentException] {
      Dedup.jaccardPrefixPairs(docs, "doc_id", "text", n = 3,
        tauNum = 4, tauDen = 5,
        precomputedShingles = Some(Dedup.shingles(docs, "doc_id", "text", n = 2)))
    }
    // an UNSTAMPED (_id, ngram) relation is rejected outright — schema
    // alone proves nothing about width or corpus; stampShingleWidth is
    // the explicit caller-asserts-the-width opt-in
    val unstamped = Dedup.shingles(docs, "doc_id", "text", n = 3)
      .select(org.apache.spark.sql.functions.col("_id"),
        org.apache.spark.sql.functions.col("ngram")
          .as("ngram", org.apache.spark.sql.types.Metadata.empty))
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.8,
        precomputedShingles = Some(unstamped))
    }
    Dedup.validateShingleArtifact(Dedup.stampShingleWidth(unstamped, 3), 3)
    Persisted.unpersistAll()
  }

  test("shingle width stamp survives a parquet round-trip (the staged-fixture path)") {
    // the artifact validation is only worth anything if the stamp is
    // still there when the artifact comes back from the cluster store —
    // Spark persists column metadata in the parquet footer schema
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_spec_shingles_" +
      s"${ProcessHandle.current().pid()}"
    try {
      Dedup.shingles(docs, "doc_id", "text", n = 3)
        .coalesce(1).write.mode("overwrite").parquet(out)
      val back = spark.read.parquet(out)
      val md = back.schema("ngram").metadata
      assert(md.contains("graft.shingle.n") && md.getLong("graft.shingle.n") == 3L,
        s"width stamp lost through parquet: ${back.schema("ngram")}")
      // the round-tripped artifact passes the n=3 hook and fails an n=2 ask
      Dedup.validateShingleArtifact(back, 3)
      intercept[IllegalArgumentException] { Dedup.validateShingleArtifact(back, 2) }
      // and the minhash family consumes it hash-identically
      val inline = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
        n = 3, tau = 0.8, maxDfFraction = None)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Persisted.unpersistAll()
      val viaHook = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
        n = 3, tau = 0.8, maxDfFraction = None,
        precomputedShingles = Some(back))
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Persisted.unpersistAll()
      assert(viaHook == inline && inline.nonEmpty)
    } finally {
      // don't leak a directory per test run under java.io.tmpdir
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("minhash LSH reproduces the exact-jaccard truth set on documents") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
      n = 3, tau = 0.8, numHashes = 32, rowsPerBand = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH ${lsh.size} pairs vs exact ${exact.size}")
    assert(exact.nonEmpty, "test data should contain planted near-dups")
  }

  test("scored candidates sweep: filtering per tau equals re-running per tau") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val scored = Dedup.minhashScoredCandidates(docs, "doc_id", "text",
      n = 3, numHashes = 32, rowsPerBand = 2).persist()
    try {
      for (tau <- Seq(0.5, 0.8, 0.95)) {
        val swept = scored.filter(org.apache.spark.sql.functions.col("jaccard") >= tau)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val direct = Dedup.minhashNearDuplicates(docs, "doc_id", "text",
          n = 3, tau = tau, numHashes = 32, rowsPerBand = 2)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(swept == direct, s"tau=$tau: sweep ${swept.size} vs direct ${direct.size}")
        Persisted.unpersistAll()
      }
    } finally {
      scored.unpersist()
      Persisted.unpersistAll()
    }
  }

  test("duplicate groups: connected components match driver-side union-find") {
    import spark.implicits._
    // two components: {1,2,3} via chain 1-2, 2-3; {7,9}; singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    // default (driver union-find) and maxDriverPairs = 0 (label propagation)
    for (maxDriverPairs <- Seq(2L * 1000 * 1000, 0L)) {
      val groups = Dedup.duplicateGroupsAuto(pairs, maxDriverPairs = maxDriverPairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    }
    Persisted.unpersistAll()
  }

  test("duplicateGroupsAuto: driver union-find and label-prop fallback agree") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 9L))
      .toDF("id_a", "id_b") // a 5-chain: deeper than cliques, exercises depth
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = canon(Dedup.duplicateGroupsAuto(pairs))
    // maxDriverPairs = 0 forces the distributed label-propagation path
    val viaLabelProp = canon(Dedup.duplicateGroupsAuto(pairs,
      maxDriverPairs = 0))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      7L -> 7L, 9L -> 7L)
    assert(viaDriver == expected)
    assert(viaLabelProp == expected)
    Persisted.unpersistAll()
  }

  test("corpus-fraction stop-shingle guard drops boilerplate from the Jaccard universe") {
    import spark.implicits._
    // four docs: unique 2-token prefixes + an identical 8-token boilerplate
    // tail. Every pure-boilerplate shingle has df = 4 > ceil(0.5 x 4) = 2,
    // so the DEFAULT guard drops them; the docs then share nothing
    val boiler = "standard legal footer applies to all documents here"
    val docs = Seq(
      (1L, s"alpha one $boiler"), (2L, s"beta two $boiler"),
      (3L, s"gamma three $boiler"), (4L, s"delta four $boiler")
    ).toDF("doc_id", "text")
    val unguarded = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, tau = 0.5, maxDfFraction = None).count()
    val guarded = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, tau = 0.5).count()
    assert(unguarded == 6, "unguarded: boilerplate makes every doc pair a near-dup")
    assert(guarded == 0, "guarded: dropping df > 50% shingles removes boilerplate-only pairs")
    Persisted.unpersistAll()
  }

  test("duplicateGroupsAuto fallback is exact on a chain deeper than any fixed unroll") {
    import spark.implicits._
    // a 30-node path (diameter 29): far deeper than a fixed 6-round unroll
    // reaches, so this pins the fallback to the convergence-checked
    // propagate+pointer-jump path. maxDriverPairs = 0 forces the fallback.
    val chain = (0L until 29L).map(i => (i, i + 1))
    val groups = Dedup.duplicateGroupsAuto(chain.toDF("id_a", "id_b"),
      maxDriverPairs = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == (0L to 29L).map(_ -> 0L).toMap,
      "convergence-checked fallback must label the full chain with its minimum id")
    Persisted.unpersistAll()
  }

  test("converged fallback equals driver union-find on the real pair graph") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", maxDfFraction = None)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaDriver = canon(Dedup.duplicateGroupsAuto(pairs))
    val viaConverged = canon(Dedup.duplicateGroupsAuto(pairs, maxDriverPairs = 0))
    assert(viaDriver.nonEmpty && viaDriver == viaConverged,
      "both component solvers must agree on the actual near-dup graph")
    Persisted.unpersistAll()
  }

  test("nearDedup keeps one representative per near-dup component") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", n = 3, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find as the oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = parent.keys.filter(k => find(k) != k).toSet
    val expectedCount = docs.count() - losers.size

    val kept = Dedup.nearDedup(docs, "doc_id", "text", n = 3, tau = 0.8)
    assert(kept.count() == expectedCount)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(losers.forall(!keptIds.contains(_)))
  }

  test("nearDedupBy keeps the best row per component, not the min id") {
    import spark.implicits._
    // docs 1/2/3 near-identical (3 is longest); 4 unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta extra"),
      (4L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val kept = Dedup.nearDedupBy(docs, "doc_id", "text",
      keepBy = Seq(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).desc),
      tau = 0.5, maxDfFraction = None)
      .collect().map(_.getLong(0)).toSet
    Persisted.unpersistAll()
    assert(kept == Set(3L, 4L), s"longest doc 3 must survive, got $kept")
  }

  test("incremental dedup drops exact and near corpus matches, keeps the rest") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),        // exact dup of 1
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota"),   // near dup of 1
      (12L, "nine ten eleven twelve thirteen fourteen fifteen"),     // clean
      (13L, "hi")                                                    // too short to shingle
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
      n = 3, tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    Persisted.unpersistAll()
    assert(kept == Set(12L, 13L), s"expected clean batch docs only, got $kept")
  }

  test("scan-speed SimHash expression is bit-identical to the relational form") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val relational = canon(Dedup.simhash64(docs, "doc_id", "text"))
    val expr = canon(Dedup.simhash64Fast(docs, "doc_id", "text"))
    assert(expr == relational)
    assert(expr.nonEmpty)
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val hashes = Dedup.simhash64(corpus, "doc_id", "text")
    val pairs = Dedup.simhashPairs(hashes, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "identical texts must have hamming 0")
    assert(pairs.contains((1L, 3L)), "1-token-edit text within hamming 10")
    assert(!pairs.contains((4L, 5L)), "unrelated texts should be far apart")
  }

  test("span dedup: keep-first, island merge, short docs untouched") {
    import spark.implicits._
    val docs = Seq(
      // 1 and 2 share a long passage (>k tokens): 2's copy must merge
      // into ONE maximal interval and vanish; 1 keeps everything
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "intro words alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu outro"),
      // within-doc repetition: second occurrence of the repeated span goes
      (3L, "one two three four one two three four tail words here"),
      // shorter than k: untouched even though it repeats 3's prefix
      (4L, "one two three"),
      (5L, "totally novel text with no duplicated spans at all whatsoever")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

    assert(out(1L) == ((12L, 0L,
      "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")))
    // doc 2: positions 2..13 duplicated (12 tokens removed as one island)
    assert(out(2L) == ((15L, 12L, "intro words outro")))
    // doc 3: "one two three four" repeats at pos 4 -> pos 4..7 removed
    assert(out(3L) == ((11L, 4L, "one two three four tail words here")))
    assert(out(4L) == ((3L, 0L, "one two three")))
    assert(out(5L)._2 == 0L)
  }

  test("span dedup: exact duplicate document empties completely") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((10L, 0L,
      "the quick brown fox jumps over the lazy dog tonight")))
    assert(out(2L) == ((10L, 10L, "")))
  }

  test("span dedup: xxhash64 span key matches the md5 default exactly") {
    // the fast 8-byte shuffle key is plan-identical to the oracle-gated
    // md5 form; absent a 2^-64 collision the outputs are equal
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    def canon(key: String) =
      Dedup.spanDedup(docs, "doc_id", "text", k = 8, spanKey = key)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
    val viaMd5 = canon("md5")
    graft.Persisted.unpersistAll()
    assert(viaMd5 == canon("xxhash64"))
    graft.Persisted.unpersistAll()
  }

  test("second-key bucket split finds exactly the flat banding's pairs") {
    val docs = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val hashes = Dedup.simhash64Fast(docs, "doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val flat = canon(Dedup.simhashPairs(hashes, maxHamming = 3))
    // limit 0 forces EVERY bucket through the sub-split path; limit 1
    // mixes paths (singleton buckets pair trivially, the rest split);
    // a huge limit must reduce to the flat plan exactly
    for (limit <- Seq(0L, 1L, 1000000L)) {
      assert(canon(Dedup.simhashPairsSplit(hashes, 3, limit)) == flat,
        s"bucketLimit=$limit must be lossless")
    }
    // wider tolerance exercises the non-divisible block widths (64/5)
    val flat7 = canon(Dedup.simhashPairs(hashes, maxHamming = 4))
    assert(canon(Dedup.simhashPairsSplit(hashes, 4, 0L)) == flat7)
  }

  test("LSH detection curve tracks 1-(1-J^r)^b on controlled-Jaccard pairs") {
    import spark.implicits._
    // three similarity levels with EXACT trigram Jaccard by construction:
    // each pair shares a c-token prefix and has pair-unique suffixes, so
    // shared trigrams = c-2 and J = (c-2)/(80-(c-2)) for 42-token docs.
    // All tokens are pair-unique -> zero cross-pair similarity.
    val levels = Seq(14, 27, 36) // shared trigrams -> J = 0.212, 0.509, 0.818
    val pairsPerLevel = 120
    val docs = levels.zipWithIndex.flatMap { case (shared, l) =>
      val c = shared + 2
      (0 until pairsPerLevel).flatMap { i =>
        val prefix = (0 until c).map(j => s"L${l}p${i}c$j")
        val a = prefix ++ (0 until (42 - c)).map(j => s"L${l}p${i}a$j")
        val b = prefix ++ (0 until (42 - c)).map(j => s"L${l}p${i}b$j")
        Seq(((l * pairsPerLevel + i) * 2L, a.mkString(" ")),
          ((l * pairsPerLevel + i) * 2L + 1, b.mkString(" ")))
      }
    }.toDF("doc_id", "text")
    val curve = Dedup.lshDetectionCurve(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    Persisted.unpersistAll()
    // every constructed pair lands in its level's bin; no strays
    val expectedBins = Map(4 -> 0.2121, 10 -> 0.5094, 16 -> 0.8182)
    assert(curve.keySet == expectedBins.keySet.map(_.toLong),
      s"unexpected bins: ${curve.keySet}")
    val rates = expectedBins.map { case (bin, j) =>
      val (n, det) = curve(bin.toLong)
      assert(n == pairsPerLevel, s"bin $bin: $n pairs")
      val rate = det.toDouble / n
      val theory = 1.0 - math.pow(1.0 - j * j, 8)
      // binomial 4-sigma at n=120 is <= 0.19 at worst-case p
      assert(math.abs(rate - theory) < 0.2,
        f"bin $bin: empirical $rate%.3f vs theoretical $theory%.3f")
      rate
    }.toSeq
    assert(rates == rates.sorted, s"detection not monotone in J: $rates")
  }
}

object DedupSpec {
  import org.apache.spark.sql.DataFrame
  import org.scalatest.Assertions._

  /** `(id_a, id_b, jaccard)` rows ordered by pair, repeats kept. */
  def jaccardRows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("id_a", "id_b", "jaccard").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(r => (r._1, r._2))

  /** `(id_sub, id_super, n_inter, n_sub)` rows ordered by pair, repeats kept. */
  def containmentRows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select("id_sub", "id_super", "n_inter", "n_sub").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._2))

  def assertPairsOnce(pairs: Seq[(Long, Long)]): Unit = {
    val twice = pairs.groupBy(identity).collect { case (p, ps) if ps.size > 1 => p }
    assert(twice.isEmpty, s"pairs emitted more than once: $twice")
  }
}
