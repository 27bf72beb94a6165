package graft

import graft.sim.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite with SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("cosine matches a driver-side computation") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 1.0f, 0.0f)),
      (4L, Array(2.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cos = df.as("a").join(df.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(cos((1L, 2L))) < 1e-12, "orthogonal")
    assert(math.abs(cos((1L, 4L)) - 1.0) < 1e-12, "parallel")
    assert(math.abs(cos((1L, 3L)) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("brute-force top-k is ordered, excludes the query, correct k") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryId = 0L, k = 10)
      .collect()
    assert(top.length == 10)
    assert(!top.exists(_.getLong(0) == 0L))
    val cosines = top.map(_.getDouble(1))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b }, "descending")
  }

  test("LSH top-k: only same-bucket candidates, reasonable recall") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding", 0L, 10, numPlanes = 8)
      .collect().map(_.getLong(0)).toSet
    assert(approx.nonEmpty, "query bucket must contain neighbors")
    // sanity: single-probe sign-LSH on near-uniform vectors is lossy; just
    // require overlap to be possible and all results to be valid ids
    assert(approx.subsetOf(
      emb.select("vec_id").collect().map(_.getLong(0)).toSet - 0L))
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"sign-LSH single-probe recall@10 = $recall%.2f")
  }

  test("IVF top-k: nProbe=all equals brute force; partial probe has recall") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // probing every cluster must reproduce the exact result
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      numClusters = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact, "nProbe = numClusters must equal brute force")
    val partial = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      numClusters = 8, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact.map(_._1).toSet & partial).size.toDouble / exact.size
    info(f"IVF recall@10 with 2/8 probes = $recall%.2f")
    assert(partial.size == 10)
  }

  test("IVF top-k: building the DataFrame runs no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val emb = (0 until 40).map(i => (i.toLong,
      Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat - 5.0f)))
      .toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    // job starts in bus order; a marker job in its own group proves every
    // earlier start has been delivered
    val started = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        started.put(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 5,
        numClusters = 4, nProbe = 2)
      sc.setJobGroup("graft-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val jobs = Iterator.continually(
          started.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(g => g != null && g != "graft-marker").size
      assert(jobs == 0, s"building ivfTopK started $jobs job(s)")
      assert(out.collect().length == 5)
    } finally sc.removeSparkListener(listener)
  }

  test("random projection: basis vectors read off the sign matrix, dot " +
      "products preserved in expectation") {
    import spark.implicits._
    import graft.sim.RandomProjection
    val s = RandomProjection.signMatrix(8, 4)
    // e_i projects to column i of the sign matrix (scaled 2^20)
    val basis = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(8)(k => if (k == i) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = RandomProjection.project(basis, "vec_id", "embedding", 8, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for (i <- 0 until 8; j <- 0 until 4)
      assert(got(i.toLong)(j) == s(j)(i).toLong * (1L << 20),
        s"e_$i dim $j: ${got(i.toLong)(j)} vs ${s(j)(i)}")
    // JL in expectation on the real embeddings: projected dot / outDim
    // correlates strongly with the original dot across sampled pairs
    val emb = DerivedModel.table(spark, dir, "embeddings").limit(40)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    def corrAt(outDim: Int): Double = {
      val sm = RandomProjection.signMatrix(64, outDim)
      def proj(x: Array[Double]): Array[Double] =
        Array.tabulate(outDim)(j => (0 until 64).map(i => sm(j)(i) * x(i)).sum)
      val pairs = for (a <- emb.indices; b <- a + 1 until emb.length) yield {
        val (xa, xb) = (emb(a)._2, emb(b)._2)
        val (ya, yb) = (proj(xa), proj(xb))
        ((0 until 64).map(i => xa(i) * xb(i)).sum,
          (0 until outDim).map(j => ya(j) * yb(j)).sum / outDim.toDouble)
      }
      val (mx, my) = (pairs.map(_._1).sum / pairs.size,
        pairs.map(_._2).sum / pairs.size)
      val cov = pairs.map { case (x, y) => (x - mx) * (y - my) }.sum
      cov / math.sqrt(pairs.map(t => math.pow(t._1 - mx, 2)).sum *
        pairs.map(t => math.pow(t._2 - my, 2)).sum)
    }
    // the corpus is near-orthogonal (dots ~ 0 +- d^-1/2), the HARD
    // regime: at k=16 the JL noise floor is comparable to the signal,
    // so demand positive correlation and CONVERGENCE as k grows — the
    // actual JL statement
    val (c16, c48) = (corrAt(16), corrAt(48))
    info(f"dot-product correlation: 64->16 $c16%.3f, 64->48 $c48%.3f")
    assert(c16 > 0.3, f"JL must preserve dots in expectation, corr=$c16%.3f")
    assert(c48 > c16 && c48 > 0.6,
      f"more dims must tighten the estimate: c16=$c16%.3f c48=$c48%.3f")
  }

  test("annRecallAudit: nProbe=all audits perfect recall; partial probe " +
      "agrees with the hand-computed intersection") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    // probing every cluster makes the IVF arm exact -> hits == k for
    // every sampled query
    val full = Similarity.annRecallAudit(emb, "vec_id", "embedding",
      k = 5, queryStep = 100L, numClusters = 8, nProbe = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.nonEmpty && full.values.forall(_ == 5L),
      s"nProbe = numClusters must audit 5/5: $full")
    // partial probe: the audit's hits must equal the intersection of the
    // two arms computed independently
    val partial = Similarity.annRecallAudit(emb, "vec_id", "embedding",
      k = 5, queryStep = 100L, numClusters = 8, nProbe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((qid, hits) <- partial) {
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qid, 5)
        .collect().map(_.getLong(0)).toSet
      val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", qid, 5,
        numClusters = 8, nProbe = 2).collect().map(_.getLong(0)).toSet
      assert(hits == (exact & approx).size.toLong,
        s"query $qid: audit says $hits, arms intersect in ${(exact & approx).size}")
    }
    assert(partial.keySet == full.keySet)
  }

  test("pqRecallAudit: rerank=corpus audits perfect recall; the normal " +
      "cut agrees with the hand-computed arm intersection") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val n = emb.count().toInt
    // an ADC top-R cut that keeps the whole corpus makes the PQ arm's
    // re-rank exact -> hits == k for every sampled query
    val full = Similarity.pqRecallAudit(emb, "vec_id", "embedding",
      k = 5, queryStep = 100L, m = 8, ksub = 8, rerank = n, dim = Some(64))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.nonEmpty && full.values.forall(_ == 5L),
      s"rerank = corpus must audit 5/5: $full")
    // the production cut: audit hits must equal the intersection of
    // brute force and the pqTopK pipeline computed independently
    val partial = Similarity.pqRecallAudit(emb, "vec_id", "embedding",
      k = 5, queryStep = 100L, m = 8, ksub = 8, rerank = 20, dim = Some(64))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((qid, hits) <- partial) {
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qid, 5)
        .collect().map(_.getLong(0)).toSet
      val approx = Similarity.pqTopK(emb, "vec_id", "embedding", qid, 5,
        m = 8, ksub = 8, rerank = 20, dim = Some(64))
        .collect().map(_.getLong(0)).toSet
      assert(hits == (exact & approx).size.toLong,
        s"query $qid: audit says $hits, arms intersect in ${(exact & approx).size}")
    }
    assert(partial.keySet == full.keySet)
    Persisted.unpersistAll()
  }

  test("k-means IVF: nProbe=all equals brute force; centroids balanced") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = Similarity.ivfTopKTrained(emb, "vec_id", "embedding", 0L, 10,
      numClusters = 8, nProbe = 8, trainIterations = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == exact, "nProbe = numClusters must equal brute force")
    Persisted.unpersistAll()
  }

  test("knnJoin: every row gets k neighbors; row 0's list equals brute force") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val n = emb.count()
    val knn = Similarity.knnJoin(emb, "vec_id", "embedding", k = 3)
    assert(knn.count() == n * 3)
    val forZero = knn.filter(col("vec_id") === 0L)
      .orderBy(col("rnk"))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(forZero == exact)
  }

  test("knnJoinAgg (top-k UDAF) is row-identical to the window knnJoin") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val win = canon(Similarity.knnJoin(emb, "vec_id", "embedding", k = 4))
    val agg = canon(Similarity.knnJoinAgg(emb, "vec_id", "embedding", k = 4))
    assert(agg == win)
  }

  test("salted equi-join is row-identical to the plain join") {
    import spark.implicits._
    // skewed big side: key 1 holds most rows
    val big = (1 to 500).map(i => (if (i <= 400) 1L else (i % 7).toLong, s"v$i"))
      .toDF("k", "payload")
    val small = Seq((1L, "one"), (2L, "two"), (5L, "five")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))
    val salted = graft.ops.SkewJoin.saltedEquiJoin(big, small, "k", saltBuckets = 8)
      .select(col("k"), col("payload"), col("name"))
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(salted == plain)
  }

  test("bucketed kNN: nProbe = numClusters is row-identical to the exact kNN") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val exact = canon(Similarity.knnJoin(emb, "vec_id", "embedding", k = 4))
    val bucketed = canon(Similarity.knnJoinBucketed(emb, "vec_id", "embedding",
      k = 4, numClusters = 8, nProbe = 8))
    assert(bucketed == exact, "probing every cluster must reproduce the exact kNN")
    Persisted.unpersistAll()
  }

  test("sign-bit top-k: packing is correct, re-rank recovers most of brute force") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    // packing check on one row, against a driver-side computation
    val row = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 3L)
      .collect().head
    val vec = row.getSeq[Float](1)
    val expLo = (0 until 32).map(i => if (vec(i) > 0) 1L << i else 0L).reduce(_ | _)
    val expHi = (32 until 64).map(i => if (vec(i) > 0) 1L << (i - 32) else 0L).reduce(_ | _)
    val sb = Similarity.signBitTopK(emb, "vec_id", "embedding",
      queryId = 3L, k = 1, rerank = 1, dim = Some(64))
    // the query row's own bits aren't in the output; recompute via the
    // same path with queryId 3 and hamming 0 means identical signs — so
    // instead check bits directly through a tiny projection
    import org.apache.spark.sql.functions._
    val bitsDf = emb.filter(col("vec_id") === 3L)
      .select(col("embedding").cast("array<double>").as("v"))
      .select(
        (0 until 32).map(i => when(element_at(col("v"), i + 1) > 0.0,
          lit(1L << i)).otherwise(lit(0L))).reduce((a, b) => a.bitwiseOR(b)).as("lo"),
        (32 until 64).map(i => when(element_at(col("v"), i + 1) > 0.0,
          lit(1L << (i - 32))).otherwise(lit(0L))).reduce((a, b) => a.bitwiseOR(b)).as("hi"))
      .collect().head
    assert(bitsDf.getLong(0) == expLo && bitsDf.getLong(1) == expHi)
    assert(sb.count() == 1)
    // recall: top-10 after re-rank of the 32 hamming-closest vs exact
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10).collect().map(_.getLong(0)).toSet
    val approx = Similarity.signBitTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, rerank = 32, dim = Some(64))
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & approx).size
    assert(recall >= 5, s"sign-bit recall@10 too low: $recall/10")
  }

  test("PQ top-k: full re-rank equals brute force; ADC recall is sane") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // re-ranking EVERY candidate makes PQ exact regardless of code quality
    val full = Similarity.pqTopK(emb, "vec_id", "embedding", queryId = 0L,
      k = 10, m = 8, ksub = 16, rerank = 499, dim = Some(64))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(full == exact, "rerank >= n-1 must equal brute force")
    // default-ish rerank: the ADC cut should still recover most of top-10
    val approx = Similarity.pqTopK(emb, "vec_id", "embedding", queryId = 0L,
      k = 10, m = 8, ksub = 16, rerank = 40, dim = Some(64))
      .collect().map(_.getLong(0)).toSet
    val recall = (exact.map(_._1).toSet & approx).size
    info(s"PQ recall@10 with rerank=40: $recall/10")
    assert(recall >= 5, s"PQ recall@10 too low: $recall/10")
    // IVF-PQ with all clusters probed + full re-rank is exact too
    val ivfFull = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, numClusters = 8, nProbe = 8, m = 8, ksub = 16,
      rerank = 499, dim = Some(64))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(ivfFull == exact, "nProbe = numClusters + full re-rank must be exact")
  }

  test("quantized bucketed kNN: same neighbor sets as the float path") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    // neighbor SETS (not scores): candidate sets are identical by
    // construction (same IVF skeleton); the quantized top-2k cut then the
    // exact re-rank must recover the float path's top-k whenever the
    // k..2k quantized band isn't tighter than the ~1/127-per-axis error —
    // on this corpus that holds for every anchor
    def neighbors(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val float = neighbors(Similarity.knnJoinBucketed(
      emb, "vec_id", "embedding", k = 4, numClusters = 8, nProbe = 4))
    Persisted.unpersistAll()
    val q8 = neighbors(Similarity.knnJoinBucketedQuantized(
      emb, "vec_id", "embedding", k = 4, numClusters = 8, nProbe = 4))
    Persisted.unpersistAll()
    assert(q8.keySet == float.keySet)
    val agree = q8.keys.count(id => q8(id) == float(id))
    assert(agree == q8.size,
      s"quantized+re-rank must recover the float top-k: $agree/${q8.size}")
  }

  test("lshCosinePairs reproduces the exact pair set on planted near-dups") {
    val aug = DerivedModel.embeddingsAugmented(spark, dir)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val exact = canon(Similarity.cosineNearDupPairs(aug, "vec_id", "embedding", tau = 0.95))
    val lsh = canon(Similarity.lshCosinePairs(aug, "vec_id", "embedding", tau = 0.95))
    assert(exact.nonEmpty, "augmented table must contain planted near-dup pairs")
    assert(lsh == exact,
      s"LSH pair set (${lsh.size}) must equal the exact pair set (${exact.size}), bit-for-bit")
    Persisted.unpersistAll()
  }

  test("planted near-dups sit far above background similarity") {
    val aug = DerivedModel.embeddingsAugmented(spark, dir)
    val pairs = Similarity.cosineNearDupPairs(aug, "vec_id", "embedding", tau = 0.95)
      .collect()
    // every planted pair links an original to its +1000000 copy
    assert(pairs.forall(r => r.getLong(1) == r.getLong(0) + 1000000L))
    assert(pairs.forall(_.getDouble(2) > 0.999))
    Persisted.unpersistAll()
  }

  test("hyperplanes are deterministic across invocations") {
    val a = Similarity.hyperplanes(8, 4)
    val b = Similarity.hyperplanes(8, 4)
    assert(a.flatten.toSeq == b.flatten.toSeq)
  }

  test("int8 quantization: range, scale, extreme-value fidelity, zero guard") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f)) // all-zero: scale guard, qvec zeros
    ).toDF("vec_id", "embedding")
    val rows = Similarity.withQuantizedVec(df, "embedding")
      .select(col("vec_id"), col("qscale"), col("qvec"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getSeq[Byte](2)))).toMap
    val (s1, q1) = rows(1L)
    assert(s1 == 127.0, "scale = 127/max|x| = 127/1.0")
    assert(q1 == Seq[Byte](64, -127, 32), "floor(x*127 + 0.5)")
    val (s2, q2) = rows(2L)
    assert(s2 == 1.0 && q2 == Seq[Byte](0, 0, 0), "zero vector guarded")
  }

  test("quantized LSH pairs reproduce the exact quantized pair set on planted near-dups") {
    val aug = DerivedModel.embeddingsAugmented(spark, dir)
    // exact pair set under the quantized metric: brute-force over the
    // upcast quantized vectors (cosine of integral doubles == the
    // integer-dot formulation)
    val quantized = Similarity.withQuantizedVec(aug, "embedding")
      .select(col("vec_id"), col("qvec").cast("array<double>").as("qd"))
    val exact = Similarity.cosineNearDupPairs(quantized, "vec_id", "qd", tau = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = Similarity.lshCosinePairsQuantized(aug, "vec_id", "embedding",
      tau = 0.95, dim = Some(64))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Persisted.unpersistAll()
    assert(viaLsh == exact, s"LSH ${viaLsh.size} vs exact ${exact.size}")
    assert(exact.nonEmpty, "planted near-dups must survive quantization")
  }

  test("quantized top-k closely tracks the exact ranking") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val quant = Similarity.quantizedTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect()
    assert(quant.length == 10)
    assert(!quant.exists(_.getLong(0) == 0L))
    val qc = quant.map(_.getDouble(1))
    assert(qc.zip(qc.tail).forall { case (a, b) => a >= b }, "descending")
    // per-axis error <= 1/127: rankings of a 64-dim cosine barely move
    val overlap = (exact & quant.map(_.getLong(0)).toSet).size
    assert(overlap >= 7, s"quantized recall too low: $overlap/10")
  }

  test("k-means and PQ training are bit-identical at any partitioning") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    def centroids(parts: Int) = Similarity.kmeansCentroids(emb.repartition(parts),
        "vec_id", "embedding", numClusters = 8, iterations = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits))
      .toMap
    def codebook(parts: Int) = Similarity.pqCodebookTrained(emb.repartition(parts),
        "vec_id", "embedding", m = 8, ksub = 16, dim = 64, iterations = 2)
      .map(_.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq).toSeq
    val (c1, cb1) = (centroids(1), codebook(1))
    assert(c1.size == 8 && centroids(7) == c1, "k-means differs at 7 partitions")
    assert(cb1.size == 8 && codebook(7) == cb1, "PQ codebook differs at 7 partitions")
  }

  test("semanticDedup matches the driver-side reference on its clusters") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val survivors = Similarity.semanticDedup(emb, "vec_id", "embedding",
        tau = 0.4, numClusters = 8, trainIterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Persisted.unpersistAll()

    // the trained assignment of dropped rows is internal to the operator,
    // so the reference checks the two survivor invariants directly
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = rows.toMap
    // group survivors+dropped by the operator's own clusters is not
    // visible for dropped rows; instead assert the survivor invariant in
    // both directions over the operator's output:
    // (1) no two survivors in the same cluster are tau-similar with
    //     distinct ids unless the smaller one dropped the larger — i.e.
    //     for survivors a < b in one cluster, cos < tau
    val byCluster = survivors.toSeq.groupBy(_._2)
    for ((_, members) <- byCluster; ids = members.map(_._1).sorted) {
      for (i <- ids.indices; j <- (i + 1) until ids.length) {
        val c = cos(byId(ids(i)), byId(ids(j)))
        assert(c < 0.4,
          s"survivors ${ids(i)},${ids(j)} share a cluster at cosine $c >= tau")
      }
    }
    // (2) every non-survivor has SOME smaller-id tau-neighbor (cluster
    //     membership of dropped rows is internal, so check the weaker
    //     global form — a dropped row must at least have a candidate)
    val all = rows.map(_._1).toSet
    val droppedIds = all -- survivors.keySet
    assert(droppedIds.forall { d =>
      rows.exists { case (o, v) => o < d && cos(v, byId(d)) >= 0.4 }
    }, "a dropped row has no smaller-id tau-neighbor at all")
    assert(survivors.nonEmpty && droppedIds.nonEmpty,
      "the sf0.001 corpus should both keep and drop rows at tau=0.4")
  }

  test("prototypesPrune: per-cluster ceil cut, most-prototypical dropped, " +
    "edge fractions") {
    val emb = DerivedModel.table(spark, dir, "embeddings")
    val full = Similarity.prototypesPrune(emb, "vec_id", "embedding",
        dropPerMille = 0, numClusters = 8, trainIterations = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Persisted.unpersistAll()
    val n = emb.count()
    assert(full.length == n, "dropPerMille=0 keeps every row")
    // ranks are a 1..size permutation per cluster
    for ((c, members) <- full.groupBy(_._2)) {
      val ranks = members.map(_._3).sorted
      assert(ranks.toSeq == (1L to members.length).toSeq,
        s"cluster $c ranks not contiguous: $ranks")
    }
    val pruned = Similarity.prototypesPrune(emb, "vec_id", "embedding",
        dropPerMille = 250, numClusters = 8, trainIterations = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Persisted.unpersistAll()
    // same clustering (same deterministic training), so the full run's
    // per-cluster sizes give the expected integer cuts
    val sizes = full.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val prunedBy = pruned.groupBy(_._2)
    for ((c, sz) <- sizes) {
      val cut = (sz * 250 + 999) / 1000
      val kept = prunedBy.getOrElse(c, Array.empty).map(_._3).sorted
      // survivors are exactly ranks cut+1..size — the dropped set IS the
      // most-prototypical prefix, by construction of the rank
      assert(kept.toSeq == ((cut + 1) to sz).toSeq,
        s"cluster $c: expected ranks ${cut + 1}..$sz, got ${kept.toSeq}")
    }
    val none = Similarity.prototypesPrune(emb, "vec_id", "embedding",
        dropPerMille = 1000, numClusters = 8, trainIterations = 1).count()
    Persisted.unpersistAll()
    assert(none == 0L, "dropPerMille=1000 drops every row")
  }

  test("meanPoolVectors: ordered fold equals reference, partition-invariant") {
    import spark.implicits._
    val rows = (0L until 120L).map { i =>
      (i, i % 10, Array.tabulate(8)(d => ((i * 31 + d * 7) % 13).toDouble - 6.0))
    }
    val df = rows.toDF("cid", "doc", "vec")
    def pool(d: org.apache.spark.sql.DataFrame) =
      Similarity.meanPoolVectors(d, "doc", "cid", "vec")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getSeq[Double](2).toVector)).toSet
    val a = pool(df.repartition(7))
    val b = pool(df.coalesce(1))
    assert(a == b, "pooled vectors must be bit-identical at any parallelism")
    // exact reference: left fold in cid order, then divide
    val want = rows.groupBy(_._2).map { case (doc, chunk) =>
      val sorted = chunk.sortBy(_._1).map(_._3)
      val sum = sorted.foldLeft(Array.fill(8)(0.0))((acc, v) =>
        acc.zip(v).map { case (x, y) => x + y })
      (doc, chunk.size.toLong, sum.map(_ / chunk.size.toDouble).toVector)
    }.toSet
    assert(a == want)
  }

  test("rrfFuse: fixed-point reciprocal ranks, overlap wins, arm order respected") {
    import spark.implicits._
    val S = graft.sim.HybridSearch.RrfScale
    // arm A ranks docs 1,2,3 (by score desc); arm B ranks 3,4 — doc 3
    // appears in both and must out-rank every single-arm doc here
    val armA = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("doc_id", "score")
    val armB = Seq((3L, 9L), (4L, 5L)).toDF("doc_id", "sim")
    val fused = graft.sim.HybridSearch.rrfFuse(Seq(
        armA -> Seq(col("score").desc, col("doc_id")),
        armB -> Seq(col("sim").desc, col("doc_id"))),
        "doc_id", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = Map(
      1L -> S / 61, 2L -> S / 62,
      3L -> (S / 63 + S / 61), 4L -> S / 62)
    assert(fused.map(t => t._1 -> t._2).toMap == want)
    assert(fused.head._1 == 3L, "the both-arms doc ranks first")
    assert(fused.map(_._1).toSeq == Seq(3L, 1L, 2L, 4L),
      "equal scores tie-break by id (docs 2 and 4 both at S/62)")
    assert(fused.find(_._1 == 3L).get._3 == 2L, "n_arms counts contributing arms")
  }

  test("orderedGroupMeans is bit-identical to the array_sort(collect_list) " +
    "fold and partition-invariant") {
    import spark.implicits._
    // adversarial doubles: magnitudes spanning 12 orders so the ADD ORDER
    // matters (a different association changes the low bits), plus
    // duplicates and negative values; ids deliberately inserted shuffled
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      val g1 = i % 7
      val g2 = (i / 7) % 3
      val v = (rnd.nextDouble() - 0.5) * math.pow(10.0, rnd.nextInt(12) - 6)
      (g1, g2, i.toLong, v)
    }
    val df = rnd.shuffle(rows).toDF("_g1", "_g2", "_id", "_v")
    // the pre-r13 formulation, verbatim: per-group sorted array + left fold
    val expected = df.groupBy(col("_g1"), col("_g2"))
      .agg(array_sort(collect_list(struct(col("_id").as("id"),
        col("_v").cast("double").as("v")))).as("_vals"))
      .select(col("_g1"), col("_g2"),
        (expr("aggregate(_vals, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.v)") /
          size(col("_vals"))).as("_m"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (parts <- Seq(1, 3, 17)) {
      val got = graft.sim.Similarity.orderedGroupMeans(
          df.repartition(parts), Seq("_g1", "_g2"), col("_id"), col("_v"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(got.keySet == expected.keySet)
      for ((k, m) <- expected) {
        // exact: java.lang.Double.compare distinguishes every bit pattern
        assert(java.lang.Double.compare(got(k), m) == 0,
          s"group $k: ${got(k)} != $m at $parts input partitions")
      }
    }
    // null semantics match the replaced fold too: collect_list keeps
    // struct(id, NULL) and `acc + NULL` nulls the whole group's mean —
    // a null value must POISON its group (not crash, not be skipped)
    // while untouched groups keep their exact means
    val withNull = df.withColumn("_v",
      when(col("_g1") === 3 && col("_g2") === 1 && col("_id") % 100 === 0,
        lit(null)).otherwise(col("_v")))
    val gotN = graft.sim.Similarity.orderedGroupMeans(
        withNull, Seq("_g1", "_g2"), col("_id"), col("_v"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(gotN((3, 1)).isEmpty, "null value must poison its group's mean")
    for ((k, m) <- expected if k != (3, 1))
      assert(java.lang.Double.compare(gotN(k).get, m) == 0,
        s"null in one group must not perturb group $k")
  }
}
