package graft

import graft.dedup.Dedup
import graft.ops.AsofJoin
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks (raw ScalaCheck generators, fixed seeds — the
  * scalatest/scalacheck bridge artifact is not on the offline classpath)
  * for the operators whose correctness arguments are the subtlest:
  * distributed connected components against a reference union-find on
  * RANDOM graphs (not just hand-picked chains), and the one-shuffle
  * as-of join against the quadratic formulation it replaces, on random
  * event sets including equal timestamps and NULL payloads.
  */
class PropertySpec extends AnyFunSuite with SparkTestBase {

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).getOrElse(
      sys.error(s"generator failed for seed $seed"))

  private def referenceComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
  }

  test("distributed components equal reference union-find on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 40L); b <- Gen.choose(0L, 40L) if a != b
    } yield if (a < b) (a, b) else (b, a))
    (1L to 6L).foreach { seed =>
      val edges = sample(edgeGen, seed)
      val expected = referenceComponents(edges)
      val viaConverged = Dedup.duplicateGroupsAuto(
        edges.toDF("id_a", "id_b"), maxDriverPairs = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaConverged == expected, s"seed $seed, edges $edges")
      Persisted.unpersistAll()
    }
  }

  test("prefix-filtered ssjoin is lossless on random corpora at random tau") {
    import spark.implicits._
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen = Gen.choose(5, 14).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    val corpusGen = Gen.choose(8, 20).flatMap(n => Gen.listOfN(n, docGen))
    // small vocab forces heavy shingle sharing — the adversarial shape
    // for a broken prefix bound (many ties in the df order, shared
    // frequent shingles)
    val taus = Seq((1, 2), (2, 3), (4, 5), (9, 10), (1, 1))
    (1L to 4L).foreach { seed =>
      val docs = sample(corpusGen, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      taus.foreach { case (tn, td) =>
        // double tau is exact here: shingle counts are tiny integers,
        // so distinct rationals never collide onto one double
        val exact = DedupSpec.jaccardRows(Dedup.ngramJaccardPairs(docs, "doc_id",
          "text", n = 2, tau = tn.toDouble / td, maxDfFraction = None))
        Persisted.unpersistAll()
        val pref = DedupSpec.jaccardRows(Dedup.jaccardPrefixPairs(docs, "doc_id",
          "text", n = 2, tauNum = tn, tauDen = td))
        DedupSpec.assertPairsOnce(pref.map(r => (r._1, r._2)))
        assert(pref == exact, s"seed $seed tau $tn/$td: " +
          s"prefix ${pref.size} vs exact ${exact.size} rows")
      }
    }
  }

  test("sub-side-prefix containment is lossless on random corpora") {
    import spark.implicits._
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen = Gen.choose(5, 16).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    val corpusGen = Gen.choose(8, 18).flatMap(n => Gen.listOfN(n, docGen))
    (1L to 4L).foreach { seed =>
      val docs = sample(corpusGen, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      for ((tn, td) <- Seq((1, 2), (3, 4), (9, 10))) {
        val exact = DedupSpec.containmentRows(Dedup.containmentPairs(docs, "doc_id",
          "text", n = 2, tauNum = tn, tauDen = td, maxDfFraction = None))
        Persisted.unpersistAll()
        val pref = DedupSpec.containmentRows(Dedup.containmentPrefixPairs(docs,
          "doc_id", "text", n = 2, tauNum = tn, tauDen = td))
        DedupSpec.assertPairsOnce(pref.map(r => (r._1, r._2)))
        assert(pref == exact, s"seed $seed tau $tn/$td: " +
          s"${pref.size} vs ${exact.size} rows")
      }
    }
  }

  test("winnowing guarantee: random pairs sharing a >= w+k-1 run always pair") {
    import spark.implicits._
    val wordGen = Gen.choose(0, 500).map(i => s"w$i")
    val padGen = Gen.choose(3, 10).flatMap(n => Gen.listOfN(n, wordGen))
    (1L to 6L).foreach { seed =>
      val shared = sample(Gen.listOfN(7, wordGen), seed) // w+k-1 at 4/4
      val p1 = sample(padGen, seed * 31 + 1)
      val p2 = sample(padGen, seed * 31 + 2)
      val p3 = sample(padGen, seed * 31 + 3)
      val p4 = sample(padGen, seed * 31 + 4)
      val docs = Seq(
        (1L, (p1 ++ shared ++ p2).mkString(" ")),
        (2L, (p3 ++ shared ++ p4).mkString(" "))).toDF("doc_id", "text")
      val pairs = Dedup.winnowPairs(docs, "doc_id", "text",
        k = 4, w = 4, minShared = 1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Persisted.unpersistAll()
      assert(pairs.contains((1L, 2L)),
        s"seed $seed: shared 7-token run must force a shared fingerprint")
    }
  }

  test("as-of join equals the quadratic formulation on random event sets") {
    import spark.implicits._
    val caseGen = for {
      left <- Gen.nonEmptyListOf(for {
        k <- Gen.choose(1L, 4L); ts <- Gen.choose(0L, 30L)
      } yield (k, ts))
      right <- Gen.nonEmptyListOf(for {
        k <- Gen.choose(1L, 4L); ts <- Gen.choose(0L, 30L)
        v <- Gen.option(Gen.choose(1, 99))
      } yield (k, ts, v))
      strict <- Gen.oneOf(true, false)
    } yield (left, right, strict)
    (1L to 6L).foreach { seed =>
      val (left, right, strict) = sample(caseGen, seed)
      val l = left.zipWithIndex.map { case ((k, ts), i) => (i.toLong, k, ts) }
        .toDF("id", "k", "ts")
      // contract: right unique per (key, ts) — keep the max-v row per slot
      val rRows = right.groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
      val r = rRows.toDF("k", "ts", "v")
      val fast = AsofJoin.backward(l, r, Seq("k"), "ts", "ts", Seq("v"), strict)
        .select(col("id"), col("asof_v"))
        .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
      // reference: latest qualifying right row per left row, driver-side
      val expected = left.zipWithIndex.map { case ((k, ts), i) =>
        val q = rRows.filter(rr => rr._1 == k &&
          (if (strict) rr._2 < ts else rr._2 <= ts))
        i.toLong -> (if (q.isEmpty) None
                     else q.maxBy(_._2)._3.map(v => v: Any))
      }.toMap
      assert(fast == expected, s"seed $seed strict=$strict")

      // forward direction against its own quadratic reference
      val fastF = AsofJoin.forward(l, r, Seq("k"), "ts", "ts", Seq("v"), strict)
        .select(col("id"), col("asof_v"))
        .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
      val expectedF = left.zipWithIndex.map { case ((k, ts), i) =>
        val q = rRows.filter(rr => rr._1 == k &&
          (if (strict) rr._2 > ts else rr._2 >= ts))
        i.toLong -> (if (q.isEmpty) None
                     else q.minBy(_._2)._3.map(v => v: Any))
      }.toMap
      assert(fastF == expectedF, s"seed $seed strict=$strict forward")
    }
  }

  test("chunking partitions tokens exactly on random documents and budgets") {
    import spark.implicits._
    val docGen = for {
      nDocs <- Gen.choose(1, 12)
      docs <- Gen.listOfN(nDocs, Gen.nonEmptyListOf(
        Gen.oneOf("alpha", "b", "cc", "dddd", "e5")))
      maxTokens <- Gen.choose(1, 7)
    } yield (docs, maxTokens)
    (1L to 6L).foreach { seed =>
      val (docs, maxTokens) = sample(docGen, seed)
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val out = graft.text.Chunking.chunkByTokens(df, "doc_id", "text", maxTokens)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      docs.zipWithIndex.foreach { case (ws, i) =>
        val mine = out.filter(_._1 == i.toLong).sortBy(_._2)
        assert(mine.map(_._2).toSeq == mine.indices, s"seed $seed: dense chunk_idx")
        // every token in exactly one chunk, original order, budget respected
        assert(mine.flatMap(_._3.split(" ")).toSeq == ws, s"seed $seed doc $i")
        assert(mine.forall(_._4 <= maxTokens), s"seed $seed: budget")
        assert(mine.init.forall(_._4 == maxTokens.toLong),
          s"seed $seed: only the last chunk may be short")
        assert(mine.map(_._4).sum == ws.length.toLong, s"seed $seed: token count")
      }
    }
  }

  test("quantile sketch: zero rank error on random integer data") {
    import spark.implicits._
    val dataGen = for {
      n <- Gen.choose(1, 300)
      vals <- Gen.listOfN(n, Gen.choose(0L, 1000L))
      binW <- Gen.oneOf(1L, 7L, 32L)
    } yield (vals, binW)
    (1L to 6L).foreach { seed =>
      val (vals, binW) = sample(dataGen, seed)
      val sorted = vals.sorted
      val got = graft.sketch.QuantileSketch.valueQuantiles(
        vals.toDF("v"), "v", pcts = Seq(1, 50, 99), binWidth = binW,
        maxValue = 1023L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      got.foreach { case (pct, lo, hi) =>
        // the reported cell must contain the exact ceil(n*pct/100)-th value
        val rank = ((vals.size.toLong * pct + 99) / 100).toInt
        val exact = sorted(math.max(rank - 1, 0))
        assert(exact >= lo && exact <= hi,
          s"seed $seed pct=$pct: $exact outside [$lo,$hi] (binW=$binW)")
      }
    }
  }

  test("unigram drift: smoothed KL is non-negative on random corpora (Gibbs)") {
    import spark.implicits._
    val words = Seq("a", "bb", "ccc", "dd", "e", "fff", "g", "hh")
    val corpusGen = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.oneOf(words)).map(_.mkString(" ")))
    (1L to 6L).foreach { seed =>
      val a = sample(corpusGen, seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val b = sample(corpusGen, seed + 100).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val rows = graft.text.Vocabulary.unigramDrift(a, b, "text").collect()
      val totalContrib = rows.map(_.getLong(4)).sum
      val vocab = rows.length.toLong
      // KL(P || Q_smoothed) >= 0 by Gibbs; floor fixed-point truncation
      // can shave at most ~1 ulp per token occurrence
      val totA = rows.map(_.getLong(1)).sum
      assert(totalContrib >= -totA,
        s"seed $seed: smoothed KL came out negative beyond fp slack " +
          s"($totalContrib, totA=$totA, vocab=$vocab)")
    }
  }

  test("label propagation equals the driver-side synchronous reference " +
      "on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.nonEmptyListOf(for {
      a <- Gen.choose(0L, 25L); b <- Gen.choose(0L, 25L) if a != b
    } yield (a, b))
    def ref(n: Int, edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val nbrs = scala.collection.mutable.Map[Long, List[Long]]()
        .withDefaultValue(Nil)
      edges.foreach { case (a, b) =>
        nbrs(a) = b :: nbrs(a); nbrs(b) = a :: nbrs(b)
      }
      var labels = (0L until n.toLong).map(v => v -> v).toMap
      for (_ <- 1 to iters) {
        labels = labels.map { case (v, old) =>
          val counts = nbrs(v).groupBy(labels).map { case (l, xs) => l -> xs.size }
          v -> (if (counts.isEmpty) old
                else counts.toSeq.maxBy { case (l, c) => (c, -l) }._1)
        }
      }
      labels
    }
    (1L to 6L).foreach { seed =>
      val edges = sample(edgeGen, seed)
      val iters = 1 + (seed % 4).toInt
      val nodes = (0L until 26L).toDF("node")
      val e = edges.toDF("src", "dst")
      val got = graft.graph.LabelProp.labelPropagate(nodes, e, iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Persisted.unpersistAll()
      val want = ref(26, edges, iters)
      assert(got == want, s"seed $seed iters $iters: $got vs $want")
    }
  }

  test("CDC chunking: on random corpora a random-length prefix insertion " +
      "preserves every chunk after the first boundary") {
    import spark.implicits._
    val wordGen = Gen.choose(0, 300).map(i => s"w$i")
    val caseGen = for {
      n <- Gen.choose(12, 40)
      words <- Gen.listOfN(n, wordGen)
      pLen <- Gen.choose(1, 6)
      prefix <- Gen.listOfN(pLen, Gen.choose(1000, 1100).map(i => s"p$i"))
      modulus <- Gen.oneOf(3, 4, 5)
    } yield (words, prefix, modulus)
    (1L to 8L).foreach { seed =>
      val (words, prefix, modulus) = sample(caseGen, seed)
      val df = Seq(
        (1L, words.mkString(" ")),
        (2L, (prefix ++ words).mkString(" "))).toDF("doc_id", "text")
      val out = graft.text.Chunking.cdcChunks(df, "doc_id", "text", modulus)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3)))
      val base = out.filter(_._1 == 1L).sortBy(_._2)
      val shifted = out.filter(_._1 == 2L).map(_._3).toSet
      // partition invariant: chunk token counts sum to the doc length
      assert(base.map(_._4).sum == words.length, s"seed $seed")
      assert(out.filter(_._1 == 2L).map(_._4).sum ==
        words.length + prefix.length, s"seed $seed")
      // every base chunk after the head realigns verbatim in the
      // prefixed doc — the CDC selling point (head excluded: the prefix
      // merges into it up to the first content boundary)
      base.drop(1).foreach { c =>
        assert(shifted.contains(c._3),
          s"seed $seed: interior chunk lost after prefix insertion")
      }
    }
  }

  test("SkipgramGenerator equals the HOF formulation and a driver " +
      "reference on random corpora at several windows") {
    import spark.implicits._
    val docGen = Gen.listOfN(40, Gen.chooseNum(0, 200).flatMap(n =>
      Gen.choose(0, 8).map(len => s"w${n % (len + 1)}")))
    (1L to 4L).foreach { seed =>
      val texts = (0 until 30).map(i =>
        (i.toLong, sample(docGen, seed * 100 + i).take(3 + (i % 38))
          .mkString(" ")))
      val docs = texts.toDF("doc_id", "text")
      val window = 1 + (seed % 4).toInt
      val got = graft.text.Vocabulary.skipgramCounts(
          docs, "doc_id", "text", window, minCount = 1L)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      // driver-side reference
      val want = texts.flatMap { case (_, t) =>
        val toks = t.trim.split(" ")
        for {
          i <- toks.indices; d <- 1 to window if i + d < toks.length
          pair = if (toks(i) <= toks(i + d)) (toks(i), toks(i + d))
                 else (toks(i + d), toks(i))
        } yield pair
      }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      assert(got == want, s"seed $seed window $window")
      // and the array-HOF formulation agrees
      val hofExpr = expr(
        s"flatten(transform(split(trim(text), ' '), (x, i) -> " +
          s"transform(slice(split(trim(text), ' '), i + 2, $window), y -> " +
          "struct(least(x, y) AS w1, greatest(x, y) AS w2))))")
      val hof = docs.select(explode(hofExpr).as("p"))
        .select(col("p.w1"), col("p.w2"))
        .groupBy("w1", "w2").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(hof == want, s"HOF diverges at seed $seed window $window")
    }
  }
}
