package graft

import graft.text.{RollingHashExpr, TextExpressions, TextFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite with SparkTestBase {

  private def one(colExpr: org.apache.spark.sql.Column, text: String): Any = {
    import spark.implicits._
    Seq(text).toDF("t").select(colExpr).collect().head.get(0)
  }

  test("token counts: whitespace and BPE-ish") {
    assert(one(TextFunctions.tokenCount(col("t")), "a quick brown fox") == 4)
    assert(one(TextFunctions.bpeishTokenCount(col("t")), "hello world") == 2L)
    assert(one(TextFunctions.bpeishTokenCount(col("t")), "abc123 x-y") == 5L,
      "letter run, digit run, ' x', '-', 'y'")
  }

  test("language ID picks the dominant marker set; ties break by priority") {
    assert(one(TextFunctions.langId(col("t")), "the cat and the hat of a dog") == "en")
    assert(one(TextFunctions.langId(col("t")), "der hund und die katze und") == "de")
    assert(one(TextFunctions.langId(col("t")), "el gato los perros que") == "es")
    assert(one(TextFunctions.langId(col("t")), "le chat et les chiens") == "fr")
    assert(one(TextFunctions.langId(col("t")), "xyz") == "en", "no markers -> first priority")
  }

  test("fingerprint is order-invariant; rolling hash is order-sensitive") {
    val fpA = one(TextFunctions.fingerprint(col("t")), "b a c")
    val fpB = one(TextFunctions.fingerprint(col("t")), "c b a")
    assert(fpA == fpB)

    val rhA = one(TextExpressions.rollingHash(col("t")), "b a c")
    val rhB = one(TextExpressions.rollingHash(col("t")), "c b a")
    assert(rhA != rhB)
    // matches the static reference implementation (codegen and eval agree)
    assert(rhA == RollingHashExpr.hashBytes("b a c".getBytes("UTF-8")))
  }

  test("char entropy: uniform pair = 1 bit, constant = 0, codegen " +
    "expression equals the static replica") {
    import spark.implicits._
    import graft.text.CharEntropyExpr
    val f = 1L << 20 // FracBits fixed point
    val got = Seq((1L, "aabb"), (2L, "aaaa"), (3L, "abcd"), (4L, "mixed bag!"))
      .toDF("id", "t")
      .select(col("id"), CharEntropyExpr.entropyCol(col("t")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == f, s"H(aabb)=1 bit, got ${got(1L)}")  // 2x2 uniform
    assert(got(2L) == 0L)                                   // constant run
    assert(got(3L) == 2L * f)                               // 4-way uniform
    // arbitrary text matches the shared static entry point exactly
    assert(got(4L) == CharEntropyExpr.entropyFp(
      org.apache.spark.unsafe.types.UTF8String.fromString("mixed bag!")))
    assert(got(4L) > 2L * f && got(4L) < 4L * f) // 9 distinct chars in 10

    // astral-plane text counts CODE POINTS, matching DuckDB's
    // string_split(text, '') — each emoji is ONE character, so two
    // distinct emoji = 1 bit exactly (surrogate-pair counting would see
    // 4 units and a different distribution)
    val astral = CharEntropyExpr.entropyFp(
      org.apache.spark.unsafe.types.UTF8String.fromString("😀😁"))
    assert(astral == f, s"H(two distinct astral chars)=1 bit, got $astral")
  }

  test("quality signals") {
    assert(one(TextFunctions.wordCount(col("t")), "one two three") == 3)
    assert(one(TextFunctions.avgWordLen(col("t")), "ab abcd") == 3.0)
    assert(one(TextFunctions.stopwordScore(col("t")), "the a of and")
      .asInstanceOf[Int] > 0)
  }

  test("length batches equal the global-window reference and cut padding " +
    "vs arrival-order batching") {
    import spark.implicits._
    import graft.text.Chunking
    val docs = (0L until 320L).map(i => (i, (i * 37 % 100) + 10)).toDF("id", "toks")
    val got = Chunking.lengthBatches(docs, "id", "toks", batchSize = 32)
      .select("id", "batch_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: one global row_number over (toks desc, md5, id)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("toks").desc, graft.ops.Sampling.shuffleKey(col("id")), col("id"))
    val ref = docs.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("b", expr("(rn - 1) DIV 32"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == ref)
    // padding property: length-sorted batches waste less than id-order ones
    val sortedPad = Chunking.lengthBatchStats(docs, "id", "toks", 32)
      .agg(sum(col("pad_tokens"))).head().getLong(0)
    val arrivalPad = docs.withColumn("batch_id", expr("id DIV 32"))
      .groupBy("batch_id")
      .agg((max(col("toks")) * count(lit(1)) - sum(col("toks"))).as("p"))
      .agg(sum(col("p"))).head().getLong(0)
    assert(sortedPad < arrivalPad,
      s"length batching must cut padding: $sortedPad vs $arrivalPad")
  }

  test("chunking: every token in exactly one chunk, in order, within budget") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g"), // 7 tokens / 3 -> 3,3,1
      (2L, "x y z"),         // exactly one budget
      (3L, "solo")           // shorter than budget
    ).toDF("doc_id", "text")
    val out = graft.text.Chunking.chunkByTokens(docs, "doc_id", "text", 3)
      .orderBy("doc_id", "chunk_idx").collect()

    val doc1 = out.filter(_.getLong(0) == 1L)
    assert(doc1.map(_.getString(2)).toSeq == Seq("a b c", "d e f", "g"))
    assert(doc1.map(_.getInt(1)).toSeq == Seq(0, 1, 2), "dense 0-based chunk_idx")
    assert(doc1.map(_.getLong(3)).toSeq == Seq(3L, 3L, 1L))
    assert(out.filter(_.getLong(0) == 2L).map(_.getString(2)).toSeq == Seq("x y z"))
    assert(out.filter(_.getLong(0) == 3L).map(_.getString(2)).toSeq == Seq("solo"))

    // reassembling the chunks restores the document byte-for-byte
    val rejoined = graft.text.Chunking.chunkByTokens(docs, "doc_id", "text", 3)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text"))))
        .getField("chunk_text")).as("rebuilt"))
    val back = rejoined.join(docs, "doc_id")
      .filter(col("rebuilt") =!= col("text")).count()
    assert(back == 0L)
  }

  test("sequence packing: fixed-size examples, stream order preserved, nothing lost") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, (0 until (i % 7 + 1).toInt).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val L = 10
    val out = graft.text.Chunking.packSequences(docs, "doc_id", "text", L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))

    val totalTokens = (0L until 40L).map(_ % 7 + 1).sum
    assert(out.map(_._5).sum == totalTokens, "every token lands in exactly one piece")

    // examples reassemble to exactly L tokens (except the last), with
    // pieces abutting at their token_start offsets
    val byExample = out.groupBy(_._1).toSeq.sortBy(_._1)
    assert(byExample.map(_._1) == (0L until (totalTokens + L - 1) / L), "dense example ids")
    byExample.foreach { case (ex, pieces) =>
      val sorted = pieces.sortBy(_._2)
      assert(sorted.head._2 == 0L, s"example $ex starts at 0")
      sorted.sliding(2).foreach { w =>
        if (w.length == 2)
          assert(w(0)._2 + w(0)._5 == w(1)._2, s"example $ex pieces abut")
      }
      val len = sorted.map(_._5).sum
      if (ex < byExample.size - 1) assert(len == L.toLong, s"example $ex full")
      else assert(len <= L.toLong && len > 0, s"last example partial")
    }

    // the global stream equals the documents concatenated in (md5, id) order
    val want = (0L until 40L)
      .sortBy(i => (org.apache.commons.codec.digest.DigestUtils.md5Hex(i.toString), i))
      .flatMap(i => (0 until (i % 7 + 1).toInt).map(j => s"d${i}w$j"))
    val got = out.sortBy(p => (p._1, p._2)).flatMap(_._4.split(" ")).toSeq
    assert(got == want, "stream order is the deterministic shuffle order")
  }

  test("duplicated-block ratio: exact dup docs 1.0, unique doc 0.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),          // dup of 2 -> both blocks shared
      (2L, "a b c d e f"),
      (3L, "q r s t u v"),          // unique -> 0.0
      (4L, "a b c z z z")           // shares block "a b c" only -> 0.5
    ).toDF("doc_id", "text")
    val r = graft.dedup.Dedup.duplicatedBlockRatio(docs, "doc_id", "text", blockTokens = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((2L, 2L, 1.0)))
    assert(r(2L) == ((2L, 2L, 1.0)))
    assert(r(3L) == ((2L, 0L, 0.0)))
    assert(r(4L) == ((2L, 1L, 0.5)))
  }

  test("repeated-ngram ratio: 0 for all-distinct and too-short, high for loops") {
    import graft.dedup.Dedup.repeatedNgramRatio
    assert(one(repeatedNgramRatio(col("t"), 3), "a b c d e") == 0.0)
    assert(one(repeatedNgramRatio(col("t"), 3), "a b") == 0.0) // too short
    // "a b a b a b a b": 6 trigram occurrences, 2 distinct -> 1 - 2/6
    val r = one(repeatedNgramRatio(col("t"), 3), "a b a b a b a b")
      .asInstanceOf[Double]
    assert(math.abs(r - (1.0 - 2.0 / 6.0)) < 1e-12)
  }

  test("vocabulary: rank-deterministic ids, min-count cut, OOV encoding") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the cat ran"),
      (3L, "the dog ran"),
      (4L, "a rare token")).toDF("doc_id", "text")
    val vocab = graft.text.Vocabulary.buildVocab(docs, "text", size = 3,
      minCount = 2L)
    val v = vocab.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // freq: the=3, cat=2, ran=2 (>=2); ties broken by token asc
    assert(v.toSeq == Seq(("the", 3L, 0L), ("cat", 2L, 1L), ("ran", 2L, 2L)),
      s"got ${v.toSeq}")
    val enc = graft.text.Vocabulary.encode(docs, "doc_id", "text", vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(enc(1L) == Seq(0L, 1L, -1L), "the cat sat -> [the, cat, OOV]")
    assert(enc(2L) == Seq(0L, 1L, 2L))
    assert(enc(3L) == Seq(0L, -1L, 2L))
    assert(enc(4L) == Seq(-1L, -1L, -1L), "all-OOV doc still encodes")
  }

  test("OOV stats and keyword search score with pure integers") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the cat ran"),
      (3L, "the dog ran"),
      (4L, "a rare token")).toDF("doc_id", "text")
    val vocab = graft.text.Vocabulary.buildVocab(docs, "text", 3, minCount = 2L)
    val oov = graft.text.Vocabulary.oovStats(docs, "doc_id", "text", vocab)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(oov(1L) == ((3L, 1L)) && oov(2L) == ((3L, 0L)) &&
      oov(4L) == ((3L, 3L)), s"got $oov")
    val hits = graft.text.Vocabulary.searchByTokens(docs, "doc_id", "text",
      query = Seq("cat", "ran"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 2 (cat+ran) > 1,3 (one term each, tie -> id); doc 4 matches nothing
    assert(hits.toSeq == Seq((2L, 2L, 2L), (1L, 1L, 1L), (3L, 1L, 1L)),
      s"got ${hits.toSeq}")
  }

  test("bpe training: weighted argmax, canonical greedy runs, tie-breaks") {
    import spark.implicits._
    // types: aaab (x2), ab (x1); round1 (a,a)=4 beats (a,b)=3;
    // round2 (a,b)=3 beats (aa,a)=2; round3 merges the whole word
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val merges = graft.text.Vocabulary.bpeTrain(docs, "text", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(merges.toSeq == Seq(
      (1L, "a", "a", "aa", 4L),
      (2L, "a", "b", "ab", 3L),
      (3L, "aa", "ab", "aaab", 2L)), s"got ${merges.toSeq}")
  }

  test("bpe merge apply pairs up runs disjointly (aaaa -> aa aa, aaa -> aa a)") {
    import spark.implicits._
    // "aaaa": 3 (a,a) occurrences but only 2 disjoint merges; the second
    // round proves the result was [aa, aa], not [aa, a, a]
    val even = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val mEven = graft.text.Vocabulary.bpeTrain(even, "text", rounds = 2)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(mEven.toSeq == Seq(("a", "a", 6L), ("aa", "aa", 2L)),
      s"got ${mEven.toSeq}")
    // "aaa": greedy keeps the FIRST pair -> [aa, a], so round2 sees (aa, a)
    val odd = Seq((1L, "aaa")).toDF("doc_id", "text")
    val mOdd = graft.text.Vocabulary.bpeTrain(odd, "text", rounds = 2)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(mOdd.toSeq == Seq(("a", "a", 2L), ("aa", "a", 1L)),
      s"got ${mOdd.toSeq}")
  }

  test("bpe training exhausts gracefully and segment stats count subwords") {
    import spark.implicits._
    // single 2-char type: one merge possible, then every type is one
    // symbol (also exercises the length-1 ANSI-safe pair filter)
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val m = graft.text.Vocabulary.bpeTrain(tiny, "text", rounds = 5).collect()
    assert(m.length == 1 && m(0).getString(3) == "ab")
    graft.Persisted.unpersistAll()
    // segment stats after 1 round on the 3-merge corpus:
    // aaab -> [aa, a, b] (3), ab -> [a, b] (2); doc = 2x aaab + 1x ab
    val docs = Seq((1L, "aaab aaab ab"), (2L, "ab")).toDF("doc_id", "text")
    val seg = graft.text.Vocabulary.bpeSegmentStats(docs, "doc_id", "text",
      rounds = 1).collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(seg(1L) == ((3L, 8L)) && seg(2L) == ((1L, 2L)), s"got $seg")
    graft.Persisted.unpersistAll()
  }

  test("bpeSegmentStatsInRow == bpeSegmentStats (embedded word-length " +
      "table vs relational), incl. row presence on null text and on the " +
      "documents corpus") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // same tiny corpus as the relational test + a NULL-text doc: both
    // forms must drop it (inner join feeds the groupBy there; the
    // n_tokens > 0 filter here), not emit a null/zero row
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "aaab aaab ab"), Row(2L, "ab"),
        Row(3L, null.asInstanceOf[String]))), schema)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rel = toMap(graft.text.Vocabulary.bpeSegmentStats(
      docs, "doc_id", "text", rounds = 1))
    graft.Persisted.unpersistAll()
    val inrow = toMap(graft.text.Vocabulary.bpeSegmentStatsInRow(
      docs, "doc_id", "text", rounds = 1))
    graft.Persisted.unpersistAll()
    assert(rel == inrow && !rel.contains(3L), s"rel=$rel inrow=$inrow")
    // corpus check: bit-identical on real documents
    val corpus = DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")
    val a = toMap(graft.text.Vocabulary.bpeSegmentStats(
      corpus, "doc_id", "text", rounds = 3))
    graft.Persisted.unpersistAll()
    val b = toMap(graft.text.Vocabulary.bpeSegmentStatsInRow(
      corpus, "doc_id", "text", rounds = 3))
    graft.Persisted.unpersistAll()
    assert(a == b,
      s"forms diverge on ${a.keySet.filter(k => a.get(k) != b.get(k)).take(3)}")
    // the in-row application path is a pure scan past the trained model:
    // its plan contains no exchange (training runs eagerly in the
    // collect; what's planned here is only the scan + filter)
    val plan = graft.text.Vocabulary.bpeSegmentStatsInRow(
      corpus, "doc_id", "text", rounds = 1)
      .queryExecution.executedPlan.toString
    graft.Persisted.unpersistAll()
    assert(!plan.contains("Exchange"),
      s"bpeSegmentStatsInRow must not shuffle:\n$plan")
  }

  test("surprisal: fixed-point tracks -log2 P within 2^-FracBits per token") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common rare"),
      (2L, "common common common common common"),
      (3L, "common common rare unique1 unique2")
    ).toDF("doc_id", "text")
    val got = graft.text.Vocabulary.surprisalScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // corpus model: total=15; common 11, rare 2, unique* 1 each
    val frac = 1L << 20
    def fp(num: Long, den: Long): Long =
      math.floor(math.log(num.toDouble / den) / math.log(2.0) * frac).toLong
    // floor-style fixed point truncates each term independently: allow
    // 1 ulp per token against the double reference
    def close(gotFp: Long, terms: Seq[(Long, Long)]): Boolean = {
      val ref = terms.map { case (n, d) => fp(n, d) }.sum
      math.abs(gotFp - ref) <= terms.size
    }
    assert(got(1L)._1 == 5L)
    assert(close(got(1L)._2, Seq.fill(4)((15L, 11L)) :+ ((15L, 2L))))
    assert(close(got(2L)._2, Seq.fill(5)((15L, 11L))))
    assert(close(got(3L)._2,
      Seq.fill(2)((15L, 11L)) ++ Seq((15L, 2L), (15L, 1L), (15L, 1L))))
    // the rare-token doc scores strictly above the all-common doc
    assert(got(3L)._3 > got(2L)._3 && got(1L)._3 > got(2L)._3)
  }

  test("tfidfKeyTerms: corpus-wide terms score 0, rare terms rank first, " +
      "ties break on term") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the cat sat"),
      (2L, "the dog sat"),
      (3L, "the cat ran ran")
    ).toDF("doc_id", "text")
    val got = graft.text.Vocabulary.tfidfKeyTerms(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(4)) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // df: the=3 (idf 0), cat=2, sat=2, dog=1, ran=1; N=3
    val frac = 1L << 20
    def idf(df: Long): Long =
      math.floor(math.log(3.0 / df) / math.log(2.0) * frac).toLong
    // doc 2: dog (tf1 * idf1) beats sat (tf1 * idf2); "the" scores 0
    assert(got((2L, 1))._1 == "dog" && got((2L, 2))._1 == "sat")
    assert(math.abs(got((2L, 1))._3 - idf(1)) <= 1,
      s"dog score ${got((2L, 1))._3} vs ${idf(1)}")
    // doc 3: ran tf=2 doubles its idf; cat second
    assert(got((3L, 1))._1 == "ran" && got((3L, 1))._2 == 2L)
    assert(got((3L, 2))._1 == "cat")
    // doc 1: cat and sat share idf and tf=1 -> tie breaks on term asc
    assert(got((1L, 1))._1 == "cat" && got((1L, 2))._1 == "sat")
    // idf(N/df) with df=N is exactly 0 -> "the" can never outrank a
    // positive-score term even at tf=2
    assert(!Seq(got((1L, 1))._1, got((1L, 2))._1).contains("the"))
  }

  test("cdcChunks: chunks partition the stream; an inserted prefix " +
      "leaves post-boundary chunks identical (the CDC property)") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val docs = Seq((1L, base), (2L, s"zzz yyy $base")).toDF("doc_id", "text")
    val out = graft.text.Chunking.cdcChunks(docs, "doc_id", "text", modulus = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3))))
    val byDoc = out.groupBy(_._1._1)
    // partition: per-doc chunk token counts sum to the doc length
    assert(byDoc(1L).map(_._2._2).sum == 16L)
    assert(byDoc(2L).map(_._2._2).sum == 18L)
    // invariance: every chunk of doc 1 EXCEPT its head reappears
    // verbatim in doc 2 (the prefix only perturbs content before the
    // first boundary); fixed-size chunking would shatter all of them
    val h1 = byDoc(1L).toSeq.sortBy(_._1._2).map(_._2._1)
    val h2 = byDoc(2L).map(_._2._1).toSet
    assert(h1.tail.nonEmpty, "need >= 2 chunks for the property to bite")
    assert(h1.tail.forall(h2.contains),
      s"interior chunks must survive the prefix insertion: $h1 vs $h2")
    // identical docs produce identical chunk-hash multisets
    val twin = Seq((10L, base), (11L, base)).toDF("doc_id", "text")
    val t = graft.text.Chunking.cdcChunks(twin, "doc_id", "text", modulus = 4)
      .collect().map(r => r.getLong(0) -> r.getString(2))
    assert(t.filter(_._1 == 10L).map(_._2).sorted.toSeq ==
      t.filter(_._1 == 11L).map(_._2).sorted.toSeq)
  }

  test("heldOutSurprisal: OOV counted not scored, all-OOV doc guarded, " +
      "known tokens score from the TRAIN distribution") {
    import spark.implicits._
    val train = Seq((1L, "common common common rare")).toDF("doc_id", "text")
    val test = Seq(
      (10L, "common rare"),          // fully known
      (11L, "common unseen"),        // half OOV
      (12L, "ghost phantom")         // all OOV
    ).toDF("doc_id", "text")
    val got = graft.text.Vocabulary.heldOutSurprisal(
      train, test, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val frac = 1L << 20
    def fp(num: Long, den: Long): Long =
      math.floor(math.log(num.toDouble / den) / math.log(2.0) * frac).toLong
    // train model: total 4, common 3, rare 1
    assert(got(10L)._1 == 2L && got(10L)._2 == 0L)
    assert(math.abs(got(10L)._3 - (fp(4, 3) + fp(4, 1))) <= 2,
      s"got ${got(10L)}")
    assert(got(11L)._2 == 1L, s"unseen must count as OOV: ${got(11L)}")
    assert(math.abs(got(11L)._3 - fp(4, 3)) <= 1,
      s"OOV carries no score: ${got(11L)}")
    // all-OOV: zero surprisal, guarded mean 0 (no divide-by-zero)
    assert(got(12L) == ((2L, 2L, 0L, 0L)), s"got ${got(12L)}")
  }

  test("bpeFertilityByGroup: the slice whose words the merges serve " +
      "shows lower fertility") {
    import spark.implicits._
    // 'en' repeats one word -> the two merges collapse it to one symbol;
    // 'xx' words are distinct 4-char types those merges never reach (a
    // THIRD merge would spill into xx once en is exhausted — that spill
    // is exactly the fertility signal at work)
    val docs = Seq(
      ("en", "aaaa aaaa aaaa aaaa aaaa aaaa"),
      ("en", "aaaa aaaa aaaa"),
      ("xx", "wxyz qrst mnop")
    ).toDF("lang", "text")
    val got = graft.text.Vocabulary.bpeFertilityByGroup(
      docs, "lang", "text", rounds = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    graft.Persisted.unpersistAll()
    // merges: 'a a' -> 'aa' (freq 18), 'aa aa' -> 'aaaa' (freq 9) ->
    // en fertility exactly 1000 milli (1 subword/word)
    assert(got("en") == ((9L, 9L, 1000L)), s"got $got")
    // xx words stay fully split: 4 subwords/word = 4000 milli
    assert(got("xx") == ((3L, 12L, 4000L)), s"got $got")
    assert(got("xx")._3 > got("en")._3,
      "underserved slice must show higher fertility")
  }

  test("pmiCollocations: bound phrase tops the list, minCount floors " +
      "hapax pairs, independent pair scores ~0") {
    import spark.implicits._
    // "new york" always co-occurs (strong PMI); "the" pairs freely with
    // everything (PMI ~ 0 with uniform partners); "rare gem" occurs once
    val docs = Seq(
      (1L, "new york is big the end"),
      (2L, "new york was the start"),
      (3L, "new york and the rest"),
      (4L, "rare gem the thing")
    ).toDF("doc_id", "text")
    val got = graft.text.Vocabulary.pmiCollocations(docs, "doc_id", "text",
      minCount = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val frac = (1L << 20).toDouble
    assert(got.contains(("new", "york")) && got(("new", "york"))._1 == 3L,
      s"got $got")
    // c12=3, c1=c2=3, T=20 -> pmi = log2(3*20/9) ~ 2.74 bits
    assert(math.abs(got(("new", "york"))._2 / frac -
      math.log(3.0 * 20 / 9) / math.log(2.0)) < 0.01, s"got $got")
    assert(!got.contains(("rare", "gem")), s"minCount=2 must drop hapax: $got")
    // every surviving pair respects the floor
    assert(got.values.forall(_._1 >= 2L))
  }

  test("nbClassify: marker tokens weigh negative, clean docs score " +
      "positive, OOV tokens carry zero weight") {
    import spark.implicits._
    val pos = Seq((1L, "good clean prose here"), (2L, "more clean prose"))
      .toDF("doc_id", "text")
    val neg = Seq((3L, "click spam click spam"), (4L, "spam click now"))
      .toDF("doc_id", "text")
    val weights = graft.text.Vocabulary.nbTokenWeights(
      graft.text.Vocabulary.unigramDriftCounts(pos, neg, "text"))
    val w = weights.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // class-exclusive tokens get the right sign
    assert(w("clean") > 0L && w("prose") > 0L, s"positive-class tokens: $w")
    assert(w("spam") < 0L && w("click") < 0L, s"negative-class tokens: $w")
    // scoring the training rows separates the classes at threshold 0
    val all = pos.unionByName(neg)
    val scored = graft.text.Vocabulary.nbClassify(all, "doc_id", "text", weights)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(scored == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false),
      s"got $scored")
    // OOV tokens carry zero weight but stay COUNTED: the score function
    // is total, so an all-OOV doc scores 0 (kept at threshold 0 — zero
    // evidence is not a drop) and n_known exposes the coverage gap
    val oov = Seq((9L, "zzz yyy"), (10L, "zzz clean")).toDF("doc_id", "text")
    val oovScored = graft.text.Vocabulary.nbClassify(oov, "doc_id", "text", weights)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(oovScored(9L) == ((2L, 0L, 0L, true)),
      s"all-OOV doc must score 0 with n_known 0: $oovScored")
    assert(oovScored(10L) == ((2L, 1L, w("clean"), w("clean") >= 0L)),
      s"got $oovScored")
  }

  test("unigram drift: self-drift ~ 0, disjoint corpora strongly positive") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma alpha"), (2L, "alpha beta delta"))
      .toDF("doc_id", "text")
    val bSame = a
    val bOther = Seq((3L, "zeta eta theta zeta"), (4L, "zeta iota kappa"))
      .toDF("doc_id", "text")
    val frac = 1L << 20
    def klBitsPerTok(drift: org.apache.spark.sql.DataFrame): Double = {
      val rows = drift.collect()
      val totA = rows.map(_.getLong(1)).sum
      rows.map(_.getLong(4)).sum.toDouble / totA / frac
    }
    val self = klBitsPerTok(graft.text.Vocabulary.unigramDrift(a, bSame, "text"))
    val other = klBitsPerTok(graft.text.Vocabulary.unigramDrift(a, bOther, "text"))
    // identical corpora: only add-one smoothing keeps this above zero
    assert(self >= 0 && self < 0.5, s"self-drift should be near 0, got $self")
    // disjoint vocab: every A-token is unseen in B -> large positive drift
    assert(other > 1.5, s"disjoint-corpus drift should be large, got $other")
    assert(other > self * 3)
  }

  test("batched bpe: batchSize=1 equals one-at-a-time; batches are symbol-disjoint") {
    import spark.implicits._
    val docs = Seq((1L, "aaab aaab ab"), (2L, "cd cd cd")).toDF("doc_id", "text")
    val one = graft.text.Vocabulary.bpeTrain(docs, "text", rounds = 4)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    graft.Persisted.unpersistAll()
    val b1 = graft.text.Vocabulary.bpeTrainBatched(docs, "text",
      batchRounds = 4, batchSize = 1)
      .collect().map(r => (r.getString(2), r.getString(3), r.getLong(5)))
    assert(one.toSeq == b1.toSeq, s"batchSize=1 diverged: ${one.toSeq} vs ${b1.toSeq}")
    graft.Persisted.unpersistAll()
    // batchSize=2 must pick (a,a) then skip (a,b)/(aa,*) overlaps -> (c,d)
    val b2 = graft.text.Vocabulary.bpeTrainBatched(docs, "text",
      batchRounds = 1, batchSize = 2)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getString(3)))
    assert(b2.toSeq == Seq((1L, "a", "a"), (1L, "c", "d")), s"got ${b2.toSeq}")
    // disjointness within every batch round, by construction
    val b3 = graft.text.Vocabulary.bpeTrainBatched(docs, "text",
      batchRounds = 3, batchSize = 3).collect()
      .groupBy(_.getLong(0)).values
    b3.foreach { rows =>
      // disjointness is BETWEEN pairs ((a,a) alone is fine): no symbol
      // of one kept pair may appear in another kept pair of the batch
      val sets = rows.map(r => Set(r.getString(2), r.getString(3)))
      assert(sets.map(_.size).sum == sets.foldLeft(Set.empty[String])(_ ++ _).size,
        s"batch shares symbols across pairs: ${rows.mkString(", ")}")
    }
    graft.Persisted.unpersistAll()
  }

  /** Float BM25 over the same plan shape as the gated fixed-point form:
    * IN-filtered token scan → per-(doc, term) tf agg → broadcast term and
    * corpus statistics → per-doc score sum → ordered limit, with
    * `score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`,
    * `idf(t) = ln(1 + (N−df+0.5)/(df+0.5))`, k1 = 1.2, b = 0.75 — the
    * ranking reference for `Vocabulary.bm25SearchFixed`.
    */
  private def bm25Search(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, query: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val docLens = df.select(col(idCol),
      TextFunctions.tokenCount(col(textCol)).cast("double").as("_dl"))
    val stats = docLens.agg(count(lit(1)).cast("double").as("_n"),
      (sum(col("_dl")) / count(lit(1))).as("_avgdl"))
    val tf = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("_term"))
      .filter(col("_term").isin(query: _*))
      .groupBy(col(idCol), col("_term"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    val dft = tf.groupBy(col("_term")).agg(count(lit(1)).cast("double").as("_df"))
    val idf = log(lit(1.0) + (col("_n") - col("_df") + lit(0.5)) /
      (col("_df") + lit(0.5)))
    val termScore = idf * (col("_tf") * lit(k1 + 1.0)) /
      (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl")))
    tf.join(docLens, Seq(idCol))
      .join(broadcast(dft), Seq("_term"))
      .join(broadcast(stats))
      .groupBy(col(idCol))
      .agg(sum(termScore).as("bm25"), count(lit(1)).as("distinct_terms"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  test("bm25 search matches an independent driver-side computation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark shuffles data between stages"),
      (2L, "spark spark spark is a spark engine"),
      (3L, "data moves through a data pipeline with data"),
      (4L, "nothing relevant here at all today")).toDF("doc_id", "text")
    val query = Seq("spark", "data")
    val (k1, b) = (1.2, 0.75)
    // independent reference implementation
    val corpus = Map(
      1L -> "spark shuffles data between stages",
      2L -> "spark spark spark is a spark engine",
      3L -> "data moves through a data pipeline with data",
      4L -> "nothing relevant here at all today")
      .view.mapValues(_.trim.split("\\s+").toSeq).toMap
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    def score(id: Long): Double = {
      val toks = corpus(id)
      query.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else {
          val df = corpus.values.count(_.contains(t)).toDouble
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          idf * tf * (k1 + 1.0) /
            (tf + k1 * (1.0 - b + b * toks.size / avgdl))
        }
      }.sum
    }
    val got = bm25Search(docs, "doc_id", "text", query, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"doc 4 matches nothing: $got")
    got.foreach { case (id, s) =>
      assert(math.abs(s - score(id)) < 1e-9, s"doc $id: got $s want ${score(id)}")
    }
    // and the ranking follows the scores
    val order = bm25Search(docs, "doc_id", "text", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(order == order.sortBy(id => (-got(id), id)), s"ranking order: $order")
  }

  test("log2Fixed tracks exact log2 and the Column twin agrees bit-for-bit") {
    import graft.text.Vocabulary
    val cases = for {
      num <- Seq(3L, 7L, 10L, 101L, 999L, 10002L, 65537L)
      den <- Seq(1L, 2L, 3L, 5L, 11L, 1001L) if den <= num
    } yield (num, den)
    cases.foreach { case (num, den) =>
      val fp = Vocabulary.log2Fixed(num, den)
      val exact = math.log(num.toDouble / den) / math.log(2.0)
      val approx = fp.toDouble / (1L << Vocabulary.FracBits)
      assert(math.abs(approx - exact) < 1e-5,
        s"log2Fixed($num, $den) = $approx vs exact $exact")
    }
  }

  test("log2FixedCols fails by name at num = 2^33 and equals log2Fixed below") {
    import spark.implicits._
    import graft.text.Vocabulary
    val bound = 1L << (63 - Vocabulary.MantBits)
    def cols(num: Long) = Vocabulary.log2FixedCols(Seq((num, 3L)).toDF("_num", "_den"))
      .select("_idf_fp").as[Long].collect().toSeq
    assert(cols(bound - 1) == Seq(Vocabulary.log2Fixed(bound - 1, 3L)))
    val msgs = Iterator.iterate[Throwable](intercept[Exception](cols(bound)))(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains(s"log2Fixed needs 0 < den <= num < 2^33, got $bound/3")),
      s"no named failure in: $msgs")
  }

  test("fixed-point bm25 matches an exact integer driver-side replay") {
    import spark.implicits._
    val corpus = Map(
      1L -> "spark shuffles data between stages",
      2L -> "spark spark spark is a spark engine",
      3L -> "data moves through a data pipeline with data",
      4L -> "nothing relevant here at all today")
    val docs = corpus.toSeq.toDF("doc_id", "text")
    val query = Seq("spark", "data")
    // independent integer replay of the gated formula
    val toks = corpus.view.mapValues(_.trim.split(" ", -1).toSeq).toMap
    val n = toks.size.toLong
    val sdl = toks.values.map(_.size.toLong).sum
    def expected(id: Long): Long = {
      val dl = toks(id).size.toLong
      query.map { t =>
        val tf = toks(id).count(_ == t).toLong
        if (tf == 0) 0L
        else {
          val df = toks.values.count(_.contains(t)).toLong
          val idf = graft.text.Vocabulary.log2Fixed(2 * n + 2, 2 * df + 1)
          (idf * 22 * tf * sdl) / (10 * tf * sdl + 3 * sdl + 9 * dl * n)
        }
      }.sum
    }
    val got = graft.text.Vocabulary
      .bm25SearchFixed(docs, "doc_id", "text", query, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map(_._1).toSet == Set(1L, 2L, 3L), s"doc 4 matches nothing: $got")
    got.foreach { case (id, s) =>
      assert(s == expected(id), s"doc $id: got $s want ${expected(id)}")
    }
    // ranking follows (score desc, id asc) and agrees with float bm25's
    assert(got == got.sortBy { case (id, s) => (-s, id) }, s"order: $got")
    val floatOrder = bm25Search(docs, "doc_id", "text", query, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got.map(_._1) == floatOrder,
      s"fixed ranking ${got.map(_._1)} != float ranking $floatOrder")
  }

  test("fixed-point bm25 returns one schema for an empty and a non-empty corpus") {
    import spark.implicits._
    val query = Seq("spark", "data")
    def schemaOf(docs: org.apache.spark.sql.DataFrame) = graft.text.Vocabulary
      .bm25SearchFixed(docs, "doc_id", "text", query, 10).schema
    val full = schemaOf(Seq((1L, "spark data")).toDF("doc_id", "text"))
    val empty = schemaOf(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    // StructType equality includes every field's nullability
    assert(empty == full, s"empty $empty != non-empty $full")
  }

  test("fixed-point bm25 rejects a streaming input by name at build time") {
    import spark.implicits._
    implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // both shapes: the narrow one (1 term) and the exploded one (no terms)
    for (query <- Seq(Seq("spark"), Seq.empty[String])) {
      val e = intercept[IllegalArgumentException](graft.text.Vocabulary.bm25SearchFixed(
        stream.toDF().toDF("doc_id", "text"), "doc_id", "text", query, 10))
      assert(e.getMessage.contains("bm25SearchFixed needs a batch input"), e.getMessage)
    }
  }

  test("benchmark contamination flags only docs sharing enough shingles") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // 4 shared trigrams with bench 100
      (2L, "one two three four five six seven")    // nothing shared
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text")
    val hits = graft.dedup.Dedup.benchmarkContamination(
      corpus, "doc_id", "text", bench, "doc_id", "text", n = 3, minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.toSeq == Seq((1L, 1L, 4L)),
      "doc 1 shares exactly its 4 trigrams with one benchmark doc; doc 2 is clean")
  }

  test("ruleFilter: each C4/Gopher rule fires independently") {
    import spark.implicits._
    val longWords = Seq.fill(45)("alpha").mkString(" ") // 45 words, awl ~5
    val df = Seq(
      (1L, longWords + " omega."),              // all rules pass
      (2L, longWords + " { omega."),            // brace
      (3L, longWords + " lorem ipsum omega."),  // boilerplate phrase
      (4L, longWords + " click here omega."),   // boilerplate phrase
      (5L, longWords + " omega"),               // no terminal punctuation
      (6L, "short doc."),                       // under min words
      (7L, Seq.fill(45)("ab").mkString(" ") + " x.") // mean word len < 3
    ).toDF("doc_id", "text")
    val out = graft.text.Curation.ruleFilter(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(3), r.getBoolean(4), r.getBoolean(5), r.getBoolean(6)))
      .toMap // (ends_punct, has_brace, has_boilerplate, keep)
    assert(out(1L) == ((true, false, false, true)))
    assert(out(2L) == ((true, true, false, false)))
    assert(out(3L) == ((true, false, true, false)))
    assert(out(4L) == ((true, false, true, false)))
    assert(out(5L) == ((false, false, false, false)))
    assert(out(6L)._4 == false)
    assert(out(7L)._4 == false)
  }
}
