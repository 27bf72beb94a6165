package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sketch.{CmsBucketsExpr, CountMin, QuantileSketch}

/** Count-min sketch semantics (the cross-engine bit-replay lives in the
  * gated `x_sketch_cms_topk`; these pin the sketch-theoretic properties
  * that hold at ANY width, including widths the gate doesn't exercise).
  */
class SketchSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs =
    DerivedModel.table(spark, "/root/testdata/sf0.001", "documents")

  test("estimate >= exact for every token (one-sided error)") {
    val toks = CountMin.tokens(docs, "text")
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact"))
    val est = CountMin.estimates(
      exact.select(col("token")), CountMin.sketch(toks, widthBits = 8), 8)
    val bad = est.join(exact, Seq("token"))
      .filter(col("est") < col("exact")).count()
    assert(bad === 0L)
  }

  test("narrow sketch forces collisions but stays one-sided") {
    // 16 buckets << vocab: collisions guaranteed, so some est > exact —
    // and still none below
    val toks = CountMin.tokens(docs, "text")
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact"))
    val joined = CountMin.estimates(
        exact.select(col("token")), CountMin.sketch(toks, widthBits = 4), 4)
      .join(exact, Seq("token"))
    assert(joined.filter(col("est") < col("exact")).count() === 0L)
    assert(joined.filter(col("est") > col("exact")).count() > 0L)
  }

  test("sketch size is depth * width regardless of corpus") {
    val sk = CountMin.sketch(CountMin.tokens(docs, "text"), widthBits = 4)
    assert(sk.count() <= CmsBucketsExpr.Depth * 16L)
    // every counter is positive (zero cells are simply absent)
    assert(sk.filter(col("cnt") <= 0).count() === 0L)
  }

  test("streaming CMS over 3 micro-batches equals the batch sketch " +
    "(counter sums are associative)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cms_stream").toString
    val src = s"$dir/src"
    (0 until 3).foreach { i =>
      (0 until 200).map(j => (i * 200L + j, s"w${(i * 7 + j) % 90} w${j % 55}"))
        .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(src)
    }
    val batchDf = spark.read.parquet(src)
    val expected = CountMin.sketch(CountMin.tokens(batchDf, "text"), 6)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val upd = graft.streaming.StreamingOps.runUpdateToParquetSink(
      graft.streaming.StreamingOps.streamingCmsSketch(
        spark, src, batchDf, "text", 6,
        sourceOptions = Map("maxFilesPerTrigger" -> "1")),
      s"$dir/sink", Seq("r", "bucket"))
    val got = upd.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected,
      s"streaming counters diverge: ${got.size} vs ${expected.size} cells")
  }

  test("bloom filter: zero false negatives, FPR tracks the load factor, " +
    "positions merge by union") {
    import spark.implicits._
    import graft.sketch.Bloom
    val keys = (1L to 2000L).map(Tuple1(_)).toDF("v")
    val pos = Bloom.bloomPositions(keys, mBits = 16384L, kHashes = 4).persist()
    // no false negatives: every member accepted
    val members = Bloom.bloomProbe(keys, pos, 16384L, 4)
    assert(members.filter(!col("accepted")).count() == 0L)
    // FPR on disjoint probes tracks (set_bits/m)^k
    val probes = (100001L to 110000L).map(Tuple1(_)).toDF("v")
    val setBits = pos.count()
    val fp = Bloom.bloomProbe(probes, pos, 16384L, 4)
      .filter(col("accepted")).count()
    val predicted = math.pow(setBits.toDouble / 16384.0, 4) * 10000
    assert(math.abs(fp - predicted) < 150,
      s"fp=$fp predicted=$predicted setBits=$setBits")
    // shard merge = distinct union of position relations
    val merged = Bloom.bloomPositions(keys.filter(col("v") <= 1000), 16384L, 4)
      .unionByName(Bloom.bloomPositions(keys.filter(col("v") > 1000), 16384L, 4))
      .distinct()
    assert(merged.collect().map(_.getLong(0)).toSet
      == pos.collect().map(_.getLong(0)).toSet)
    pos.unpersist()
  }

  test("quantile sketch brackets the exact quantile, rank error 0") {
    val binW = 64L
    val got = QuantileSketch.valueQuantiles(docs, "n_chars",
      pcts = Seq(1, 25, 50, 75, 99), binWidth = binW, maxValue = 8191L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = docs.count()
    val sortedVals = docs.select(col("n_chars").cast("long"))
      .orderBy("n_chars").collect().map(_.getLong(0))
    got.foreach { case (pct, lo, hi, nOut) =>
      assert(nOut === n)
      assert(hi - lo === binW - 1) // cell edges, clamp not hit at sf0.001
      // the exact ceil(n*pct/100)-th value lies inside the reported cell
      val rank = ((n * pct + 99) / 100).toInt
      val exact = sortedVals(math.max(rank - 1, 0))
      assert(exact >= lo && exact <= hi,
        s"pct=$pct exact=$exact outside [$lo,$hi]")
    }
  }

  test("quantile sketch cardinality is bounded by the grid, not the data") {
    val sk = QuantileSketch.sketch(docs, "n_chars", binWidth = 64L, maxValue = 8191L)
    assert(sk.count() <= 8191L / 64L + 1L)
    assert(sk.filter(col("cnt") <= 0).count() === 0L)
  }

  test("quantile sketch merges losslessly: merge(parts) == sketch(whole)") {
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val whole = canon(QuantileSketch.sketch(docs, "n_chars", 64L, 8191L))
    val merged = canon(QuantileSketch.merge(
      QuantileSketch.sketch(a, "n_chars", 64L, 8191L),
      QuantileSketch.sketch(b, "n_chars", 64L, 8191L)))
    assert(merged == whole)
  }

  test("grouped quantiles equal per-group global quantiles") {
    import spark.implicits._
    val df = (0 until 600).map(i =>
      (if (i % 3 == 0) "a" else "b", (i * 37) % 500)).toDF("g", "v")
    val got = graft.sketch.QuantileSketch.groupedQuantiles(
      df, "g", "v", pcts = Seq(10, 50, 90), binWidth = 16L, maxValue = 511L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    for (g <- Seq("a", "b")) {
      val want = graft.sketch.QuantileSketch.valueQuantiles(
        df.filter(col("g") === g), "v", Seq(10, 50, 90), 16L, 511L)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      for ((p, t) <- want)
        assert(got((g, p)) == t, s"group $g pct $p: ${got((g, p))} vs $t")
    }
    assert(got.size == 6)
  }

  test("values beyond maxValue clamp into the top cell") {
    import spark.implicits._
    val df = Seq(5L, 100L, 999999L, 1000000L).toDF("v")
    val q = QuantileSketch.valueQuantiles(df, "v",
      pcts = Seq(99), binWidth = 10L, maxValue = 99L).collect()(0)
    // 99th pct is the clamped top cell [90, 99]
    assert(q.getLong(1) === 90L && q.getLong(2) === 99L)
  }

  test("clipByQuantiles drops tails, keeps the band, cell-edge conservative") {
    import spark.implicits._
    // 1000 values in [100, 199] plus planted extreme tails
    val vals = (0L until 1000L).map(i => (i, 100L + i % 100)) ++
      Seq((2000L, 5L), (2001L, 7L), (2002L, 9000L), (2003L, 9999L))
    val df = vals.toDF("id", "v")
    val kept = graft.sketch.QuantileSketch.clipByQuantiles(
        df, "v", loPct = 1, hiPct = 99, binWidth = 16L, maxValue = 16383L)
      .collect().map(_.getLong(0)).toSet
    // the low tail (5, 7) sits below the p1 cell and the high tail
    // (9000, 9999) above the p99 cell; the [100, 199] band survives
    assert((0L until 1000L).forall(kept.contains), "the body must survive")
    assert(!kept.contains(2000L) && !kept.contains(2001L), "low tail clipped")
    assert(!kept.contains(2002L) && !kept.contains(2003L), "high tail clipped")
    // conservative contract: anything sharing the p1/p99 CELL survives —
    // the cut is at cell edges, never inside a cell
    val bounds = graft.sketch.QuantileSketch.valueQuantiles(
        df, "v", Seq(1, 99), 16L, 16383L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bounds(1L)._1 % 16 == 0 && (bounds(99L)._2 + 1) % 16 == 0)
  }

  test("bucket expression matches a direct xxhash64 multiply-shift") {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val tok = "lineitem"
    val got = CmsBucketsExpr.buckets(UTF8String.fromString(tok), 8)
    val h = XxHash64Function.hash(UTF8String.fromString(tok), StringType, 42L)
    CmsBucketsExpr.Multipliers.zipWithIndex.foreach { case (a, r) =>
      assert(got.getLong(r) === ((h * a) >>> 56))
      assert(got.getLong(r) >= 0L && got.getLong(r) < 256L)
    }
  }
}
