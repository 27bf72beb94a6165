package graft

import graft.sketch.{Hll, Kmv}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HllSpec extends AnyFunSuite with SparkTestBase {

  private val P = 10
  private val M = 1L << P

  test("HLL: linear-counting branch below ~2.5m, raw branch above, both " +
    "inside the sketch's error envelope") {
    import spark.implicits._
    val small = (1L to 300L).map(Tuple1(_)).toDF("v")
    val eS = Hll.hllEstimate(
      Hll.hllRegisters(spark, Kmv.kmvHashes(small, "v"), P), P).head()
    val (estS, rawS) = (eS.getAs[Long]("est_distinct"), eS.getAs[Long]("est_raw"))
    assert(eS.getAs[Long]("n_zero") > 0 && estS != rawS,
      s"n=300 must take the linear-counting branch: $eS")
    assert(math.abs(estS - 300L) < 30L, s"LC estimate $estS too far from 300")

    val big = (1L to 100000L).map(Tuple1(_)).toDF("v")
    val eB = Hll.hllEstimate(
      Hll.hllRegisters(spark, Kmv.kmvHashes(big, "v"), P), P).head()
    val (estB, rawB) = (eB.getAs[Long]("est_distinct"), eB.getAs[Long]("est_raw"))
    assert(estB == rawB, s"n=100000 must take the raw branch: $eB")
    // 4 standard errors at 1.04/sqrt(1024) = 3.25% each
    assert(math.abs(estB - 100000L) < 100000L * 0.13,
      s"raw estimate $estB too far from 100000")
  }

  test("HLL register table always has exactly m rows (empty buckets " +
    "materialized as 0)") {
    import spark.implicits._
    val tiny = (1L to 5L).map(Tuple1(_)).toDF("v")
    val regs = Hll.hllRegisters(spark, Kmv.kmvHashes(tiny, "v"), P)
    assert(regs.count() == M)
    assert(regs.filter(col("register") === 0).count() >= M - 5)
  }

  test("HLL merge of shard registers equals the whole-corpus registers " +
    "(max-merge is lossless, even across overlapping shards)") {
    import spark.implicits._
    val df = (1L to 30000L).map(Tuple1(_)).toDF("v")
    val hs = Kmv.kmvHashes(df, "v").persist()
    val direct = Hll.hllRegisters(spark, hs, P)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 shards WITH overlap — re-observed values can't raise a max
    val shards = Seq(
      hs.filter(col("h") % 3 === 0 || col("h") % 2 === 0),
      hs.filter(col("h") % 3 === 1),
      hs.filter(col("h") % 3 === 2))
    val merged = Hll.hllMerge(shards.map(Hll.hllRegisters(spark, _, P)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    hs.unpersist()
    assert(merged == direct, "max-merged shard registers diverge from direct")
  }

  test("grouped HLL estimates equal per-group global estimates") {
    import spark.implicits._
    val df = (1L to 30000L).map(i => (s"g${i % 3}", i)).toDF("grp", "v")
    val grouped = Hll.hllGroupedEstimates(spark, df, "grp", "v", P)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("est_distinct")).toMap
    val expected = (0 until 3).map { g =>
      val sub = df.filter(col("grp") === s"g$g").select(col("v"))
      s"g$g" -> Hll.hllEstimate(
        Hll.hllRegisters(spark, Kmv.kmvHashes(sub, "v"), P), P)
        .head().getAs[Long]("est_distinct")
    }.toMap
    assert(grouped == expected, s"$grouped vs $expected")
  }

  test("streaming HLL registers over 3 micro-batches equal the batch " +
    "registers (max is associative and duplicate-immune)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hll_stream").toString
    val src = s"$dir/src"
    // 3 files with overlapping values — duplicates must not raise a max
    (0 until 3).foreach { i =>
      (i * 600L until i * 600L + 900L).map(Tuple1(_)).toDF("v")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val batchDf = spark.read.parquet(src)
    val expected = Hll.hllRegisters(spark, Kmv.kmvHashes(batchDf, "v"), P)
      .filter(col("register") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val upd = graft.streaming.StreamingOps.runUpdateToParquetSink(
      graft.streaming.StreamingOps.streamingHllRegisters(
        spark, src, batchDf, "v", P,
        sourceOptions = Map("maxFilesPerTrigger" -> "1")),
      s"$dir/sink", Seq("bucket"))
    val got = upd.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"streaming registers diverge: ${got.size} vs ${expected.size} buckets")
  }
}
