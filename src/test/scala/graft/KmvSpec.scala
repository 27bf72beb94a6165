package graft

import graft.sketch.Kmv
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KmvSpec extends AnyFunSuite with SparkTestBase {

  test("KMV: exact below k, within the 1/sqrt(k) envelope above it") {
    import spark.implicits._
    val small = (1L to 100L).map(i => Tuple1(i)).toDF("v")
    val hsS = Kmv.kmvHashes(small, "v")
    val eS = Kmv.kmvEstimate(Kmv.kmvSketch(hsS, 512), 512).head()
    assert(eS.getLong(0) == 100 && eS.getLong(2) == 100,
      s"below k the sketch IS the distinct set: $eS")

    val big = (1L to 50000L).map(i => Tuple1(i)).toDF("v")
    val hsB = Kmv.kmvHashes(big, "v")
    val eB = Kmv.kmvEstimate(Kmv.kmvSketch(hsB, 512), 512).head()
    val est = eB.getLong(2)
    // 4 standard errors at 1/sqrt(512) ~ 4.4% each
    assert(math.abs(est - 50000L) < 50000L * 0.18,
      s"estimate $est too far from 50000")
  }

  test("bucket-min sketch: streaming over 3 micro-batches equals the " +
    "batch sketch (min is associative and duplicate-immune)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kmv_stream").toString
    val src = s"$dir/src"
    // 3 files with overlapping values — duplicates must not move minima
    (0 until 3).foreach { i =>
      (i * 600L until i * 600L + 900L).map(Tuple1(_)).toDF("v")
        .coalesce(1).write.mode("append").parquet(src)
    }
    val batchDf = spark.read.parquet(src)
    val expected = Kmv.bucketMinSketch(Kmv.kmvHashes(batchDf, "v"), 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val upd = graft.streaming.StreamingOps.runUpdateToParquetSink(
      spark.readStream.schema(batchDf.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .select(Kmv.kmvHashCol(col("v")).as("h"))
        .groupBy((col("h") % 32).as("bucket")).agg(min(col("h")).as("min_h")),
      s"$dir/sink", Seq("bucket"))
    val got = upd.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"streaming minima diverge: ${got.size} vs ${expected.size} buckets")
  }

  test("KMV merge of shard sketches equals the whole-corpus sketch (lossless)") {
    import spark.implicits._
    val df = (1L to 30000L).map(i => Tuple1(i)).toDF("v")
    val hs = Kmv.kmvHashes(df, "v").persist()
    val direct = Kmv.kmvSketch(hs, 256).collect().map(_.getLong(0)).toSet
    // 3-way shard split by value range (disjoint corpora)
    val shards = Seq(
      hs.filter(col("h") % 3 === 0), hs.filter(col("h") % 3 === 1),
      hs.filter(col("h") % 3 === 2)).map(Kmv.kmvSketch(_, 256))
    val merged = Kmv.kmvMerge(shards, 256).collect().map(_.getLong(0)).toSet
    assert(merged == direct, s"merge must be lossless: " +
      s"${merged.size} vs ${direct.size} rows")
    hs.unpersist()
  }
}
