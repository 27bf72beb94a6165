package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** Schema-adaptation guards for [[DerivedModel]]: the driver has shipped
  * `events.ts` as TIMESTAMP(NANOS) (read as long under
  * `nanosAsLong=true`), as TIMESTAMP_NTZ(micros), and could ship plain
  * TIMESTAMP — [[DerivedModel.events]] must normalize all three to a
  * TIMESTAMP column with identical instants (round 7 lost 18 queries to
  * exactly this: a regenerated testdata drop changed the physical type
  * and the unconditional nanos conversion failed analysis).
  */
class DerivedModelSpec extends AnyFunSuite with SparkTestBase {

  test("events normalizes long-nanos ts to the same instants as timestamps") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_schema").toString
    val microsOfRow = Seq(1700000000000000L, 1700000123456789L, 1700009999999999L)
    // long-nanos generation (what nanosAsLong=true yields for NANOS parquet)
    microsOfRow.zipWithIndex
      .map { case (us, i) => (i.toLong, us * 1000L, i.toLong, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val viaNanos = DerivedModel.events(spark, dir)
    assert(viaNanos.schema("ts").dataType == TimestampType)
    val gotNanos = viaNanos.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(gotNanos == microsOfRow)

    // timestamp generation (covers both NTZ-cast and native TIMESTAMP:
    // under the UTC session the micros are identical)
    microsOfRow.zipWithIndex
      .map { case (us, i) => (i.toLong, us, i.toLong, "click", 1.0, "{}") }
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val viaTs = DerivedModel.events(spark, dir)
    assert(viaTs.schema("ts").dataType == TimestampType)
    val gotTs = viaTs.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(gotTs == microsOfRow)
  }

  test("live testdata events reads as TIMESTAMP at every sf") {
    Seq("sf0.001", "sf0.01").foreach { sf =>
      val ev = DerivedModel.events(spark, s"/root/testdata/$sf")
      assert(ev.schema("ts").dataType == TimestampType, sf)
      assert(ev.limit(1).count() == 1L, sf)
    }
  }

  test("a third events schema generation fails fast at the read site") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_bad").toString
    Seq((0L, "2024-01-01 00:00:00", 1L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[RuntimeException] { DerivedModel.events(spark, dir) }
    assert(e.getMessage.contains("unexpected type"),
      s"fail-fast message should name the type, got: ${e.getMessage}")
  }

  /** r8 verdict item 7 (write side): the WATERMARK path — events through
    * [[graft.streaming.StreamingOps.writeFiniteSource]], re-read as a
    * stream, watermarked-windowed, append-flushed — must produce the
    * batch twin's rows for BOTH shipped schema generations, so the next
    * driver testdata regeneration cannot silently break the streaming
    * gates again.
    */
  test("writeFiniteSource round-trips both schema generations through the watermark path") {
    import spark.implicits._
    import graft.streaming.StreamingOps
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_rt").toString
    val base = 1700000000000000L // 2023-11-14 22:13:20 UTC
    val rows = (0 until 200).map { i =>
      (i.toLong, base + i * 97L * 1000000L, (i % 7).toLong,
        if (i % 3 == 0) "click" else "view", i / 10.0, "{}")
    }
    def run(gen: String): Seq[(Long, String, Long, Long)] = {
      if (gen == "nanos")
        rows.map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
      else {
        // "ntz" writes genuine TIMESTAMP_NTZ parquet (isAdjustedToUTC =
        // false — the r7 regen's physical type); "ts" native TIMESTAMP
        val tsCol =
          if (gen == "ntz") timestamp_micros(col("us")).cast("timestamp_ntz")
          else timestamp_micros(col("us"))
        rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
          .withColumn("ts", tsCol).drop("us")
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
      }
      val ev = DerivedModel.events(spark, dir)
      val root = s"$dir/src_$gen"
      StreamingOps.writeFiniteSource(ev, root)
      val src = spark.read.parquet(root)
      assert(src.schema("ts").dataType == TimestampType, gen)
      StreamingOps.runToParquetSink(
        StreamingOps.streamingWindowedEventStats(spark, root, src),
        s"$dir/sink_$gen")
        .filter(!(col("event_type") <=> StreamingOps.SentinelEventType))
        .select(unix_micros(col("window_start")), col("event_type"),
          col("n_events"), col("value_cents"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    }
    val viaNanos = run("nanos")
    val viaNtz = run("ntz")
    val viaTs = run("ts")
    val batch = graft.streaming.StreamingOps
      .windowedEventStats(DerivedModel.events(spark, dir))
      .select(unix_micros(col("window_start")), col("event_type"),
        col("n_events"), col("value_cents"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(viaNanos.nonEmpty)
    assert(viaNanos == batch, "nanos-generation streaming != batch twin")
    assert(viaNtz == batch, "ntz-generation streaming != batch twin")
    assert(viaTs == batch, "timestamp-generation streaming != batch twin")
  }
}
