package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout helpers for the 100 TB deployment: bucket the big fact
  * relations by their join keys so the hot joins (occurrence existence
  * semi-join, shingle co-occurrence) read pre-partitioned data and skip
  * the shuffle on the large side entirely.
  *
  * Bucketing is the one optimization that cannot be retrofitted at query
  * time — it is decided when the table is written. The engine's join keys
  * are stable (taxonKey for occurrence, key for backbone), so dimension
  * and fact tables written through these helpers give every downstream
  * existence/lineage join a shuffle-free large side; AQE still picks the
  * small-side strategy.
  */
object Layout {

  /** Write the occurrence relation bucketed+sorted by taxonKey. */
  def writeBucketedOccurrence(occ: DataFrame, table: String,
      buckets: Int = 256): Unit =
    occ.write.mode("overwrite")
      .bucketBy(buckets, "taxonKey")
      .sortBy("taxonKey")
      .format("parquet")
      .saveAsTable(table)

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  private val BitsPerDim = 31

  /** Morton (Z-order) key of two non-negative integer columns: bit i of
    * each key lands at interleaved positions 2i / 2i+1, so sorting by the
    * key clusters rows that are close in BOTH dimensions — the layout
    * that makes min/max file statistics selective for 2-D range
    * predicates (lat/lon tiles, (user, day) slices). Each input
    * contributes its low [[BitsPerDim]] = 31 bits (the interleaved result
    * stays in the positive BIGINT range at 62 bits).
    *
    * A pure bitwise scan expression — shift/and/or only, no hash, no
    * shuffle — identical in any engine, so the key (and therefore the
    * layout) is reproducible ([[zorderKeySql]]).
    */
  def zorderKey(x: Column, y: Column): Column =
    (0 until BitsPerDim).map { i =>
      val xb = shiftleft(shiftrightunsigned(x.cast("long"), i).bitwiseAND(lit(1L)),
        2 * i)
      val yb = shiftleft(shiftrightunsigned(y.cast("long"), i).bitwiseAND(lit(1L)),
        2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)

  /** DuckDB twin of [[zorderKey]] (same shifts, same OR-fold). */
  def zorderKeySql(x: String, y: String): String =
    (0 until BitsPerDim).map { i =>
      s"(((CAST($x AS BIGINT) >> $i) & 1) << ${2 * i}) | " +
        s"(((CAST($y AS BIGINT) >> $i) & 1) << ${2 * i + 1})"
    }.map(t => s"($t)").mkString(" | ")

  /** Sort a relation by the Z-order key of two dimensions before writing —
    * the write-time clustering step of a 100 TB layout job. The sort is
    * Spark's standard range-partitioned global sort (sampled boundaries,
    * per-partition sort — no single-partition funnel); downstream scans
    * with predicates on EITHER dimension skip files via parquet min/max
    * stats, which plain single-column sorting only provides for one
    * dimension.
    */
  def zorderBy(df: DataFrame, x: Column, y: Column): DataFrame =
    df.withColumn("_graft_zkey", zorderKey(x, y))
      .orderBy(col("_graft_zkey"))
      .drop("_graft_zkey")

  /** SMALL-FILE COMPACTION (the `OPTIMIZE` table-maintenance op): rewrite
    * a relation as `ceil(n / rowsPerFile)` files of exactly `rowsPerFile`
    * rows each (last file takes the remainder), in the deterministic
    * global (md5(key), key) order — the fix for the many-tiny-files
    * state every streaming sink and over-parallel write accumulates,
    * which at 100 TB throttles scans on file-open overhead and NameNode
    * metadata pressure.
    *
    * Shard assignment is [[graft.ops.Sampling.withGlobalPosition]]'s
    * contiguous position DIV `rowsPerFile` (never a one-partition
    * window), shards co-locate via one hash repartition on the shard id
    * (every shard's rows land in exactly one task → exactly one file per
    * shard), and the write is a partitioned layout keyed by shard.
    * Returns the READ-BACK audit — one row
    * `(n_files, n_rows, max_per_file, min_per_file)` computed from
    * `input_file_name()` over the compacted output, so the gate checks
    * what actually landed on disk, not the intended arithmetic.
    */
  def compactByRows(df: DataFrame, keyCol: String, rowsPerFile: Long,
      outPath: String): DataFrame = {
    require(rowsPerFile >= 1)
    val spark = df.sparkSession
    graft.ops.Sampling.withGlobalPosition(df, keyCol)
      .withColumn("_graft_shard", expr(s"position DIV ${rowsPerFile}L"))
      .drop("position")
      .repartition(col("_graft_shard"))
      .write.mode("overwrite").partitionBy("_graft_shard").parquet(outPath)
    val perFile = spark.read.parquet(outPath)
      .groupBy(input_file_name().as("_f"))
      .agg(count(lit(1)).as("_rows"))
    perFile.agg(count(lit(1)).as("n_files"),
      sum(col("_rows")).as("n_rows"),
      max(col("_rows")).as("max_per_file"),
      min(col("_rows")).as("min_per_file"))
  }

  /** ZONE-MAP FILE-SKIPPING AUDIT: the quantified answer to "what does
    * clustering buy this predicate" — write the SAME rows under two
    * layouts (clustered: global `(valueCol, keyCol)` order; arrival:
    * the deterministic `(md5(key), key)` shuffle order), equal-size
    * files each, then read per-file `(min, max)` of `valueCol` BACK
    * FROM DISK (`input_file_name()` — what actually landed, not the
    * intended arithmetic, the [[compactByRows]] convention) and count
    * the files a `BETWEEN lo AND hi` scan skips (`max < lo OR min >
    * hi` — exactly the parquet row-group / Delta file-stat pruning
    * rule). Two rows out: `(layout, n_files, n_skipped, rows_scanned)`.
    *
    * At 100 TB this ratio IS the scan bill: zone maps prune for free
    * when the layout clusters the predicate column and prune nothing
    * under arrival order — the audit turns that folklore into a number
    * for THIS table and THIS predicate before anyone pays for the
    * rewrite. Both layouts position rows with the bucket-offset cumsum
    * ([[graft.ops.Sampling.withGlobalPositionByValue]] /
    * `withGlobalPosition`), never a one-partition window, and shards
    * co-locate via one hash repartition — the [[compactByRows]] write
    * shape.
    */
  def zoneMapSkipAudit(df: DataFrame, keyCol: String, valueCol: String,
      maxValue: Long, rowsPerFile: Long, lo: Long, hi: Long,
      outRoot: String): DataFrame = {
    require(rowsPerFile >= 1 && lo <= hi)
    val spark = df.sparkSession
    def writeOne(layout: String, positioned: DataFrame): String = {
      val path = s"$outRoot/$layout"
      positioned
        .withColumn("_graft_shard", expr(s"position DIV ${rowsPerFile}L"))
        .drop("position")
        .repartition(col("_graft_shard"))
        .write.mode("overwrite").partitionBy("_graft_shard").parquet(path)
      path
    }
    def statsOne(layout: String, path: String): DataFrame = {
      val skip = col("_mx") < lo || col("_mn") > hi
      spark.read.parquet(path)
        .groupBy(input_file_name().as("_f"))
        .agg(min(col(valueCol)).as("_mn"), max(col(valueCol)).as("_mx"),
          count(lit(1)).as("_rows"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(skip, 1L).otherwise(0L)).as("n_skipped"),
          sum(when(skip, 0L).otherwise(col("_rows"))).as("rows_scanned"))
        .select(lit(layout).as("layout"), col("n_files"), col("n_skipped"),
          col("rows_scanned"))
    }
    // the two layout writes are INDEPENDENT jobs over disjoint output
    // directories: submit them from two threads so the second write's
    // tasks back-fill the first's straggler/file-commit tail (guide
    // §2.6 — actions are only sequential because the driver calls them
    // sequentially). Each write is deterministic and lands in its own
    // dir, so concurrency cannot change the audited result; the lazy
    // read-back stats stay a single union job as before.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val writes = Seq(
      "clustered" -> Future(writeOne("clustered",
        graft.ops.Sampling.withGlobalPositionByValue(
          df, keyCol, valueCol, maxValue))),
      "arrival" -> Future(writeOne("arrival",
        graft.ops.Sampling.withGlobalPosition(df, keyCol))))
    // await BOTH writes before rethrowing the first failure (r16 ADVICE):
    // failing out of the first await would leave the sibling write job
    // running detached while the caller unwinds
    val awaited = writes.map { case (layout, f) =>
      layout -> scala.util.Try(Await.result(f, Duration.Inf)) }
    awaited.map { case (layout, t) => statsOne(layout, t.get) }
      .reduce(_.unionByName(_))
  }

  /** DuckDB twin of [[zoneMapSkipAudit]] over `documents`: replays the
    * two position rules, the shard arithmetic, and the skip predicate —
    * equality with the Spark side proves the on-disk files hold exactly
    * the planned shards. */
  def zoneMapSkipAuditSql(valueCol: String,
      rowsPerFile: Long, lo: Long, hi: Long): String = {
    // no maxValue here: the bucket-offset positioning composes to
    // exactly the (value, key) total order, which the oracle replays
    // directly — the bucket width is an implementation detail of the
    // Spark side's scalable rank, not of the result
    def arm(layout: String, order: String) =
      s"""SELECT '$layout' AS layout, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(CASE WHEN mx < $lo OR mn > $hi THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_skipped,
         |  CAST(sum(CASE WHEN mx < $lo OR mn > $hi THEN 0 ELSE r END) AS BIGINT)
         |    AS rows_scanned
         |FROM (
         |  SELECT p // $rowsPerFile AS f, min($valueCol) AS mn,
         |    max($valueCol) AS mx, CAST(count(*) AS BIGINT) AS r
         |  FROM (SELECT $valueCol,
         |          row_number() OVER (ORDER BY $order) - 1 AS p
         |        FROM documents)
         |  GROUP BY 1)""".stripMargin
    // the clustered rank orders by (value, key) — the bucket-offset
    // cumsum + within-band rank composes to exactly this total order
    arm("clustered", s"$valueCol, doc_id") + "\nUNION ALL\n" +
      arm("arrival", "md5(CAST(doc_id AS VARCHAR)), doc_id")
  }

  /** Parquet schema evolution on read: write two dataset generations —
    * the later one carrying columns the earlier one lacks — then read
    * them as ONE relation with `mergeSchema`, the lakehouse
    * add-a-column-without-rewriting contract (a corpus that gains a
    * `lang`/`quality` column mid-life must stay queryable across the
    * whole history; rewriting 100 TB of v1 files to add a null column
    * is not an option). Old-generation rows surface the new columns as
    * NULL — exactly the semantics the unified query plans against.
    *
    * Merge cost note: `mergeSchema` reconciles footers at planning time
    * (one footer read per file — cheap next to the data scan, but list
    * it once: at millions of files pin the merged schema in a metastore
    * or pass `schema(...)` explicitly instead of re-merging per query).
    */
  def schemaEvolvedRead(v1: DataFrame, v2: DataFrame,
      outPath: String): DataFrame = {
    val spark = v1.sparkSession
    v1.write.mode("overwrite").parquet(s"$outPath/gen1")
    v2.write.mode("overwrite").parquet(s"$outPath/gen2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$outPath/gen1", s"$outPath/gen2")
  }
}
