package graft.ops

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism floor for compute-heavy operator inputs.
  *
  * Why this exists (r16 optimization round): a parquet file is split at
  * ROW-GROUP boundaries, so a table written as one row group is ONE scan
  * task no matter how many cores exist — and every per-row expression
  * that rides the scan stage (tokenization, shingling, minhash/simhash,
  * BPE encode, KN scoring) then runs single-threaded. At sf0.1 every
  * base table is a single-row-group file, which serialized the whole
  * scan-side compute of the bench on a 32-core box (measured: the
  * all-pairs kNN dropped 3.8 → 0.7 s when its anchor side was spread).
  *
  * [[spreadIfNarrow]] inserts a round-robin repartition to the cluster's
  * `defaultParallelism` ONLY when the input's leaf relations are smaller
  * than `defaultParallelism × spark.sql.files.maxPartitionBytes` — i.e.
  * when the scan cannot possibly yield one task per core. The decision
  * reads optimizer STATISTICS (no job, no plan execution); at production
  * scale (TB-sized inputs) the condition is false and the operator keeps
  * its shuffle-free scan — this is a parallelism FLOOR derived from input
  * size, never a constant tuned for local mode. Row placement changes;
  * every caller computes placement-independent results (pair sets,
  * grouped aggregates, per-row scores), which the oracle board pins.
  */
object Parallelism {

  /** Volume-derived session shuffle-partition default (r17, guide §2.2
    * "fewer, larger reduce partitions" / task brief "derive partitioning
    * from input size"): `clamp(ceil(inputBytes / 4 MB), 4, 4 × cpus)`.
    *
    * Why: `shuffle.partitions = cpus` fragments KB-scale shuffles into
    * `cpus` partitions — the partial-agg state of every word-keyed
    * aggregation replicates per partition, every one of an iterative
    * query's many small jobs pays `cpus` task dispatches, and the suite
    * measured FASTER at 8 cores than 32 purely from the narrower
    * shuffles (r16 verdict item 3). Measured at sf0.1/local[32]: 4-wide
    * shuffles at 32 cores beat both 32-wide at 32 cores and 8-wide at 8
    * cores (OPTIMIZATION_r17 "anti-scaling" table; full suite
    * 253 → 221 s). The formula tracks DATA VOLUME, never the core count:
    * at production volumes it saturates at 4× cluster width (the
    * standard 2–4× guidance) long before 1 TB, and AQE coalescing
    * handles the per-query remainder. The 4 MB target is the knob a
    * deployment sizes to its storage/compression ratio (parquet bytes
    * under-represent in-flight row bytes by ~10×, so 4 MB of input ≈
    * tens of MB of the widest intermediate per partition).
    */
  def derivedShufflePartitions(inputDir: String, cpus: Int): Int =
    widthForBytes(inputBytes(Seq(inputDir), new Configuration()), 4 * math.max(cpus, 1))

  /** The rule itself: `clamp(ceil(bytes / 4 MB), 4, maxWidth)`, for
    * `maxWidth >= 4`. */
  def widthForBytes(bytes: Long, maxWidth: Int): Int = {
    val targetBytes = 4L << 20
    val byVolume = (bytes + targetBytes - 1) / targetBytes
    math.min(math.max(byVolume, 4L), maxWidth.toLong).toInt
  }

  /** Total bytes under `inputs` — plain paths, URIs (`file:`, `hdfs://`,
    * `s3a://`, ...) or globs, each resolved through its Hadoop FileSystem
    * the way the reader resolves it. A path that matches nothing counts 0
    * (the read then fails by name); any other listing error propagates.
    * The local file system is measured raw, so every file counts, checksum
    * files included.
    */
  def inputBytes(inputs: Seq[String], conf: Configuration): Long =
    inputs.map { input =>
      val path = new Path(input)
      val fs = path.getFileSystem(conf) match {
        case local: LocalFileSystem => local.getRaw
        case other => other
      }
      Option(fs.globStatus(path)).toSeq.flatten
        .map(st => fs.getContentSummary(st.getPath).getLength).sum
    }.sum

  def spreadIfNarrow(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    // NonFatal only (r16 ADVICE): a blanket Throwable catch would swallow
    // InterruptedException/fatal errors and silently mask a real planning
    // bug as "don't spread"
    val leafBytes =
      try df.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).sum
      catch { case scala.util.control.NonFatal(_) => return df }
    if (leafBytes < BigInt(target) * maxPartitionBytes) df.repartition(target)
    else df
  }
}
