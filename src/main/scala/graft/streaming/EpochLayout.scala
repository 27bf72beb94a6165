package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance for the RETRY-SAFE batchId-keyed sink layout (the two
  * `foreachBatch` sinks of [[StreamingOps]]): one `batch=<id>` directory
  * per epoch per sink absorbs at-least-once replays by overwrite, but the
  * directory count grows without bound at production stream lifetimes
  * (epochs × shuffle-partition part files — at one epoch/minute and 32
  * partitions that is ~1.4M files/month/sink, which kills file listing
  * long before it kills storage). [[compactEpochSink]] folds CLOSED
  * epochs into a single `merged=<upTo>` directory under a crash-safe
  * marker protocol; [[readEpochSink]] is the marker-aware read-back.
  *
  * Layout of a sink root after k compactions:
  * {{{
  *   <sinkRoot>/_graft_compacted_upto   # marker file: the commit point
  *   <sinkRoot>/merged=<upTo>/part-*    # all epochs with id <= upTo
  *   <sinkRoot>/batch=<id>/part-*       # live epochs, id > upTo only
  * }}}
  *
  * CRASH SAFETY — the marker file is the single commit point:
  *   1. merged data is written to `_compact_tmp` (underscore prefix:
  *      hidden from Spark file listings, and [[readEpochSink]] reads an
  *      explicit path list anyway);
  *   2. the tmp dir is renamed to `merged=<upTo>` — still invisible,
  *      because readers only consult `merged=<marker>`;
  *   3. the marker is replaced by an atomic overwriting rename of a
  *      freshly written temp file — the one instant the reader's view
  *      switches;
  *   4. absorbed inputs (the old merged dir and the folded `batch=` dirs)
  *      are garbage-collected.
  * A crash before (3) leaves the reader on the old view (stale tmp/orphan
  * dirs are invisible and cleaned by the next run); a crash after (3)
  * leaves stale inputs the reader already EXCLUDES by id (and the next
  * run deletes). Re-running compaction is always safe and idempotent.
  *
  * REPLAY AFTER COMPACTION: a replayed epoch with id <= marker is
  * ABSORBED — [[StreamingOps]] skips the write (its rows are already
  * inside the merged dir), and even an unskipped write
  * would be invisible because [[readEpochSink]] ignores `batch=` dirs at
  * or below the marker. Compaction itself must only cover CLOSED epochs:
  * run it between `Trigger.AvailableNow` runs (the re-staging cadence
  * every staged artifact here follows), never concurrently with a live
  * query writing the same sink.
  *
  * The sink root may be a plain path or a URI (`file:`, `hdfs://`,
  * `s3a://`, ...): every listing, read, rename and delete goes through
  * the root's Hadoop FileSystem, as [[graft.ops.Parallelism.inputBytes]]
  * does.
  *
  * At 100 TB this is the file-compaction half of what table formats
  * (Delta/Iceberg) provide transactionally; on a plain object store the
  * marker protocol above is the standard single-writer commit pattern.
  */
object EpochLayout {

  val MarkerName = "_graft_compacted_upto"

  /** What one [[compactEpochSink]] run did (None = nothing to fold). */
  final case class CompactionReport(upTo: Long, mergedEpochs: Int,
      filesBefore: Long, filesAfter: Long)

  /** The root's file system and the root qualified on it. The local file
    * system is used raw: no checksum side files, and its rename is the
    * POSIX one, which replaces an existing target atomically. Also how
    * [[StreamingOps]] clears a sink root before a fresh run.
    */
  private[streaming] def resolve(spark: SparkSession, root: String): (FileSystem, Path) = {
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case local: LocalFileSystem => local.getRaw
      case other => other
    }
    (fs, fs.makeQualified(path))
  }

  /** `p`'s status, None when it does not exist; any other listing
    * error propagates (a store that cannot be read is not an empty sink). */
  private def status(fs: FileSystem, p: Path): Option[FileStatus] =
    try Some(fs.getFileStatus(p))
    catch { case _: FileNotFoundException => None }

  private def isDir(fs: FileSystem, p: Path): Boolean =
    status(fs, p).exists(_.isDirectory)

  /** The committed compaction horizon, if any. */
  def compactedUpTo(spark: SparkSession, sinkRoot: String): Option[Long] = {
    val (fs, root) = resolve(spark, sinkRoot)
    val marker = new Path(root, MarkerName)
    if (!status(fs, marker).exists(_.isFile)) None
    else {
      val in = fs.open(marker)
      try scala.util.Try(new String(in.readAllBytes(), StandardCharsets.UTF_8)
        .trim.toLong).toOption
      finally in.close()
    }
  }

  private def subDirs(fs: FileSystem, root: Path,
      prefix: String): Seq[(Long, Path)] =
    if (!isDir(fs, root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix(prefix).toLong).toOption.map(_ -> st.getPath))

  /** Live (not-yet-compacted) epoch directories. */
  def liveEpochDirs(spark: SparkSession, sinkRoot: String): Seq[(Long, Path)] = {
    val (fs, root) = resolve(spark, sinkRoot)
    val upTo = compactedUpTo(spark, sinkRoot)
    subDirs(fs, root, "batch=").filter { case (id, _) => upTo.forall(id > _) }
  }

  /** Data files (non-hidden, recursive) under a directory — the file
    * count the compaction exists to shrink.
    */
  def dataFileCount(spark: SparkSession, dir: String): Long = {
    val (fs, root) = resolve(spark, dir)
    def walk(p: Path): Long =
      fs.listStatus(p).toSeq.map { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) 0L
        else if (st.isDirectory) walk(st.getPath)
        else 1L
      }.sum
    if (isDir(fs, root)) walk(root) else 0L
  }

  /** Marker-aware read-back of an epoch sink: the committed merged dir
    * (if any) plus every live epoch dir. Stale `batch=` dirs at or below
    * the marker, orphan merged dirs from a crashed compaction, and
    * `_`-prefixed temp dirs are all excluded by construction — the
    * reader consults an EXPLICIT path list, never a recursive listing of
    * the root. Returns `emptyLike.limit(0)` when no epoch has ever been
    * written (the zero-epoch source case).
    */
  def readEpochSink(spark: SparkSession, sinkRoot: String,
      emptyLike: => DataFrame): DataFrame = {
    val (fs, root) = resolve(spark, sinkRoot)
    val merged = compactedUpTo(spark, sinkRoot)
      .map(u => new Path(root, s"merged=$u"))
      .filter(isDir(fs, _))
    val paths = (merged.toSeq ++ liveEpochDirs(spark, sinkRoot).map(_._2))
      .map(_.toString)
    if (paths.isEmpty) emptyLike.limit(0)
    else spark.read.option("recursiveFileLookup", "true")
      .parquet(paths: _*)
  }

  /** Fold every closed epoch present into one `merged=<upTo>` directory
    * of one file (`upTo` = the highest epoch id folded), commit
    * via the marker, and GC the absorbed inputs. Returns None when there
    * is nothing to fold. The relation [[readEpochSink]] returns is
    * IDENTICAL before and after (spec-pinned by count + content); only
    * the file count changes.
    */
  def compactEpochSink(spark: SparkSession,
      sinkRoot: String): Option[CompactionReport] = {
    val (fs, root) = resolve(spark, sinkRoot)
    if (!isDir(fs, root)) return None
    val prior = compactedUpTo(spark, sinkRoot)
    val tmp = new Path(root, "_compact_tmp")
    // (0) GC leftovers of any earlier run: temp dirs, orphan merged dirs
    // (committed marker != their id), and stale absorbed epochs a crash
    // left behind after the commit point
    fs.delete(tmp, true)
    subDirs(fs, root, "merged=").foreach { case (id, p) =>
      if (!prior.contains(id)) fs.delete(p, true)
    }
    subDirs(fs, root, "batch=").foreach { case (id, p) =>
      if (prior.exists(id <= _)) fs.delete(p, true)
    }
    val live = liveEpochDirs(spark, sinkRoot)
    val target = (live.map(_._1) ++ prior).foldLeft(Long.MinValue)(math.max)
    val toMerge = live.sortBy(_._1)
    if (toMerge.isEmpty) return None
    val inputs = prior.map(u => new Path(root, s"merged=$u")).toSeq ++
      toMerge.map(_._2)
    val filesBefore = inputs.map(p => dataFileCount(spark, p.toString)).sum
    // (1) write the fold to a hidden temp dir
    spark.read.option("recursiveFileLookup", "true")
      .parquet(inputs.map(_.toString): _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    // (2) rename into place — still invisible (marker not yet switched)
    val dst = new Path(root, s"merged=$target")
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new IOException(s"compactEpochSink: could not rename $tmp to $dst")
    // (3) COMMIT: atomically replace the marker
    val markerTmp = new Path(root, s".$MarkerName.tmp")
    val out = fs.create(markerTmp, true)
    try out.write(target.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    replaceAtomically(spark, fs, markerTmp, new Path(root, MarkerName))
    // (4) GC the absorbed inputs
    inputs.foreach(fs.delete(_, true))
    Some(CompactionReport(target, toMerge.size + prior.size,
      filesBefore, dataFileCount(spark, dst.toString)))
  }

  /** Rename `src` over `dst` in one step: the raw local file system's
    * rename is POSIX (replaces the target atomically); elsewhere the
    * FileContext overwriting rename, atomic on HDFS.
    */
  private def replaceAtomically(spark: SparkSession, fs: FileSystem,
      src: Path, dst: Path): Unit = fs match {
    case _: RawLocalFileSystem =>
      if (!fs.rename(src, dst))
        throw new IOException(s"compactEpochSink: could not rename $src to $dst")
    case _ => FileContext.getFileContext(fs.getUri, spark.sparkContext.hadoopConfiguration)
      .rename(src, dst, Options.Rename.OVERWRITE)
  }
}
