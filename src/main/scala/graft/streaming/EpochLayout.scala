package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Maintenance for the RETRY-SAFE batchId-keyed sink layout
  * ([[StreamingOps.writeValidatedBatch]]): one `batch=<id>` directory per
  * epoch per sink absorbs at-least-once replays by overwrite, but the
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
  *   3. the marker is replaced via an ATOMIC_MOVE of a freshly written
  *      temp file — the one instant the reader's view switches;
  *   4. absorbed inputs (the old merged dir and the folded `batch=` dirs)
  *      are garbage-collected.
  * A crash before (3) leaves the reader on the old view (stale tmp/orphan
  * dirs are invisible and cleaned by the next run); a crash after (3)
  * leaves stale inputs the reader already EXCLUDES by id (and the next
  * run deletes). Re-running compaction is always safe and idempotent.
  *
  * REPLAY AFTER COMPACTION: a replayed epoch with id <= marker is
  * ABSORBED — [[StreamingOps.writeValidatedBatch]] skips the write (its
  * rows are already inside the merged dir), and even an unskipped write
  * would be invisible because [[readEpochSink]] ignores `batch=` dirs at
  * or below the marker. Compaction itself must only cover CLOSED epochs:
  * run it between `Trigger.AvailableNow` runs (the re-staging cadence
  * every staged artifact here follows), never concurrently with a live
  * query writing the same sink.
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

  /** The committed compaction horizon, if any. */
  def compactedUpTo(sinkRoot: String): Option[Long] = {
    val f = new File(sinkRoot, MarkerName)
    if (!f.isFile) None
    else scala.util.Try(
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .trim.toLong).toOption
  }

  private def subDirs(sinkRoot: String, prefix: String): Seq[(Long, File)] =
    Option(new File(sinkRoot).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .flatMap(f => scala.util.Try(
        f.getName.stripPrefix(prefix).toLong).toOption.map(_ -> f))

  /** Live (not-yet-compacted) epoch directories. */
  def liveEpochDirs(sinkRoot: String): Seq[(Long, File)] = {
    val upTo = compactedUpTo(sinkRoot)
    subDirs(sinkRoot, "batch=").filter { case (id, _) =>
      upTo.forall(id > _)
    }
  }

  /** Data files (non-hidden, recursive) under a directory — the file
    * count the compaction exists to shrink.
    */
  def dataFileCount(dir: File): Long = {
    def walk(f: File): Long =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).map(walk).sum
      else 1L
    if (dir.exists()) walk(dir) else 0L
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
    val merged = compactedUpTo(sinkRoot)
      .map(u => new File(sinkRoot, s"merged=$u"))
      .filter(_.isDirectory)
    val paths = (merged.toSeq ++ liveEpochDirs(sinkRoot).map(_._2))
      .map(_.getAbsolutePath)
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
    val root = new File(sinkRoot)
    if (!root.isDirectory) return None
    val prior = compactedUpTo(sinkRoot)
    // (0) GC leftovers of any earlier run: temp dirs, orphan merged dirs
    // (committed marker != their id), and stale absorbed epochs a crash
    // left behind after the commit point
    deleteRecursively(new File(root, "_compact_tmp"))
    subDirs(sinkRoot, "merged=").foreach { case (id, f) =>
      if (!prior.contains(id)) deleteRecursively(f)
    }
    subDirs(sinkRoot, "batch=").foreach { case (id, f) =>
      if (prior.exists(id <= _)) deleteRecursively(f)
    }
    val live = liveEpochDirs(sinkRoot)
    val target = (live.map(_._1) ++ prior).foldLeft(Long.MinValue)(math.max)
    val toMerge = live.sortBy(_._1)
    if (toMerge.isEmpty) return None
    val inputs = prior.map(u => new File(root, s"merged=$u")).toSeq ++
      toMerge.map(_._2)
    val filesBefore = inputs.map(dataFileCount).sum
    // (1) write the fold to a hidden temp dir
    val tmp = new File(root, "_compact_tmp")
    val merged = spark.read.option("recursiveFileLookup", "true")
      .parquet(inputs.map(_.getAbsolutePath): _*)
    merged.coalesce(1)
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    // (2) rename into place — still invisible (marker not yet switched)
    val dst = new File(root, s"merged=$target")
    deleteRecursively(dst)
    Files.move(tmp.toPath, dst.toPath)
    // (3) COMMIT: atomically replace the marker
    val markerTmp = Paths.get(sinkRoot, s".$MarkerName.tmp")
    Files.write(markerTmp, target.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(markerTmp, Paths.get(sinkRoot, MarkerName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // (4) GC the absorbed inputs
    inputs.foreach(deleteRecursively)
    Some(CompactionReport(target, toMerge.size + prior.size,
      filesBefore, dataFileCount(dst)))
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
