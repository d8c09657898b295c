package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The one replace-a-live-path primitive behind every maintenance job
 * (installment compactions and vacuums, crawl-ledger folds and purges,
 * the persisted Bloom artifacts): the new content is fully written to a
 * side path first, then swapped in. It is the only code that renames.
 *
 * Ordering ([[replace]]):
 *  1. delete any stale side path a crashed earlier run left behind;
 *  2. `write(side)`;
 *  3. rename `path` to `path._old`, then the side path to `path`;
 *  4. delete `path._old`, refresh cached plans over `path`.
 *
 * Recovery ([[recover]], applied on entry to every [[replace]]): `path`
 * missing with `path._old` present means a crash between the two
 * renames — `path._old` is the last complete copy and is renamed back;
 * both present means a crash after the swap — `path._old` is stale and
 * is deleted. So a crash at any step leaves the previous content
 * readable after recovery, and re-running the job completes it.
 *
 * The swap is not atomic: a reader that lists `path` between the two
 * renames finds it missing. HDFS and POSIX renames are each atomic, so
 * that window is two metadata operations; on an object store, where a
 * rename is a copy plus delete, run maintenance in a window with no
 * readers or keep the table in a format with atomic commits.
 */
object DirSwap {

  private def side(p: Path) = new Path(p.toString + "._compacting")
  private def old(p: Path) = new Path(p.toString + "._old")

  /** Replace the file or directory at `path` (absent is fine) with what
    * `write` puts at the side path it is given. A `write` that throws
    * leaves `path` untouched. Reads of `path` that `write` performs see
    * the recovered, pre-swap content. */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, live)
    fs.delete(side(live), true)
    write(side(live).toString)
    if (fs.exists(live) && !fs.rename(live, old(live)))
      throw new java.io.IOException(s"swap-out failed for $path")
    if (!fs.rename(side(live), live))
      throw new java.io.IOException(s"swap-in failed for $path")
    fs.delete(old(live), true)
    spark.catalog.refreshByPath(path)
  }

  /** Bring `path` back to its last complete state after an interrupted
    * [[replace]] (the recovery rule above); a no-op otherwise. Callers
    * that inspect `path` before deciding to replace it call this first. */
  def recover(spark: SparkSession, path: String): Unit = {
    val live = new Path(path)
    recover(live.getFileSystem(spark.sparkContext.hadoopConfiguration), live)
  }

  private def recover(fs: FileSystem, live: Path): Unit =
    if (fs.exists(old(live))) {
      if (fs.exists(live)) fs.delete(old(live), true)
      else if (!fs.rename(old(live), live))
        throw new java.io.IOException(s"swap recovery failed for $live")
    }
}
