package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned-snapshot commit protocol — one maintained frame folded
  * forward micro-batch by micro-batch, exactly once per batch id on an
  * at-least-once stream. Layout under one `root`:
  *
  *   root/batch=<id>/   one version; its `_SUCCESS` marker is the commit
  *
  * [[writeBatch]] is the one batch write: a `batch=<id>` directory
  * without its marker is a crashed write, cleared and written again.
  * It has three users: [[commit]] (the streamed maintainers and the
  * streamed export's manifest in [[graft.streaming.Streams]], and the
  * IVF index's maintained Lloyd stats in [[graft.operators.AnnIndex]]),
  * the streamed export's data batches
  * ([[graft.streaming.Streams.exportMixStream]]) and the curation
  * feed's survivors ([[graft.streaming.Streams.curationFeed]]).
  * Immutable artifacts installed whole go through [[Generations]]
  * instead. Single writer, concurrent readers.
  */
object Snapshots {

  /** The directory of version `id` under `root`. */
  def batchDir(root: Path, id: Long): Path = new Path(root, s"batch=$id")

  private def isCommitted(fs: FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** Ids of the versions committed under `root`, in no order. */
  def committed(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch=") &&
        isCommitted(fs, st.getPath))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)

  /** The latest committed version's directory; None before the first. */
  def latest(fs: FileSystem, root: Path): Option[Path] =
    committed(fs, root).sorted.lastOption.map(batchDir(root, _))

  /** Unless `batch=<id>` under `root` is already committed (a replay —
    * returns false), delete what a crashed write left there and run
    * `write` into it: a Spark write, whose job commit writes the
    * `_SUCCESS` marker last.
    */
  def writeBatch(spark: SparkSession, root: Path, batchId: Long)(
      write: Path => Unit): Boolean = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = batchDir(root, batchId)
    if (isCommitted(fs, dir)) false
    else {
      fs.delete(dir, true)
      write(dir)
      true
    }
  }

  /** Unless `batch=<id>` is already committed (a replay — returns
    * false), build the snapshot from the latest version committed
    * BEFORE this batch (a replay of batch N must not merge into N's own
    * output; None for the first), write it ([[writeBatch]]), then
    * delete versions older than id − 1: the immediately-previous
    * version stays for a reader that resolved it as latest just before
    * this commit.
    */
  def commit(spark: SparkSession, root: Path, batchId: Long)(
      build: Option[DataFrame] => DataFrame): Boolean = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val before = committed(fs, root).filter(_ < batchId)
    val wrote = writeBatch(spark, root, batchId) { dir =>
      build(before.sorted.lastOption
        .map(v => spark.read.parquet(batchDir(root, v).toString)))
        .write.parquet(dir.toString)
    }
    if (wrote) before.filter(_ < batchId - 1)
      .foreach(v => fs.delete(batchDir(root, v), true))
    wrote
  }
}
