package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned-snapshot commit protocol — one maintained frame folded
  * forward micro-batch by micro-batch, exactly once per batch id on an
  * at-least-once stream. Layout under one `root`:
  *
  *   root/batch=<id>/   one version; its `_SUCCESS` marker is the commit
  *
  * The streamed maintainers and the streamed export's manifest
  * ([[graft.streaming.Streams]]) and the IVF index's maintained Lloyd
  * stats ([[graft.operators.AnnIndex]]) commit through it; immutable
  * artifacts installed whole go through [[Generations]] instead.
  * Single writer, concurrent readers.
  */
object Snapshots {

  private def version(root: Path, id: Long) = new Path(root, s"batch=$id")

  /** Ids of the versions committed under `root`, in no order. */
  def committed(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)

  /** The latest committed version's directory; None before the first. */
  def latest(fs: FileSystem, root: Path): Option[Path] =
    committed(fs, root).sorted.lastOption.map(version(root, _))

  /** Unless `batch=<id>` is already committed (a replay — returns
    * false), build the snapshot from the latest version committed
    * BEFORE this batch (a replay of batch N must not merge into N's own
    * output; None for the first), write it to `batch=<id>` (`_SUCCESS`
    * = commit point), then delete versions older than id − 1: the
    * immediately-previous version stays for a reader that resolved it
    * as latest just before this commit.
    */
  def commit(spark: SparkSession, root: Path, batchId: Long)(
      build: Option[DataFrame] => DataFrame): Boolean = {
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val done = committed(fs, root)
    if (done.contains(batchId)) return false
    val merged = build(done.filter(_ < batchId).sorted.lastOption
      .map(v => spark.read.parquet(version(root, v).toString)))
    fs.delete(version(root, batchId), true) // partial leftovers from a crash
    merged.write.parquet(version(root, batchId).toString)
    committed(fs, root).filter(_ < batchId - 1)
      .foreach(v => fs.delete(version(root, v), true))
    true
  }
}
