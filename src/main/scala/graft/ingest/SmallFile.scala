package graft.ingest

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileSystem, Path}

/** The one install and the one read of a small committed file — the
  * [[Generations]] manifest, a path store's `.hashform`/`.stride`
  * siblings, the Bloom sidecar manifest and its shard files
  * ([[StoreLayout]], [[graft.functions.BloomShards]]) and the IVF
  * index's `_pq_covered` watermark ([[graft.operators.AnnIndex]]).
  */
object SmallFile {

  private val TempTag = ".tmp-"

  /** True for a temp file [[install]] left beside `target` (a crashed
    * or concurrent install).
    */
  def isTempOf(target: Path, name: String): Boolean =
    name.startsWith(target.getName + TempTag)

  /** Write `target` through `body` into a fresh temp sibling
    * `<name>.tmp-<uuid>`, then delete `target` and rename the temp file
    * onto it. A throw from `body` deletes the temp file and leaves
    * `target` untouched. Between the delete and the rename no `target`
    * exists, so a reader in that window sees the file absent ([[read]]
    * answers None), never a partial one; the rename never targets an
    * existing destination.
    */
  def install(fs: FileSystem, target: Path)(
      body: FSDataOutputStream => Unit): Unit = {
    val tmp = new Path(target.getParent,
      target.getName + TempTag + java.util.UUID.randomUUID())
    try {
      val out = fs.create(tmp, true)
      try body(out) finally out.close()
    } catch {
      case e: Throwable => fs.delete(tmp, false); throw e
    }
    fs.delete(target, false)
    require(fs.rename(tmp, target), s"could not install $target")
  }

  /** `body` over `target`'s bytes, or None when it is absent: one
    * `open`, and a FileNotFoundException from the open or the read —
    * the [[install]] window included — means absent.
    */
  def read[T](fs: FileSystem, target: Path)(
      body: FSDataInputStream => T): Option[T] =
    try {
      val in = fs.open(target)
      try Some(body(in)) finally in.close()
    } catch {
      case _: java.io.FileNotFoundException => None
    }

  /** The file's UTF-8 text, trimmed. */
  def readText(fs: FileSystem, target: Path): Option[String] =
    read(fs, target)(in =>
      scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)

  /** Install `text` as the file's UTF-8 bytes. */
  def installText(fs: FileSystem, target: Path, text: String): Unit =
    install(fs, target)(
      _.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
}
