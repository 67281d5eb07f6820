package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}

/** Immutable-generation + manifest commit protocol — the
  * [[graft.operators.AnnIndex]] versioned-index lifecycle (which
  * installs, resolves and GCs its generations here), also used by
  * `LlmPipeline`'s standing stores. No directory is renamed onto a
  * mutable name (HDFS renames directories atomically, object stores do
  * not, so a directory swap can expose a half-visible store at exactly
  * the scale this engine targets). The one filesystem directory rename
  * left in the engine is [[Warehouse.recordStatuses]]' control-table
  * swap, which this protocol does not cover (a bucketed store's
  * compaction swaps tables through the catalog instead,
  * [[StoreLayout.Bucketed]]). Layout under one `root`:
  *
  *   root/_manifest        commit point: the live generation's name
  *   root/gen-<uuid>/      one IMMUTABLE generation (never mutated,
  *                         never renamed after its build completes)
  *
  * Writers build into a FRESH generation directory and commit by
  * installing the manifest ([[SmallFile.install]]: a temp FILE plus
  * one single-file rename, the only rename in the protocol — no
  * directory is ever renamed, and no rename ever targets an existing
  * destination). Readers resolve the manifest and then read an
  * immutable directory; a reader can never observe a partial
  * generation because the manifest is written only after `build`
  * returns. The previously live generation is RETAINED
  * for one install cycle (an in-flight reader that resolved just
  * before a swap finishes against intact files — the AnnIndex GC
  * posture); older generations, and junk left by crashed builds, are
  * GC'd on the next successful install.
  *
  * Concurrency: single maintenance writer assumed, the store family's
  * standing assumption. Concurrent DETERMINISTIC builders (the
  * standing-store case — same key, same content) converge: last
  * manifest wins and both generations carry identical content; the
  * residual adjacent-window hazards match what the directory protocol
  * documented and are accepted for that deterministic case only.
  */
object Generations {

  def manifestPath(root: Path): Path = new Path(root, "_manifest")

  /** The live generation's name, if one is installed. A reader inside
    * an install's delete-then-rename window reads absent
    * ([[SmallFile.read]]), which callers treat as rebuild-or-retry, so
    * the reader guarantee (never a partial store) holds through it.
    */
  def current(fs: FileSystem, root: Path): Option[String] =
    SmallFile.readText(fs, manifestPath(root)).filter(_.nonEmpty)

  /** The live generation's directory, if one is installed. */
  def resolve(fs: FileSystem, root: Path): Option[Path] =
    current(fs, root).map(g => new Path(root, g))

  /** Build a fresh generation and commit it: `build` fills the new
    * directory (a throw aborts with the manifest — and every reader —
    * untouched; the junk directory is GC'd by the next successful
    * install), then the manifest installs ([[SmallFile.install]]).
    * Returns the new generation directory.
    */
  def install(fs: FileSystem, root: Path)(
      build: Path => Unit): Path = {
    val previous = current(fs, root)
    val gen = s"gen-${java.util.UUID.randomUUID()}"
    val genDir = new Path(root, gen)
    build(genDir)
    val m = manifestPath(root)
    // re-read just before committing: a concurrent builder that
    // installed DURING our build is the generation we supersede — it
    // must get the same one-cycle retention as an entry-time
    // predecessor, or a reader that resolved it moments ago loses
    // the directory under its feet
    val superseded = current(fs, root)
    SmallFile.installText(fs, m, gen)
    // GC: every generation except the new one and its predecessors
    // (in-flight-reader retention), plus stale manifest temp files
    val keep: Set[String] = Set(gen) ++ previous ++ superseded
    for (st <- fs.listStatus(root)) {
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("gen-") && !keep.contains(n) ||
          st.isFile && SmallFile.isTempOf(m, n))
        fs.delete(st.getPath, true)
    }
    genDir
  }
}
