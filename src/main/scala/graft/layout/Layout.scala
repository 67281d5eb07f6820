package graft.layout

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout levers for the 100 TB posture — the two standard
  * answers to "this join shuffles too much":
  *
  *  - '''Bucketing''' (co-located joins): persist both join sides
  *    bucketed by the join key with the same bucket count; Spark's
  *    bucketed-scan planning then satisfies the join's required
  *    HashClusteredDistribution straight off the files — NO exchange on
  *    either side, at any data size. This is the parquet analog of the
  *    reference's B-tree join-key indexes (init-db/init.sql:63-66): a
  *    one-time layout cost paid at write amortized over every
  *    subsequent join/aggregate on that key. The ingest path's
  *    keys-only dedup projection (Warehouse.keyProjection) names this
  *    as its bucketing candidate; `writeBucketed` is that path.
  *
  *  - '''Salting''' (skew): when one key value carries a disproportion
  *    of rows (the web-crawl "one domain is 10% of the corpus" case), a
  *    plain key-shuffle sends the whole hot key to one task. Prepending
  *    a deterministic salt in [0, S) to the BIG side's key and
  *    replicating the SMALL side S× spreads the hot key over S tasks.
  *    AQE's skew-join handling (on by default) splits oversized
  *    partitions post-shuffle and is the first lever to reach for;
  *    explicit salting remains the deterministic fallback when a single
  *    KEY (not partition) is hot enough to overwhelm one task's join
  *    buffer, which AQE cannot subdivide further.
  */
object Layout {

  /** Filesystem schemes whose rename is a non-atomic copy+delete
    * (object stores): the two-rename directory swap underneath
    * [[rewriteInPlace]]/[[compact]] would expose a half-visible or
    * absent directory mid-install there, so the swap REFUSES these
    * loudly at entry (r19 verdict: the rename-atomicity requirement
    * is now runtime-checked, not an unstated assumption) instead of
    * corrupting at exactly the scale the engine targets. HDFS, local
    * `file:`, and viewfs honor atomic directory rename. Artifacts
    * that must live on object storage belong on the manifest +
    * immutable-generation protocols instead
    * ([[graft.ingest.Generations]], [[graft.operators.AnnIndex]] —
    * no directory rename anywhere). Operators with an external
    * consistency layer that restores the contract can override with
    * `spark.graft.allowNonAtomicRename=true`.
    */
  private val NonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "oss", "cos", "wasb", "wasbs",
    "abfs", "abfss", "swift")

  private[graft] def requireAtomicRenameScheme(
      spark: org.apache.spark.sql.SparkSession, scheme: String,
      what: String): Unit =
    if (NonAtomicRenameSchemes.contains(scheme.toLowerCase) &&
        spark.conf.get("spark.graft.allowNonAtomicRename",
          "false") != "true")
      throw new IllegalStateException(
        s"$what uses an atomic-directory-rename swap, but filesystem " +
          s"scheme '$scheme' renames by copy (non-atomic) — a reader " +
          "could observe a half-installed directory. Use an " +
          "HDFS-style filesystem for this store, move the artifact " +
          "to a manifest+generation store (graft.ingest.Generations " +
          "/ AnnIndex), or set spark.graft.allowNonAtomicRename=true " +
          "if an external layer provides the rename contract.")

  private[graft] def requireAtomicRename(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, what: String): Unit =
    requireAtomicRenameScheme(spark,
      Option(fs.getUri.getScheme).getOrElse("file"), what)

  /** Persist `df` bucketed (and sorted) by `key` into `buckets` files
    * per partition via the session catalog — both sides of a co-located
    * join must use the SAME key and bucket count. Overwrites.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      key: String, moreKeys: String*): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Equi-join with a salted key: `left` is the BIG/skewed side (salt
    * derived deterministically from xxhash64 of the whole row —
    * reproducible across retries/reruns, unlike rand()); `right` is the
    * replicated side (S copies). Result is row-identical to
    * `left.join(right, key, joinType)` — salting only changes the
    * shuffle distribution. `right` grows S×, so pick S ≈ (hot-key rows
    * / rows-per-task), not hundreds. `left` must not contain MapType
    * columns (xxhash64 cannot hash maps; analysis fails loud).
    *
    * **[r9]** `joinType` extends the lever beyond inner: `left`/
    * `left_outer`, `left_semi`, and `left_anti` are multiset-identical
    * to their unsalted forms (each left row carries exactly one salt,
    * and that salt's replica holds every right row of its key — so
    * match, no-match, and existence outcomes are unchanged;
    * PropertySpec pins the law). Right/full outer are REJECTED: an
    * unmatched right row would surface once per replica.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left/left_semi/left_anti, not $joinType")
    // The synthetic column is dropped from the output; a real column of
    // the same name would be silently destroyed — refuse instead.
    // Case-insensitive to match Spark's default column resolution.
    require(!(left.columns ++ right.columns)
        .exists(_.equalsIgnoreCase("__graft_salt")),
      "saltedJoin reserves the column name __graft_salt")
    val saltCol = pmod(
      xxhash64(left.columns.toIndexedSeq.map(col): _*), lit(salts))
    val l = left.withColumn("__graft_salt", saltCol)
    val r = right.withColumn("__graft_salt",
      explode(array((0 until salts).map(s => lit(s)): _*)))
    l.join(r, Seq(key, "__graft_salt"), joinType).drop("__graft_salt")
  }

  /** Z-ORDER clustering — the multi-dimensional generalization of
    * sort-on-write: a linear sort bounds per-file min/max on ONE column
    * (files 1..k cover disjoint key ranges; every other column spans
    * the whole domain in every file, so a predicate on it reads
    * everything). Interleaving the bits of several columns' RANKS
    * (Morton order) and range-partitioning on that interleaved key
    * gives every file a bounded box in ALL z dimensions at once, so
    * footer min/max statistics prune scans on ANY of them — in plain
    * parquet that materializes as row-group skipping under pushed
    * filters; in a table format with file-level stats it is file
    * skipping outright. This is the standard layout answer for "we
    * filter events by user AND by time AND by amount" at 100 TB, where
    * only one of those can win the linear sort.
    *
    * Ranks, not raw values: equal-FREQUENCY quantile buckets
    * (`approxQuantile` boundaries, a driver-side array of 2^bits − 1
    * doubles per column — KB-sized at any data scale) rather than
    * equal-width, so a skewed column (crawl domains, power-law users)
    * still spreads across the bucket space instead of collapsing into
    * one bucket. Per-row bucketing is a rank count over the boundary
    * literal (one `aggregate` HOF pass — see the note in [[zOrderKey]]
    * on why not a chained-`when` binary search). The morton
    * key itself is shift/mask arithmetic. One `repartitionByRange` on
    * the key (the only shuffle) + `sortWithinPartitions` then lays
    * files out along the curve. Nulls rank lowest (bucket 0).
    *
    * `zCols` must be castable to double; 2–4 columns is the useful
    * range (each extra dimension dilutes every file's per-column
    * selectivity — k dims at f files give ~f^(1/k) pruning per dim).
    * `bitsPerCol` defaults to 8 (256 ranks per column), plenty while
    * files ≪ 2^(8k).
    */
  def writeZOrdered(df: DataFrame, dir: String, zCols: Seq[String],
      files: Int, bitsPerCol: Int = 8): Unit = {
    require(zCols.size >= 2, "z-order needs >= 2 columns (use sortBy for 1)")
    require(files >= 1, s"files must be >= 1, got $files")
    require(bitsPerCol >= 1 && bitsPerCol * zCols.size <= 60,
      s"bitsPerCol * zCols must fit a long, got $bitsPerCol * ${zCols.size}")
    df.withColumn("__graft_z", zOrderKey(df, zCols, bitsPerCol))
      .repartitionByRange(files, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** The interleaved-rank (Morton) key underlying [[writeZOrdered]],
    * exposed for callers that want to cluster within an existing
    * partitioning scheme (e.g. sortWithinPartitions of a date
    * partition). Runs one `approxQuantile` driver action per call.
    */
  def zOrderKey(df: DataFrame, zCols: Seq[String],
      bitsPerCol: Int = 8): org.apache.spark.sql.Column = {
    val k = zCols.size
    val n = (1 << bitsPerCol) - 1 // boundaries per column
    val probs = (1 to n).map(_.toDouble / (n + 1)).toArray
    // approxQuantile ignores nulls; relativeError trades one pass's
    // accuracy for memory — 1/(4n) keeps neighboring buckets distinct.
    val buckets = zCols.zipWithIndex.map { case (c, ci) =>
      val bounds = df.stat.approxQuantile(c, probs, 0.25 / (n + 1))
      val bLit = array(bounds.toIndexedSeq.map(lit): _*)
      val x = col(c).cast("double")
      // bucket = |{j : bounds(j) <= x}| — one linear `aggregate` pass
      // over the boundary literal. A chained-`when` binary search would
      // be O(bits) probes and codegen'd, but every expression-level
      // formulation of it duplicates the accumulator ~4× per level
      // (Column trees are trees, not DAGs) — 4^bits nodes hangs
      // Catalyst long before the data costs anything. 2^bits
      // comparisons per row through the interpreted HOF is the honest
      // price, paid once at WRITE time per relayout (drop bitsPerCol
      // if the write path ever dominates; 64 ranks per column is still
      // ample while files ≪ 2^(6k)).
      val bucket = aggregate(bLit, lit(0L),
        (acc, b) => acc + when(b <= x, lit(1L)).otherwise(lit(0L)))
      // interleave: bit b of column ci lands at position b*k + ci
      (0 until bitsPerCol).map { b =>
        shiftleft(shiftright(bucket, b).bitwiseAND(lit(1L)), b * k + ci)
      }.reduce(_ bitwiseOR _)
    }
    buckets.reduce(_ bitwiseOR _)
  }

  /** Small-file compaction — the table-maintenance pass every
    * micro-batch ingest needs: the poll/stream sinks (O8) append one
    * file per batch, and a year of 5-minute polls turns a partition
    * into ~10⁵ KB-sized files whose per-file open/footer/split costs
    * dominate every downstream scan. Rewrites one leaf table (or
    * partition) directory into ≈ totalBytes/targetFileBytes files and
    * swaps it in ATOMICALLY at the directory level: write to a `.tmp`
    * sibling, rename away the old dir, rename the new one in — a
    * reader lists the old or the new layout, never a mix. Single
    * maintenance writer assumed (same contract as the metadata upsert,
    * Warehouse.scala); concurrent READERS are safe either side of the
    * swap. An APPENDER racing the rewrite is detected by re-listing the
    * input after the rewrite and aborting the swap (no-op return; the
    * next maintenance cycle retries) — schedule compaction on closed
    * partitions (yesterday's date partition) to avoid churning. A file
    * that slips in between that re-list and the retire rename is NOT
    * lost either: an input-file manifest written before the retire lets
    * the post-install rescue (or, across a crash, the next invocation)
    * move late arrivals from the retired copy into the installed dir.
    * A crash between the two swap renames is repaired on the
    * next invocation (the retired copy is restored before anything
    * destructive runs). Already-compact directories (file count would not shrink)
    * are left untouched — a no-op rewrite would only churn file mtimes
    * and invalidate scan caches. Uses coalesce, not repartition: a
    * merge of co-located splits with NO shuffle — compaction cost is
    * one read+write of the partition, which is the floor.
    *
    * Returns (filesBefore, filesAfter).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20): (Int, Int) =
    rewriteInPlace(spark, dir, targetFileBytes,
      skipIfAlreadyCompact = true)(identity)

  /** The crash-safe atomic-swap rewrite underneath [[compact]],
    * generalized: read the directory, apply `transform`, write the
    * result back as ≈ inputBytes/targetFileBytes files, and swap it in
    * with the full late-appender/crash-recovery protocol documented on
    * [[compact]]. `skipIfAlreadyCompact` short-circuits when the file
    * count would not shrink — correct for a pure merge, wrong for a
    * content-changing transform (duplicate rows hide INSIDE compact
    * files), so content rewrites like DedupStore's distinct pass it
    * false. A directory with ZERO data files (e.g. a crashed first
    * append left only `_temporary`) is a no-op for any transform —
    * there are no rows to rewrite, and reading zero parquet files
    * cannot infer a schema. NOTE for content-changing transforms: a
    * file appended during the swap window is rescued VERBATIM (moved,
    * not re-read — see [[rescueLate]]), so `transform` must be
    * idempotent/optional per-row (distinct qualifies: an unrescued
    * duplicate row is re-dropped by the next pass; a redaction or
    * schema migration would NOT qualify without a follow-up pass).
    *
    * PARTITIONED tables (a `partitionBy` root whose data lives in
    * `key=value` subdirectories — e.g. the `cid=<n>` lists of an
    * [[graft.operators.AnnIndex.Generation]]'s directory): the rewrite
    * RECURSES, running the full swap protocol independently per leaf
    * partition directory and summing the counts — so
    * `rewriteInPlace(generationDir)(dropDuplicates)` on an index
    * generation is the real maintenance pass, not a silent
    * (0,0) no-op on a root with no top-level files. Within a leaf the
    * frame does NOT contain the partition columns (they live in the
    * directory names, exactly as a partition-pruned scan sees them), so
    * `transform` must key on data columns only — right for
    * per-partition dedup, where a replayed append lands in the same
    * partition by construction. Per-leaf swaps are independently
    * crash-safe; a crash mid-recursion leaves untouched leaves for the
    * rerun. A directory mixing top-level data files AND partition
    * subdirectories is refused loudly (no Spark writer produces one).
    * Returns (filesBefore, filesAfter).
    */
  def rewriteInPlace(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetFileBytes: Long = 128L << 20,
      skipIfAlreadyCompact: Boolean = false)(
      transform: DataFrame => DataFrame): (Int, Int) = {
    val (b, a, _) = rewriteInPlaceChecked(spark, dir, targetFileBytes,
      skipIfAlreadyCompact)(transform)
    (b, a)
  }

  /** [[rewriteInPlace]] that also reports whether the transform's
    * output was actually INSTALLED. The concurrent-appender guard can
    * abort the swap (files landed after the input listing — tmp is
    * discarded and the directory left untouched), and
    * `skipIfAlreadyCompact` can skip the rewrite entirely; both return
    * `committed = false`. Callers whose transform has SIDE-EFFECT
    * bookkeeping — DedupStore's tombstone application, which may clear
    * its tombstone snapshot only once the rows are physically gone —
    * must branch on the flag; a pure merge can ignore it. A directory
    * with zero data files commits vacuously (`true`): there are no rows
    * the transform could have needed to drop.
    */
  def rewriteInPlaceChecked(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetFileBytes: Long = 128L << 20,
      skipIfAlreadyCompact: Boolean = false)(
      transform: DataFrame => DataFrame): (Int, Int, Boolean) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val path0 = new org.apache.hadoop.fs.Path(dir)
    val fs = path0.getFileSystem(spark.sessionState.newHadoopConf())
    requireAtomicRename(spark, fs, s"rewriteInPlace($dir)")
    // resolve through the fs so tmp/old are SIBLINGS even when the
    // caller passes a trailing slash or relative path — string-suffix
    // concatenation would nest them inside the directory being swapped
    val path = fs.makeQualified(path0)
    val tmp = new org.apache.hadoop.fs.Path(path.getParent,
      path.getName + ".compact.tmp")
    val old = new org.apache.hadoop.fs.Path(path.getParent,
      path.getName + ".compact.old")
    val manifest = new org.apache.hadoop.fs.Path(path.getParent,
      path.getName + ".compact.names")
    // crash recovery BEFORE anything destructive: a death between the
    // two swap renames leaves the data only in `.compact.old` — restore
    // it; never delete `.compact.old` while it is the sole copy (a
    // blind entry-time delete would destroy the table exactly when a
    // crashed prior run needs it back). A death AFTER the install but
    // before the late-appender rescue leaves `.compact.old` holding
    // files an appender added during the swap window — the manifest
    // (written before the retire rename) says which files were
    // compaction inputs, so everything else moves forward.
    // self-healing repair first: a racing appender's committer may have
    // nested a directory one level too deep (see flattenRaceNest) — a
    // prior run's race window is repaired before anything else reads
    // or lists this directory
    flattenRaceNest(fs, path)
    if (fs.exists(old) && !fs.exists(path)) {
      require(fs.rename(old, path), s"compact: could not restore $old")
      fs.delete(manifest, false)
    } else if (fs.exists(old) && fs.exists(manifest)) {
      rescueLate(fs, old, path, readNames(fs, manifest))
      fs.delete(old, true)
      fs.delete(manifest, false)
    }
    fs.delete(tmp, true) // a half-written rewrite is always discardable
    fs.delete(manifest, false) // any survivor here is a stale leftover
    // a LEAF's swap artifacts (`cid=3.compact.tmp/.old/.names`) are
    // siblings of the leaf, i.e. top-level entries of THIS root; the
    // manifest in particular is a FILE, written before the leaf's retire
    // rename and deleted only at the end of the leaf's swap — a crash in
    // that window must not make it count as root-level data (it would
    // trip the mixed-layout refusal below and wedge every rerun, making
    // the retiredLeaves recovery unreachable). The leaf's own entry-time
    // recovery consumes/cleans these on the recursive call.
    def isSwapArtifact(n: String): Boolean =
      n.endsWith(".compact.tmp") || n.endsWith(".compact.old") ||
        n.endsWith(".compact.names")
    def listNames(): Set[String] = fs.listStatus(path).toSeq.filter(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        !isSwapArtifact(st.getPath.getName)).map(_.getPath.getName).toSet
    val dataFiles = fs.listStatus(path).toSeq.filter(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        !isSwapArtifact(st.getPath.getName))
    // Hive-style partition subdirectories (name=value, not hidden) —
    // a partitionBy root keeps ALL data one level down, so the rewrite
    // must recurse or it sees zero files and silently skips the table.
    // a leaf's own swap artifacts (`cid=3.compact.tmp/.old`) are
    // SIBLINGS of the leaf, i.e. inside this root, and contain '=' —
    // they belong to the leaf's crash recovery, not to the recursion
    val partDirs = fs.listStatus(path).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.contains("=") &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.endsWith(".compact.tmp") &&
        !st.getPath.getName.endsWith(".compact.old"))
    // a leaf that died between its two swap renames exists ONLY as
    // `cid=3.compact.old` — the plain listing misses it, so name the
    // base leaf explicitly and let its entry-time recovery restore it
    val retiredLeaves = fs.listStatus(path).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.endsWith(".compact.old") &&
        st.getPath.getName.stripSuffix(".compact.old").contains("="))
      .map(_.getPath.getName.stripSuffix(".compact.old"))
    val leafNames =
      (partDirs.map(_.getPath.getName) ++ retiredLeaves).distinct.sorted
    require(dataFiles.isEmpty || leafNames.isEmpty,
      s"rewriteInPlace: $dir mixes top-level data files and partition " +
        "subdirectories — no Spark writer produces this layout; " +
        "refusing rather than guessing which half to rewrite")
    if (dataFiles.isEmpty && leafNames.nonEmpty) {
      fs.delete(old, true) // root-level leftovers cannot refer to leaves
      val perLeaf = leafNames.map(n => rewriteInPlaceChecked(spark,
        new org.apache.hadoop.fs.Path(path, n).toString,
        targetFileBytes, skipIfAlreadyCompact)(transform))
      // committed only when EVERY leaf committed — one aborted leaf
      // still holds rows the transform meant to drop
      return (perLeaf.map(_._1).sum, perLeaf.map(_._2).sum,
        perLeaf.forall(_._3))
    }
    val names0 = dataFiles.map(_.getPath.getName).toSet
    val before = dataFiles.size
    val totalBytes = dataFiles.map(_.getLen).sum
    val want = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (before == 0) {
      // nothing to rewrite — and spark.read over zero data files would
      // throw UNABLE_TO_INFER_SCHEMA, wedging e.g. DedupStore.compactStore
      // on the crashed-first-append state storeHashes degrades on
      fs.delete(old, true)
      return (0, 0, true)
    }
    if (skipIfAlreadyCompact && want >= before) {
      fs.delete(old, true) // table intact ⇒ leftover .old is garbage
      return (before, before, false)
    }
    // mergeSchema: an appender that evolved the schema must not have
    // new columns silently dropped by a footer-sampled narrow schema
    transform(spark.read.option("mergeSchema", "true")
        .parquet(path.toString))
      .coalesce(want)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    // abort if an appender raced the rewrite: files added after the
    // input listing are NOT in tmp, and the swap would destroy them.
    // Compaction is a retryable maintenance pass — losing rows is not.
    if (listNames() != names0) {
      fs.delete(tmp, true)
      return (before, before, false)
    }
    val after = fs.listStatus(tmp).count(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    // two renames: the only non-atomic window is "dir absent" (repaired
    // by the entry-time restore above on the next run); a half-written
    // MIX is never visible
    fs.delete(old, true) // table intact here ⇒ any .old is garbage
    // manifest first: after the retire rename, a file that an appender
    // slipped in between the re-list above and the rename lives ONLY in
    // `.compact.old` — the rescue below (and the entry-time recovery,
    // if we die first) needs the input-file list to tell late arrivals
    // apart from the compacted-away originals.
    writeNames(fs, manifest, names0)
    require(fs.rename(path, old), s"compact: could not retire $dir")
    require(fs.rename(tmp, path), s"compact: could not install $tmp")
    val rescued = rescueLate(fs, old, path, names0)
    // repair the install-window race before returning (and again at the
    // next maintenance entry, for a commit that lands nanoseconds after
    // this check) — see flattenRaceNest
    flattenRaceNest(fs, path)
    fs.delete(old, true)
    fs.delete(manifest, false)
    (before, after + rescued, true)
  }

  /** Repair the swap's install-window race. Between the retire and
    * install renames the directory is ABSENT; a concurrent appender's
    * output committer that checked existence in that window and
    * renamed after the install lands its directory INSIDE the
    * installed one (Hadoop rename falls back to mv-into-destination
    * when the destination directory exists), producing `cid=0/cid=0`
    * under a partitioned root — committed files intact, one level too
    * deep, and every partitioned read of the root then fails on the
    * conflicting partition column. The mirror image (OUR install
    * rename nesting `<dir>.compact.tmp` inside an appender-recreated
    * directory) is the same shape. Flatten either: move the nested
    * directory's data files up (part names carry job UUIDs — no
    * collisions) and drop the husk. Runs at the end of every swap AND
    * at every rewrite entry, so the state is self-healing across
    * maintenance passes; no committed row is ever lost or rewritten.
    */
  private def flattenRaceNest(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Int = {
    if (!fs.exists(dir)) return 0
    var moved = 0
    for (st <- fs.listStatus(dir)
         if st.isDirectory &&
           (st.getPath.getName == dir.getName ||
             st.getPath.getName == dir.getName + ".compact.tmp")) {
      for (f <- fs.listStatus(st.getPath)
           if f.isFile && !f.getPath.getName.startsWith("_") &&
             !f.getPath.getName.startsWith(".")) {
        val dest = new org.apache.hadoop.fs.Path(dir, f.getPath.getName)
        require(fs.rename(f.getPath, dest),
          s"compact: could not flatten race nest ${f.getPath}")
        moved += 1
      }
      fs.delete(st.getPath, true) // husk (+ _SUCCESS markers)
    }
    moved
  }

  /** Move data files in `retired` that are NOT compaction inputs
    * (late-appended during the swap window) into `installed`. Per-file
    * rename is atomic and idempotent across a crash-retry (a moved file
    * is simply absent from `retired` on the rerun). Returns the count.
    * Rescued files BYPASS the caller's `transform` (they are moved, not
    * re-read) — see the idempotence note on [[rewriteInPlace]].
    */
  private def rescueLate(fs: org.apache.hadoop.fs.FileSystem,
      retired: org.apache.hadoop.fs.Path,
      installed: org.apache.hadoop.fs.Path,
      inputNames: Set[String]): Int = {
    if (!fs.exists(retired)) return 0
    val late = fs.listStatus(retired).toSeq.filter(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") &&
        !inputNames.contains(st.getPath.getName))
    late.foreach { st =>
      val dest = new org.apache.hadoop.fs.Path(installed,
        st.getPath.getName)
      require(fs.rename(st.getPath, dest),
        s"compact: could not rescue late append ${st.getPath}")
    }
    late.size
  }

  private def writeNames(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, names: Set[String]): Unit = {
    val out = fs.create(p, true)
    try out.write(names.toSeq.sorted.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readNames(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Set[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toSet
    finally in.close()
  }
}
