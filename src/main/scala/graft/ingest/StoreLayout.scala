package graft.ingest

import scala.language.implicitConversions

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Exec

/** What a cross-run store keys on — everything the [[StoreLayout]]
  * needs from a store besides its key derivation and verify step.
  *
  * `schemaOf` is the store's row shape per persisted hash form
  * ([[HashForm]]); `probeCol` is the column the Bloom sidecar covers
  * and the bucketed table is bucketed on; `tableCol`, when set, is
  * that column's name inside the bucketed table (the single-hash span
  * and chunk stores keep `h` in a path store and `content_hash` in a
  * table). `formProp` names the bucketed table property that records
  * the hash form — empty for a store with one fixed key form.
  */
private[ingest] final case class KeySpec(label: String,
    schemaOf: String => StructType, probeCol: String,
    formProp: String = "", tableCol: String = "") {
  def bucketCol: String = if (tableCol.isEmpty) probeCol else tableCol
  def hasForms: Boolean = formProp.nonEmpty
}

/** Where a cross-run store lives: a parquet directory ([[StoreLayout.Path]])
  * or a bucketed catalog table ([[StoreLayout.Bucketed]]). The layout
  * owns every decision that depends on it — the live store frame minus
  * tombstones, the data / covered / residual files, the Bloom sidecar
  * manifest, the append, the compaction, the sidecar build, the
  * persisted hash form and stride, and the [[StoreStats]] report — so
  * each store operation exists once ([[KeyStore]]) and each store only
  * supplies a [[KeySpec]], its key derivation and its verify step.
  *
  * ── Retraction (takedown) ─────────────────────────────────────────
  * Two-phase, mirroring the record side's contract:
  *  phase 1 — a retract appends the keys to a TOMBSTONE set (path form:
  *    the sibling `<store>.tombstones` directory; bucketed form:
  *    `_tombstones/` inside the table directory, underscore-prefixed so
  *    the table scan ignores it). The durable append is the COMMIT
  *    POINT: every probe subtracts live tombstones from the store side
  *    of its join, so a retracted key reports never-seen from the next
  *    query on — no rewrite needed first.
  *  phase 2 — the next compaction physically drops tombstoned rows (it
  *    anti-joins a SNAPSHOT of the tombstone files) and then clears
  *    exactly that snapshot (path form) or drops the old table
  *    directory wholesale (bucketed form's swap).
  * Crash anywhere between the phases re-applies: tombstones are durable,
  * probes keep subtracting, the next compaction drops the rows again.
  * Tombstones appended DURING a compaction survive it. RE-ADMISSION
  * after a retraction needs a compaction in between: a key re-recorded
  * while its tombstone is still pending stays masked until a
  * compaction clears it — on a path store, a re-record that lands
  * while that compaction runs is re-admitted when it ends (single
  * maintenance writer, the family's standing assumption). Bloom
  * sidecars need no coordination: a bloom "maybe" only routes rows
  * into the exact join, which subtracts tombstones.
  *
  * ── Bloom sidecar ─────────────────────────────────────────────────
  * A Bloom filter over the store's probe column rides along with the
  * batch, and every batch key that is definitely-not-in-filter skips
  * the store history. The sidecar records WHICH store files it covers;
  * keys appended after the build are not in the filter, so a bloom
  * miss is only proof of absence from the COVERED files. The probe
  * ([[StoreLayout.probe]]) therefore splits the batch disjointly:
  * bloom-hit keys probe the whole live store, bloom-miss keys probe
  * only the residual files (current minus covered, broadcast — small
  * between rebuilds). Compaction rewrites the store under new file
  * names; the covered names vanish and the probe plans the plain join
  * until the next rebuild (schedule it with compaction). The sidecar
  * pays only above the planner's broadcast threshold, where the plain
  * probe cannot broadcast the store: [[maintain]] keeps one there and
  * none below it ([[StoreStats]]).
  */
sealed trait StoreLayout {

  /** How messages name the store. */
  private[ingest] def name: String

  /** The directory holding the store's data files. */
  private[graft] def dataDir(spark: SparkSession): HPath

  private[graft] def tombstoneDir(spark: SparkSession): HPath

  /** The Bloom sidecar manifest ([[StoreLayout.ShardedSidecar]]). */
  private[graft] def manifest(spark: SparkSession): HPath

  /** Create the store if absent (a path store needs nothing, but
    * refuses a directory-swap leftover).
    */
  private[ingest] def ensure(spark: SparkSession, spec: KeySpec): Unit

  /** The persisted (hash form, stride); md5 and 1 where never declared
    * — every store recorded before either existed was md5, stride 1.
    */
  private[graft] def meta(spark: SparkSession): (String, Int)

  /** Persist the form and stride an append is about to record. Either
    * may change only while the store holds no data: a store recorded
    * as xxhash64 longs never matches an md5 probe, and a share
    * threshold scaled over a mixed-stride store is undefined.
    */
  private[ingest] def commitMeta(spark: SparkSession, spec: KeySpec,
      form: String, stride: Int): Unit

  /** The stored rows, read with `schema` (the on-disk shape). */
  protected def scan(spark: SparkSession, schema: StructType): DataFrame

  /** Append already-distinct rows in the on-disk shape. */
  protected def append(rows: DataFrame, spec: KeySpec): Unit

  /** Maintenance: rewrite the store to one row per distinct row minus
    * a snapshot of the live tombstones (phase 2 of the takedown). The
    * rewrite voids the Bloom sidecar and leaves none: a path store
    * removes it first, a bucketed swap drops it with the old table.
    */
  private[ingest] def compact(spark: SparkSession, spec: KeySpec,
      targetFileBytes: Long): (Long, Long)

  /** `spec`'s rows as this layout stores them. */
  protected def diskSchema(spec: KeySpec, form: String): StructType

  protected def toDisk(df: DataFrame, spec: KeySpec): DataFrame

  protected def fromDisk(df: DataFrame, spec: KeySpec): DataFrame

  protected def fs(spark: SparkSession): FileSystem =
    dataDir(spark).getFileSystem(spark.sessionState.newHadoopConf())

  private def tombstones(spark: SparkSession,
      schema: StructType): Option[DataFrame] =
    StoreLayout.readTombstones(spark, tombstoneDir(spark), schema)

  /** The live store — data minus live tombstones, in `spec`'s column
    * names.
    */
  private[ingest] def live(spark: SparkSession, spec: KeySpec,
      form: String): DataFrame = {
    ensure(spark, spec)
    val schema = diskSchema(spec, form)
    fromDisk(StoreLayout.minusTombstones(scan(spark, schema),
      tombstones(spark, schema), schema.fieldNames.toSeq), spec)
  }

  /** The on-disk bytes of the store's data files. */
  private[ingest] def dataBytes(spark: SparkSession): Long =
    StoreLayout.storeDataFileStatuses(fs(spark), dataDir(spark))
      .map(_.getLen).sum

  /** The one probe every store runs. `keys` are the batch's key rows,
    * carrying the probed key in `spec.probeCol`; `verify(rows, store)` matches
    * a slice of them against a store frame (an anti-join for the exact
    * store, a semi-join for span and chunk windows, a verified band
    * join for the near stores). With a usable sidecar the split is
    * DISJOINT on the bloom predicate: bloom-hit rows verify against the
    * whole live store, bloom-miss rows only against the broadcast
    * residual files — each row is verified exactly once, so matched
    * rows are counted as the plain join counts them. No sidecar, a
    * vanished generation, or no surviving covered file plans the plain
    * join. The probe hashes strings: an xxh64 long key casts to its
    * decimal string, bit-identical to what the sidecar build cast.
    */
  private[ingest] def probe(spec: KeySpec, form: String, keys: DataFrame)(
      verify: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = keys.sparkSession
    val whole = live(spark, spec, form)
    bloomSplit(spark) match {
      case None => verify(keys, whole)
      case Some((mightContain, residual)) =>
        val schema = diskSchema(spec, form)
        val hit = mightContain(col(spec.probeCol).cast("string"))
        verify(keys.filter(hit), whole).unionByName(verify(
          keys.filter(!hit),
          broadcast(fromDisk(StoreLayout.minusTombstones(
            StoreLayout.readFiles(spark, schema, residual),
            tombstones(spark, schema), schema.fieldNames.toSeq), spec))))
    }
  }

  /** The sidecar's probe predicate and the residual files, or None
    * when the plain join must run.
    */
  private def bloomSplit(spark: SparkSession)
      : Option[(Column => Column, Seq[HPath])] = {
    val f = fs(spark)
    val m = manifest(spark)
    StoreLayout.readSidecar(f, m).flatMap { sc =>
      val (covered, residual) =
        StoreLayout.storeDataFiles(f, dataDir(spark))
          .partition(p => sc.covered.contains(p.getName))
      if (covered.isEmpty) None
      else StoreLayout.probeFor(spark, f, m, sc).map((_, residual))
    }
  }

  /** Mark rows seen: persist the form and stride, then one append of
    * the distinct rows. The pre-append barrier ([[Exec.materialize]])
    * pins the batch's rows first — a caller passing a probe's lazy
    * output has the store in its plan, and an append whose input scans
    * the store it extends would bank on the listing resolving before
    * new files land.
    */
  private[ingest] def record(spec: KeySpec, form: String, stride: Int,
      rows: DataFrame): Unit = {
    commitMeta(rows.sparkSession, spec, form, stride)
    val mat = Exec.materialize(toDisk(rows, spec).distinct())
    try append(mat, spec)
    finally Exec.release(mat)
  }

  /** Phase 1 of the takedown: durably append `rows` (in `spec`'s
    * column names) to the tombstone set.
    */
  private[ingest] def retract(spec: KeySpec, rows: DataFrame): Unit = {
    ensure(rows.sparkSession, spec)
    StoreLayout.appendTombstones(toDisk(rows, spec),
      tombstoneDir(rows.sparkSession))
  }

  /** Build/replace the Bloom sidecar over `spec.probeCol`: one pass
    * over the current data files → a sharded filter set at `fpp`,
    * installed atomically by the manifest rename together with the
    * covered file names. An empty store removes the sidecar and
    * returns 0; otherwise returns the keys covered.
    */
  private[ingest] def buildSidecar(spark: SparkSession, spec: KeySpec,
      fpp: Double, numShards: Int): Long = {
    ensure(spark, spec)
    val f = fs(spark)
    val files = StoreLayout.storeDataFiles(f, dataDir(spark))
    if (files.isEmpty) {
      StoreLayout.removeSidecar(f, manifest(spark)); 0L
    } else StoreLayout.buildShardedSidecar(spark,
      fromDisk(StoreLayout.readFiles(spark,
        diskSchema(spec, meta(spark)._1), files), spec),
      spec.probeCol, f, manifest(spark), files, numShards, fpp)
  }

  /** Inline self-maintenance driven by the [[StoreStats]] signals:
    * compaction when `compactionDue`, which leaves no sidecar, then a
    * rebuild on a store above the broadcast threshold
    * ([[StoreStats.sidecarPays]]); a rebuild alone when `sidecarStale`.
    * A store under the threshold never gains a sidecar here — its
    * plain probe is one broadcast join.
    */
  private[ingest] def maintain(spark: SparkSession, spec: KeySpec): Unit = {
    ensure(spark, spec)
    val st = StoreStats.of(spark, this)
    if (st.compactionDue) {
      compact(spark, spec, StoreLayout.TargetFileBytes)
      if (StoreStats.sidecarPays(spark, dataBytes(spark)))
        buildSidecar(spark, spec, 0.01, 0)
    } else if (st.sidecarStale) buildSidecar(spark, spec, 0.01, 0)
  }

  /** Refuse a metadata change over a non-empty store. */
  protected def requireMeta(spec: KeySpec, empty: => Boolean,
      curForm: String, form: String, curStride: Int,
      stride: Int): Unit = {
    if (spec.hasForms && curForm != form)
      require(empty, s"${spec.label} $name was recorded with hash form " +
        s"$curForm; cannot record as $form (the forms can never match " +
        "each other — use a fresh store)")
    if (curStride != stride)
      require(empty, s"${spec.label} $name was recorded with stride " +
        s"$curStride; cannot record at stride $stride (mixed-stride " +
        "share thresholds are undefined — use a fresh store)")
  }
}

object StoreLayout {

  /** A parquet directory store, plain appends, with its metadata in
    * siblings: `<dir>.hashform`, `<dir>.stride`, `<dir>.tombstones`,
    * `<dir>.bloom`, and a staging sibling while a staged write runs
    * ([[stageIn]]). A path read always plans a store-side shuffle in a
    * probe join — fine while the store is small next to its batches.
    */
  final case class Path(dir: String) extends StoreLayout {
    private[ingest] def name: String = dir
    private[graft] def dataDir(spark: SparkSession): HPath = new HPath(dir)
    private[graft] def tombstoneDir(spark: SparkSession): HPath =
      new HPath(dir + ".tombstones")
    private[graft] def manifest(spark: SparkSession): HPath =
      new HPath(dir + ".bloom")

    /** Refuse the `.old` sibling an earlier release's directory-swap
      * compaction left when it stopped mid-swap: it may hold the only
      * copy of the store's rows, and reading past it would admit every
      * key it holds as new. Every probe, record and compaction checks.
      */
    private[ingest] def ensure(spark: SparkSession, spec: KeySpec): Unit = {
      val old = sibling(s".$CompactTag.old")
      require(!fs(spark).exists(old), s"$old is left from an interrupted " +
        s"directory-swap compaction: move its data files into $dir (or " +
        s"rename it to $dir if $dir is absent), delete it, and retry")
    }

    private def sibling(suffix: String) = new HPath(dir + suffix)

    private def readSibling(spark: SparkSession, suffix: String): Option[String] = {
      val p = sibling(suffix)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
        finally in.close()
      }
    }

    /** Atomic tmp-write + rename of a metadata sibling. */
    private def writeSibling(spark: SparkSession, suffix: String,
        value: String): Unit = {
      val p = sibling(suffix)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val tmp = new HPath(p.getParent,
        p.getName + s".tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      fs.delete(p, false)
      require(fs.rename(tmp, p), s"could not install $p")
    }

    private[graft] def meta(spark: SparkSession): (String, Int) =
      (readSibling(spark, ".hashform").getOrElse(HashForm.Md5),
        readSibling(spark, ".stride").fold(1)(_.toInt))

    private[ingest] def commitMeta(spark: SparkSession, spec: KeySpec,
        form: String, stride: Int): Unit = {
      ensure(spark, spec)
      if (spec.hasForms) HashForm.validate(form)
      val (curForm, curStride) = meta(spark)
      val p = dataDir(spark)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      requireMeta(spec, storeDataFiles(fs, p).isEmpty, curForm, form,
        curStride, stride)
      // a crash between the two leaves an empty-or-partial store whose
      // persisted metadata already matches what this append records
      if (curStride != stride) writeSibling(spark, ".stride", stride.toString)
      if (spec.hasForms && curForm != form)
        writeSibling(spark, ".hashform", form)
    }

    // explicit schema: a directory holding no readable data files yet
    // (a crashed first append leaves only _temporary/_SUCCESS) must
    // read as an EMPTY store, not an un-inferable-schema error that
    // wedges every later batch
    protected def scan(spark: SparkSession, schema: StructType): DataFrame = {
      val p = dataDir(spark)
      if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
        spark.read.schema(schema).parquet(dir)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

    protected def append(rows: DataFrame, spec: KeySpec): Unit =
      rows.write.mode(SaveMode.Append).parquet(dir)

    /** Write `rows` into a fresh sibling `<dir>.<tag>-<uuid>` and move
      * its part files into the store, one rename per file. A sibling,
      * not a subdirectory: two jobs writing into one directory share its
      * `_temporary`. Part names carry the write job's UUID, so a moved
      * file never collides with a store file. Returns the moved files.
      * A crash before the last rename leaves the staging sibling and a
      * store holding some of `rows` on top of what it held; no
      * directory is ever renamed.
      */
    private[ingest] def stageIn(rows: DataFrame, tag: String): Seq[HPath] = {
      val f = fs(rows.sparkSession)
      val store = f.makeQualified(dataDir(rows.sparkSession))
      val stage = new HPath(store.getParent,
        s"${store.getName}.$tag-${java.util.UUID.randomUUID()}")
      rows.write.parquet(stage.toString)
      try {
        f.mkdirs(store) // a first-ever write: the store may not exist yet
        storeDataFiles(f, stage).map { p =>
          val to = new HPath(store, p.getName)
          require(f.rename(p, to), s"could not move $p into $store")
          to
        }
      } finally f.delete(stage, true)
    }

    /** (filesBefore, filesAfter). Snapshot the data files and the
      * tombstone files, stage one row per distinct row of exactly those
      * data files minus the snapshot's tombstones (coalesced to
      * ⌈bytes / targetFileBytes⌉ files, no shuffle) and move it in
      * ([[stageIn]]), delete exactly the input files, then clear exactly
      * the tombstone snapshot. Files appended meanwhile are not inputs,
      * so they survive untouched, as do tombstones appended meanwhile.
      * The Bloom sidecar goes before anything moves in: the moved files
      * carry new names, so a sidecar still covering the inputs would
      * route them into its residual leg, which a probe broadcasts, and
      * the rewrite voids it anyway ([[maintain]] rebuilds it). Every
      * crash state — staged but not moved, half moved, inputs half
      * deleted, snapshot not cleared — then holds a superset of the
      * live rows with the applied tombstones still live, which every
      * probe answers as before with the plain join, and the next pass
      * converges. So there is no abort path and no recovery step beyond
      * deleting the staging siblings a crashed pass left. A
      * never-written store is a no-op.
      */
    private[ingest] def compact(spark: SparkSession, spec: KeySpec,
        targetFileBytes: Long): (Long, Long) = {
      ensure(spark, spec)
      val f = fs(spark)
      val store = f.makeQualified(dataDir(spark))
      if (!f.exists(store)) return (0L, 0L)
      for (st <- f.listStatus(store.getParent)
           if st.isDirectory &&
             st.getPath.getName.startsWith(s"${store.getName}.$CompactTag-"))
        f.delete(st.getPath, true)
      removeSidecar(f, manifest(spark))
      val tombs = storeDataFileStatuses(f, tombstoneDir(spark))
      val inputs = storeDataFileStatuses(f, store)
      val moved = if (inputs.isEmpty) Nil else {
        val schema = diskSchema(spec, meta(spark)._1)
        val tomb = if (tombs.isEmpty) None
          else Some(gatedHint(spark,
            readFiles(spark, schema, tombs.map(_.getPath)),
            tombs.map(_.getLen).sum))
        val bytes = inputs.map(_.getLen).sum
        stageIn(minusTombstones(
            readFiles(spark, schema, inputs.map(_.getPath)).distinct(),
            tomb, schema.fieldNames.toSeq)
          .coalesce(math.max(1L,
            (bytes + targetFileBytes - 1) / targetFileBytes).toInt),
          CompactTag)
      }
      inputs.foreach(st => f.delete(st.getPath, false))
      tombs.foreach(st => f.delete(st.getPath, false))
      (inputs.size.toLong, moved.size.toLong)
    }

    protected def diskSchema(spec: KeySpec, form: String): StructType =
      spec.schemaOf(form)
    protected def toDisk(df: DataFrame, spec: KeySpec): DataFrame = df
    protected def fromDisk(df: DataFrame, spec: KeySpec): DataFrame = df
  }

  /** A parquet table in the session catalog bucketed by the store's
    * probe column, created on first use with `buckets` (an existing
    * table's bucket count wins — size it for the store's TARGET volume,
    * ~1 GB per bucket). The bucketed scan satisfies a probe join's hash
    * distribution straight off the files, so only the batch side
    * shuffles and the ever-growing store side never does (LayoutSpec
    * pins it) — the form that holds up when a store has been recording
    * for a year. Metadata lives in `graft.*` table properties, tombstones
    * in `_tombstones/` and the sidecar in `_bloom` inside the table
    * directory (underscore-prefixed: every parquet reader ignores them);
    * compaction's staging-table swap retires the sidecar with the old
    * directory.
    */
  final case class Bucketed(table: String, buckets: Int = 32)
      extends StoreLayout {
    private[ingest] def name: String = s"table $table"

    private def catalogEntry(spark: SparkSession) =
      spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table))

    private def props(spark: SparkSession): Map[String, String] =
      catalogEntry(spark).properties

    private[graft] def dataDir(spark: SparkSession): HPath =
      new HPath(catalogEntry(spark).location)
    private[graft] def tombstoneDir(spark: SparkSession): HPath =
      new HPath(dataDir(spark), "_tombstones")
    private[graft] def manifest(spark: SparkSession): HPath =
      new HPath(dataDir(spark), "_bloom")

    private def staging: String = table + "_compact_stage"

    private def bucketsOf(spark: SparkSession): Int =
      catalogEntry(spark).bucketSpec
        .map(_.numBuckets).getOrElse(throw new IllegalStateException(
          s"store table $table is not bucketed"))

    /** Repair a compaction crash: staging exists, table gone → the DROP
      * committed but the RENAME did not; finish it. A staging table WITH
      * the store present is a pre-drop leftover the next compaction
      * tears down (it may be mid-write; the store is intact).
      */
    private def recoverSwap(spark: SparkSession): Unit =
      if (spark.catalog.tableExists(staging) &&
          !spark.catalog.tableExists(table))
        spark.sql(s"ALTER TABLE $staging RENAME TO $table")

    private[ingest] def ensure(spark: SparkSession, spec: KeySpec): Unit = {
      recoverSwap(spark)
      if (!spark.catalog.tableExists(table))
        create(spark, spec, HashForm.Md5, 1, buckets)
    }

    /** Create the table with its metadata in ONE step: the schema of
      * `form` and every non-default property together, so no later
      * metadata write can drop an earlier one.
      */
    private def create(spark: SparkSession, spec: KeySpec, form: String,
        stride: Int, b: Int): Unit = {
      graft.layout.Layout.writeBucketed(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], diskSchema(spec, form)),
        table, b, spec.bucketCol)
      val kv = Seq(spec.formProp -> form, StrideProp -> stride.toString)
        .filter { case (k, v) => k.nonEmpty &&
          v != (if (k == StrideProp) "1" else HashForm.Md5) }
      if (kv.nonEmpty)
        spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
          kv.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
    }

    private[graft] def meta(spark: SparkSession): (String, Int) = {
      recoverSwap(spark)
      if (!spark.catalog.tableExists(table)) (HashForm.Md5, 1)
      else {
        val p = props(spark)
        (p.collectFirst { case (k, v) if k.startsWith("graft.") &&
            k.endsWith(".hashform") => v }.getOrElse(HashForm.Md5),
          p.get(StrideProp).fold(1)(_.toInt))
      }
    }

    /** An EMPTY table declared under other metadata is recreated in
      * place (under another hash form its column TYPE is wrong too); a
      * non-empty table refuses the change.
      */
    private[ingest] def commitMeta(spark: SparkSession, spec: KeySpec,
        form: String, stride: Int): Unit = {
      ensure(spark, spec)
      if (spec.hasForms) HashForm.validate(form)
      val (curForm, curStride) = meta(spark)
      if (!spark.catalog.tableExists(table))
        create(spark, spec, form, stride, buckets)
      else if ((spec.hasForms && curForm != form) || curStride != stride) {
        requireMeta(spec, spark.table(table).isEmpty, curForm, form,
          curStride, stride)
        val b = bucketsOf(spark)
        spark.sql(s"DROP TABLE $table")
        create(spark, spec, form, stride, b)
      }
    }

    protected def scan(spark: SparkSession, schema: StructType): DataFrame =
      spark.table(table)

    protected def append(rows: DataFrame, spec: KeySpec): Unit =
      rows.write.mode(SaveMode.Append)
        .bucketBy(bucketsOf(rows.sparkSession), spec.bucketCol)
        .sortBy(spec.bucketCol).format("parquet").saveAsTable(table)

    /** (rowsBefore, rowsAfter) of the staging-table swap ([[swap]]). A
      * bucketed table cannot take the path store's moved-in files: the
      * catalog owns its location and its bucket layout, so the rewrite
      * is a new table. The tombstones are read INSIDE the transform,
      * after the entry-time recovery, so a half-swapped table's
      * metadata is never consulted.
      */
    private[ingest] def compact(spark: SparkSession, spec: KeySpec,
        targetFileBytes: Long): (Long, Long) =
      swap(spark, spec.bucketCol) { df =>
        val schema = diskSchema(spec, meta(spark)._1)
        minusTombstones(df, readTombstones(spark, tombstoneDir(spark),
          schema), schema.fieldNames.toSeq)
      }

    /** Rewrite to one row per distinct store row via a staging table +
      * catalog rename, `transform` applied on top of the distinct. The
      * old directory's `_tombstones` goes down with the DROP, which is
      * what clears applied tombstones. Tombstones appended DURING the
      * compaction survive it: the `_tombstones` listing is snapshotted
      * at entry, and any file not in that snapshot when the swap is
      * about to DROP is COPIED into the staging table's own `_tombstones`
      * first. Copy, not move: before the DROP the staging table is still
      * the discardable side, so the original must stay the durable
      * copy until the DROP removes it. A late file may end up both
      * applied and preserved — harmless, it masks rows already gone.
      * `graft.*` properties (hash form, stride) ride the swap: they are
      * copied onto staging BEFORE the drop, so even a crash between drop
      * and rename installs a table that still carries them. Single
      * maintenance writer assumed; a concurrent APPENDER's rows written
      * after the staging read would be lost — schedule against a
      * quiesced store.
      */
    private[ingest] def swap(spark: SparkSession, bucketCol: String)(
        transform: DataFrame => DataFrame): (Long, Long) = {
      recoverSwap(spark)
      if (!spark.catalog.tableExists(table)) return (0L, 0L)
      val b = bucketsOf(spark)
      spark.sql(s"DROP TABLE IF EXISTS $staging") // stale pre-drop leftover
      val tombDir = tombstoneDir(spark)
      val fs = tombDir.getFileSystem(spark.sessionState.newHadoopConf())
      val tombSnap = storeDataFiles(fs, tombDir).map(_.getName).toSet
      val before = spark.table(table).count()
      graft.layout.Layout.writeBucketed(
        transform(spark.table(table).distinct()), staging, b, bucketCol)
      val kept = props(spark).filter(_._1.startsWith("graft."))
      if (kept.nonEmpty)
        spark.sql(s"ALTER TABLE $staging SET TBLPROPERTIES (" +
          kept.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
      val after = spark.table(staging).count()
      val late = storeDataFiles(fs, tombDir)
        .filterNot(f => tombSnap.contains(f.getName))
      if (late.nonEmpty) {
        val stagingTomb = new HPath(Bucketed(staging).dataDir(spark),
          "_tombstones")
        fs.mkdirs(stagingTomb)
        val conf = spark.sessionState.newHadoopConf()
        late.foreach { f =>
          require(org.apache.hadoop.fs.FileUtil.copy(fs, f, fs,
            new HPath(stagingTomb, f.getName), false, true, conf),
            s"compact: could not preserve late tombstone $f")
        }
      }
      spark.sql(s"DROP TABLE $table")
      spark.sql(s"ALTER TABLE $staging RENAME TO $table")
      (before, after)
    }

    protected def diskSchema(spec: KeySpec, form: String): StructType =
      StructType(spec.schemaOf(form).fields.map(f =>
        if (f.name == spec.probeCol) f.copy(name = spec.bucketCol) else f))

    protected def toDisk(df: DataFrame, spec: KeySpec): DataFrame =
      df.withColumnRenamed(spec.probeCol, spec.bucketCol)

    protected def fromDisk(df: DataFrame, spec: KeySpec): DataFrame =
      df.withColumnRenamed(spec.bucketCol, spec.probeCol)
  }

  /** A bare directory string is a [[Path]] layout, so a path-store call
    * reads `DedupStore.recordHashes(df, "text", "/stores/hashes")`.
    */
  implicit def dir(path: String): Path = Path(path)

  /** The span stride's table property (the bucketed form's `.stride`). */
  private val StrideProp = "graft.span.stride"

  private[ingest] val TargetFileBytes: Long = 128L << 20

  /** The staging-sibling tag of a path store's compaction. */
  private val CompactTag = "compact"

  /** Ceiling (in on-disk parquet bytes) up to which a tombstone /
    * retraction backlog rides a broadcast into its anti-join. Above it
    * the probe falls back to a plain (shuffle) anti-join — for the
    * BUCKETED stores the store side still plans zero exchanges (the
    * bucketed scan's hash distribution satisfies the join; only the
    * tombstone side shuffles). A backlog near the ceiling is also the
    * operational signal to run the compaction that clears it. Operators
    * can tune via the session conf `graft.tombstone.broadcast.maxBytes`.
    */
  private[graft] val TombstoneBroadcastMaxBytes: Long = 64L << 20

  private[graft] def tombstoneBroadcastCeiling(spark: SparkSession): Long =
    spark.conf.getOption("graft.tombstone.broadcast.maxBytes")
      .flatMap(_.toLongOption).getOrElse(TombstoneBroadcastMaxBytes)

  /** Wrap a frame in the broadcast hint only while its backing files fit
    * the ceiling — ONE place deciding how takedown sets (and the
    * benchmark-sized contamination store) enter their joins.
    */
  private[graft] def gatedHint(spark: SparkSession, df: DataFrame,
      backingBytes: Long): DataFrame =
    if (backingBytes <= tombstoneBroadcastCeiling(spark)) broadcast(df)
    else df

  /** The parquet data files directly under `dir` (none if absent). */
  private[graft] def storeDataFileStatuses(fs: FileSystem,
      dir: HPath): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))

  private[graft] def storeDataFiles(fs: FileSystem, dir: HPath): Seq[HPath] =
    storeDataFileStatuses(fs, dir).map(_.getPath)

  /** `files` read with `schema`; no files is an empty local relation,
    * which the optimizer drops from any join it feeds.
    */
  private def readFiles(spark: SparkSession, schema: StructType,
      files: Seq[HPath]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.schema(schema).parquet(files.map(_.toString): _*)

  /** The live tombstone frame under `dir`, or None when none exist.
    * Read by explicit file list so a concurrent phase-2 clear (which
    * deletes a snapshot of files) cannot race the directory listing;
    * wrapped by [[gatedHint]] — broadcast while the backlog is
    * takedown-list-sized, which makes the store side's distribution
    * pass through the anti-join STRUCTURALLY (the bucketed forms keep
    * zero exchanges under any broadcast threshold), plain above the
    * ceiling.
    */
  private[graft] def readTombstones(spark: SparkSession, dir: HPath,
      schema: StructType): Option[DataFrame] = {
    val files = storeDataFileStatuses(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
    if (files.isEmpty) None
    else Some(gatedHint(spark, readFiles(spark, schema, files.map(_.getPath)),
      files.map(_.getLen).sum))
  }

  /** Phase 1: durably append `rows` (already in the store's key shape)
    * to the tombstone set at `dir`, pre-append-checkpointed like every
    * record.
    */
  private[graft] def appendTombstones(rows: DataFrame, dir: HPath): Unit = {
    val mat = Exec.materialize(rows.distinct())
    try mat.write.mode(SaveMode.Append).parquet(dir.toString)
    finally Exec.release(mat)
  }

  private[ingest] def minusTombstones(store: DataFrame,
      tomb: Option[DataFrame], keys: Seq[String]): DataFrame =
    tomb.fold(store)(t => store.join(t, keys, "left_anti"))

  /** A v2 (sharded) sidecar manifest: the store files the filter set
    * covers, plus the generation directory (sibling of the manifest)
    * holding the per-shard filters and the shard count that routes a
    * hash to its filter. The manifest is the COMMIT POINT — shard files
    * are fully written before the manifest's atomic rename installs
    * them, and the generation uuid in the directory name makes executor
    * caches and concurrent readers immune to rebuilds.
    */
  private[graft] case class ShardedSidecar(covered: Set[String],
      shardDirName: String, numShards: Int)

  private def writeSidecar(fs: FileSystem, target: HPath, files: Seq[HPath],
      shardDirName: String, numShards: Int): Unit = {
    val tmp = new HPath(target.getParent,
      target.getName + s".tmp-${java.util.UUID.randomUUID()}")
    val out = new java.io.DataOutputStream(fs.create(tmp, true))
    try {
      out.writeInt(2) // sidecar format version (2 = sharded)
      out.writeInt(files.size)
      files.foreach(f => out.writeUTF(f.getName))
      out.writeUTF(shardDirName)
      out.writeInt(numShards)
    } finally out.close()
    fs.delete(target, false)
    require(fs.rename(tmp, target), s"bloom sidecar: could not install $target")
  }

  /** Read a sidecar manifest. Unknown versions (including the retired
    * v1 single-filter format) read as ABSENT — the probes fall back to
    * the exact plain-join plan, never to a misinterpreted filter.
    */
  private[graft] def readSidecar(fs: FileSystem,
      target: HPath): Option[ShardedSidecar] = {
    if (!fs.exists(target)) return None
    val in = new java.io.DataInputStream(fs.open(target))
    try {
      if (in.readInt() != 2) return None
      val names = Seq.fill(in.readInt())(in.readUTF()).toSet
      Some(ShardedSidecar(names, in.readUTF(), in.readInt()))
    } finally in.close()
  }

  /** The generation directory a manifest points at, if it still exists
    * — a vanished directory would turn every probe into a false
    * "definitely new".
    */
  private[ingest] def liveGeneration(fs: FileSystem, manifest: HPath,
      sc: ShardedSidecar): Option[HPath] =
    Some(new HPath(fs.makeQualified(manifest).getParent, sc.shardDirName))
      .filter(fs.exists)

  /** Resolve a manifest to the native codegen'd `bloom_probe(hash)`
    * predicate ([[graft.functions.BloomProbe]]: it stays inside
    * whole-stage codegen, loading only the probed row's shard), or None
    * when its generation is gone (the exact plan runs instead).
    */
  private def probeFor(spark: SparkSession, fs: FileSystem,
      manifest: HPath, sc: ShardedSidecar): Option[Column => Column] =
    liveGeneration(fs, manifest, sc).map { dir =>
      graft.functions.Functions.register(spark)
      h => call_function("bloom_probe", h, lit(dir.toString),
        lit(sc.numShards))
    }

  /** Write a fresh generation directory `<manifest>.d-<uuid>` beside
    * the manifest (inside a bucketed table it keeps the underscore
    * prefix every parquet reader ignores), fill it with executor-built
    * per-shard filters ([[graft.functions.BloomShards]] — no
    * driver-memory merge at any store size), commit via the manifest's
    * atomic rename, then garbage-collect older generations. A crash
    * before the commit leaves the previous manifest and generation
    * intact. `numShards` = 0 derives the count from the row count so
    * each shard filter lands near BloomShards.TargetShardBytes.
    */
  private def buildShardedSidecar(spark: SparkSession, df: DataFrame,
      hashCol: String, fs: FileSystem, manifest: HPath, files: Seq[HPath],
      numShards: Int, fpp: Double): Long = {
    val shards =
      if (numShards == 0)
        graft.functions.BloomShards.autoShards(df.select(hashCol).count(), fpp)
      else numShards
    val parent = fs.makeQualified(manifest).getParent
    val genPrefix = manifest.getName + ".d-"
    val genName = genPrefix + java.util.UUID.randomUUID().toString
    val shardDir = new HPath(parent, genName)
    fs.mkdirs(shardDir)
    val n = graft.functions.BloomShards.build(df, hashCol,
      shardDir.toString, shards, fpp)
    writeSidecar(fs, manifest, files, genName, shards)
    for (st <- fs.listStatus(parent)
         if st.isDirectory && st.getPath.getName.startsWith(genPrefix) &&
           st.getPath.getName != genName)
      fs.delete(st.getPath, true)
    n
  }

  /** Remove a sidecar COMPLETELY: the manifest plus every generation
    * directory (deleting only the manifest would leak generations,
    * which are otherwise collected only by a successful rebuild).
    */
  private[ingest] def removeSidecar(fs: FileSystem, manifest: HPath): Unit = {
    fs.delete(manifest, false)
    val parent = fs.makeQualified(manifest).getParent
    val genPrefix = manifest.getName + ".d-"
    if (fs.exists(parent))
      for (st <- fs.listStatus(parent)
           if st.isDirectory && st.getPath.getName.startsWith(genPrefix))
        fs.delete(st.getPath, true)
  }
}
