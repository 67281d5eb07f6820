package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Parquet-backed warehouse: the Spark port of the reference's Postgres
  * `warehouse` schema + ETL poll loop (reference: init-db/init.sql,
  * etl/app.py:249-278; lifecycle E1 in SURVEY.md §3).
  *
  * One poll cycle = `pollOnce(watchDir)`:
  *   list csv/parquet/xlsx/jsonl files → drop lock files (O2) → incremental filter
  *   against file_metadata (O3) → route by name (O11), dimensions before
  *   facts (the FK ordering hazard, SURVEY.md §2.1) → per file: read →
  *   validate (O5) → coerce (O7) → enrich lineage (O6) → dedupe (O9) →
  *   FK orphan check for facts (O10) → append (O8) → metadata upsert
  *   (O12) with success/error status (O13). A delivery with no new rows
  *   (a re-touched or fully re-delivered file) appends nothing — an
  *   empty append would still write a schema-only part file to the
  *   table and to its keys projection — and records `success`.
  *
  * The poll cycle's reads of the warehouse's own tables
  * (`storedTable`, `keyProjection`, `metadata`) carry each table's
  * stored schema, the one the writer coerces to, so building their
  * frames runs no Spark job; `table` stays schema-on-read for
  * dashboards over externally populated tables. A directory
  * with no data file below it (absent, or holding only an interrupted
  * write's `_temporary` staging files) is "no data": tables read as
  * None, the control table as empty, and a keys projection falls back
  * to the full table and is rebuilt from it on the next append.
  *
  * At scale: dims are plain parquet dirs (broadcast-size by design); the
  * ventes fact is date-partitioned on sale_date at append time, so
  * time-range queries prune partitions (the reference's date_vente
  * index, init-db/init.sql:67). A continuous deployment runs
  * `pollForever` (O14) or the Structured Streaming mode
  * (graft.streaming.Streams).
  */
final class Warehouse(spark: SparkSession, root: String) {

  private val entities = Seq("clients", "produits", "ventes") // dims first
  private def tablePath(name: String): String = s"$root/$name"
  private val metadataPath = tablePath("file_metadata")

  /** The schema each table is stored with, fixed by contract: the
    * entity contract minus `date_creation` (no delivery carries it, so
    * `prepareBatch` never writes it), lineage columns last, all
    * nullable as parquet reads them; ventes adds its `sale_date`
    * partition column. The writer coerces to it and every poll-cycle
    * read of the warehouse's own tables passes it, so no such read
    * re-infers (one Spark job each) a schema the warehouse itself fixed.
    */
  private val stored: Map[String, StructType] = {
    def written(s: StructType) = StructType(s.fields
      .filterNot(_.name == "date_creation").map(_.copy(nullable = true)))
    Map(
      "clients" -> written(Tables.clientsSchema),
      "produits" -> written(Tables.produitsSchema),
      "ventes" -> written(Tables.ventesSchema).add("sale_date", DateType),
      "file_metadata" -> written(Tables.fileMetadataSchema))
  }
  private val businessKey: Map[String, String] = Map(
    "clients" -> "client_id", "produits" -> "produit_id",
    "ventes" -> "vente_id")

  // -- table access -----------------------------------------------------

  /** True when `path` holds a data file anywhere below it. The no-data
    * case is decided by an explicit file listing, NOT by catching
    * AnalysisException: a read also throws that on a non-empty table
    * with corrupt footers, and mapping it to "no data" would silently
    * disable the dedup anti-join and re-admit every previously-loaded
    * key as 'success'. Any exception from a directory that does hold
    * data files therefore propagates.
    */
  private def hasDataFiles(path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && {
      // Recursive so partitioned layouts (ventes/sale_date=…/*.parquet)
      // are seen. ANY non-marker file counts as data — not just
      // *.parquet names: a table populated by an external tool with
      // unsuffixed parquet files must fail LOUD on read problems, not
      // be classified "empty" (which would silently disable the dedup
      // anti-join). Markers are judged on EVERY path component relative
      // to the root, not just the leaf: an interrupted write leaves
      // part files under _temporary/…, and counting those as data
      // would turn "no data yet" into a persistent read failure
      // (Spark's own file index prunes _-/.-prefixed directories).
      val qualifiedRoot = fs.makeQualified(p).toString
      val it = fs.listFiles(p, true)
      var hasData = false
      while (!hasData && it.hasNext) {
        val f = it.next().getPath.toString
        val rel = f.stripPrefix(qualifiedRoot).stripPrefix("/")
        // rel empty ⇒ the path IS a single data file (externally
        // materialized single-file table) — data, not a marker: the
        // root's own name is the table name, never _-/.-prefixed.
        hasData = rel.isEmpty || rel.split('/').forall(c =>
          !c.startsWith("_") && !c.startsWith("."))
      }
      hasData
    }
  }

  /** The parquet data at `path` read with `schema`; None when
    * [[hasDataFiles]] finds none (absent, or an interrupted/empty
    * write) — "no data yet".
    */
  private def readStored(path: String, schema: StructType): Option[DataFrame] =
    if (hasDataFiles(path)) Some(spark.read.schema(schema).parquet(path))
    else None

  /** A table as its files hold it (schema-on-read: every column,
    * including ones an external tool wrote) — the view dashboards
    * register (graft.SqlSurface.registerWarehouse). None while it holds
    * no data files. The poll cycle reads through [[storedTable]].
    */
  def table(name: String): Option[DataFrame] =
    if (hasDataFiles(tablePath(name)))
      Some(spark.read.parquet(tablePath(name)))
    else None

  /** One of `clients`, `produits`, `ventes` or `file_metadata`, read
    * with its stored schema (building the frame runs no Spark job); None
    * while it holds no data files.
    */
  private[graft] def storedTable(name: String): Option[DataFrame] =
    readStored(tablePath(name), stored(name))

  // -- keys-only projection (scale path for O9 dedup) --------------------

  private def keysPath(name: String): String = s"$root/_keys/$name"

  /** Narrow business-key projection maintained alongside each table: the
    * dedup anti-join's existing side reads THIS (one key column) instead
    * of scanning the full table — at 100 TB the keys projection is a
    * small fraction of the fact and is the natural bucketing candidate
    * (bucket by key → co-located, shuffle-free anti-join). None (absent,
    * or no data files) ⇒ caller falls back to a keys projection of the
    * full table (correct, wider scan).
    */
  def keyProjection(name: String): Option[DataFrame] =
    readStored(keysPath(name),
      StructType(Seq(stored(name)(businessKey(name)))))

  /** Maintain the keys projection after a data append. If the
    * projection holds data, append just the batch's keys; if it holds
    * NONE (first append, deleted after an earlier failure, or only an
    * interrupted write's staging files), rebuild it from the FULL
    * table — rebuilding from only the current batch would leave earlier
    * keys out and silently re-admit duplicates on re-delivery. On ANY
    * failure the projection is deleted outright: a missing projection
    * only widens the next dedup scan to the full-table fallback, a
    * partial one would corrupt dedup. Fail towards correctness.
    */
  private def appendKeys(name: String, df: DataFrame): Unit =
    try {
      if (hasDataFiles(keysPath(name)))
        df.select(businessKey(name)).write.mode("append")
          .parquet(keysPath(name))
      else
        // Full rebuild; the table already contains the just-appended
        // batch, so the projection comes out complete.
        storedTable(name).foreach(_.select(businessKey(name))
          .write.mode("overwrite").parquet(keysPath(name)))
    } catch {
      case _: Exception =>
        val p = new Path(keysPath(name))
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }

  private def empty(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The control table; empty while it holds no data files. */
  def metadata: DataFrame =
    storedTable("file_metadata").getOrElse(empty(stored("file_metadata")))

  /** O8 — append sink (etl/app.py:162,191,220 → to_sql append). The
    * ventes fact is date-partitioned on sale_date (day of date_vente):
    * the parquet analog of the reference's date_vente index
    * (init-db/init.sql:67) — time-range scans prune whole partitions,
    * which is what keeps q06-style queries sub-scan at 100 TB.
    */
  private def append(name: String, df: DataFrame): Unit =
    if (name == "ventes")
      df.withColumn("sale_date", to_date(col("date_vente")))
        .write.mode("append").partitionBy("sale_date")
        .parquet(tablePath(name))
    else df.write.mode("append").parquet(tablePath(name))

  // -- continuous service loop (etl/app.py:253-288) ----------------------

  /** O14 — error-recovery loop: poll forever, sleeping `pollIntervalMs`
    * between cycles (etl/app.py:278); a cycle-level failure is caught,
    * backs off `errorBackoffMs` (the reference's 10 s, etl/app.py:282),
    * and the loop continues. The reference also recreates its DB engine;
    * the SparkSession is a resilient singleton, so reuse IS the port.
    * `maxCycles` + injectable `sleep`/`cycle` exist for tests (prod uses
    * the defaults); returns the number of successful cycles.
    */
  def pollForever(watchDir: String, pollIntervalMs: Long = 60000L,
      errorBackoffMs: Long = 10000L, maxCycles: Long = Long.MaxValue,
      sleep: Long => Unit = Thread.sleep,
      cycle: String => Map[String, String] = this.pollOnce(_)): Long = {
    var cycles = 0L
    var ok = 0L
    while (cycles < maxCycles) {
      // NonFatal only: an InterruptedException from cycle() or sleep()
      // must propagate, or the forever-loop could never be shut down.
      val success =
        try { cycle(watchDir); true }
        catch { case scala.util.control.NonFatal(_) => false }
      if (success) ok += 1
      cycles += 1
      if (cycles < maxCycles)
        sleep(if (success) pollIntervalMs else errorBackoffMs)
    }
    ok
  }

  // -- one poll cycle (etl/app.py:253-278) -------------------------------

  /** Returns (filename → status) for every file considered this cycle.
    *
    * Driver-side listing, bounded: the listing itself mirrors the
    * reference's glob (etl/app.py:261) and is O(#files in watchDir) in
    * driver memory — names + mtimes only, streamed through
    * listStatusIterator with non-matching entries dropped as they
    * arrive, so the resident set is the MATCHING files, never the raw
    * directory. `maxFilesPerCycle` then caps how many files one cycle
    * processes (oldest mtime first — FIFO, nothing starves): a
    * crawl-frontier-sized backlog drains across cycles at a bounded
    * per-cycle cost instead of turning cycle one into an unbounded
    * collect+process marathon. A directory too large to even LIST
    * belongs on the streaming path (Streams.fileStream) or should be
    * date-partitioned into per-day watch dirs — a flat 10⁷-file dir is
    * a layout bug no poller can absorb.
    */
  def pollOnce(watchDir: String,
      maxFilesPerCycle: Int = 10000): Map[String, String] = {
    require(maxFilesPerCycle > 0, "maxFilesPerCycle must be positive")
    val fs = new Path(watchDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(watchDir))) return Map.empty
    val it = fs.listStatusIterator(new Path(watchDir))
    val listedB = Seq.newBuilder[(String, String, java.sql.Timestamp)]
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("~$") && // O2
        (name.endsWith(".csv") || name.endsWith(".parquet") ||
          name.endsWith(".xlsx") || name.endsWith(".jsonl")))
        listedB += ((st.getPath.toString, name,
          new java.sql.Timestamp(st.getModificationTime)))
    }
    val listed = listedB.result()

    if (listed.isEmpty) return Map.empty

    // O3 — incremental change detection against the control table.
    // The collect is bounded to maxFilesPerCycle rows (oldest first),
    // not the full needs-processing backlog.
    import spark.implicits._
    val listing = listed.map { case (_, name, mtime) => (name, mtime) }
      .toDF("filename", "last_modified")
    val toProcess = Ingest.filesNeedingProcessing(listing, metadata)
      .orderBy(col("last_modified").asc, col("filename").asc)
      .limit(maxFilesPerCycle)
      .select("filename").collect().map(_.getString(0)).toSet

    val candidates = listed.filter(t => toProcess.contains(t._2))

    // O11 + FK ordering: dimensions before facts (SURVEY.md §2.1 hazard);
    // within an entity oldest first, then by name — the order the cap
    // above selects by — so when two deliveries of one cycle share a
    // key, the older one's row lands, whatever the filesystem lists.
    val ordered = candidates.sortBy { case (_, name, mtime) =>
      val rank = entities.indexOf(Ingest.entityFor(name).getOrElse("")) match {
        case -1 => Int.MaxValue
        case i => i
      }
      (rank, mtime.getTime, name)
    }

    val results = ordered.flatMap { case (full, name, mtime) =>
      Ingest.entityFor(name) match {
        case None => None // unrecognized → warn + skip (etl/app.py:244-246)
        case Some(entity) =>
          val ok = processFile(entity, full, name)
          Some((name, mtime, if (ok) "success" else "error"))
      }
    }

    // O12/O13 — metadata upsert with per-file status.
    recordStatuses(results.map { case (name, mtime, status) =>
      (name, mtime, status)
    })
    results.map { case (name, _, status) => name -> status }.toMap
  }

  /** O12/O13 — upsert per-file (filename, last_modified, status) rows
    * into the control table (latest-wins MERGE emulation; the small
    * control table is rewritten in full — the plain-parquet MERGE).
    * The merge reads the live table, so it cannot overwrite it in place:
    * it is written once beside it and renamed over it. A crash between
    * the delete and the rename leaves no control table (every listed
    * file is then re-processed, and dedup keeps that idempotent), never
    * a half-written one.
    * Synchronized: the read-merge-overwrite is not atomic, and in a
    * concurrent-streams deployment (Trigger.ProcessingTime, one query
    * per entity in this JVM) two foreachBatch callbacks would otherwise
    * race on the shared path and drop each other's rows.
    */
  def recordStatuses(
      rows: Seq[(String, java.sql.Timestamp, String)]): Unit = this.synchronized {
    if (rows.isEmpty) return
    import spark.implicits._
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val updates = rows
      .map { case (name, mtime, status) => (name, mtime, now, status) }
      .toDF("filename", "last_modified", "last_processed", "status")
    val merged = Ingest.upsertMetadata(metadata, updates)
    val live = new Path(metadataPath)
    val tmp = new Path(s"$metadataPath.__tmp")
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(live) && !fs.delete(live, true) || !fs.rename(tmp, live))
      throw new java.io.IOException(s"could not replace $live with $tmp")
  }

  /** E1 steps 4-7 for one file; true = success, false = error status
    * (validation failure, FK orphans, or read error — etl/app.py:168-170).
    *
    * O4 — transient failures retry with backoff (etl/app.py:92-141). The
    * retry wraps the READ-ONLY phase (source read, validation, dedup
    * derivation, FK checks — safe to re-run arbitrarily); the append is
    * deliberately OUTSIDE it: a partially-committed append is not
    * idempotent under retry (the keys projection only learns the batch
    * after success, so a re-run would re-admit the committed part), and
    * the reference likewise turns a load failure into a plain error
    * status, not a re-load (etl/app.py:168-170).
    */
  private def processFile(entity: String, fullPath: String,
      filename: String): Boolean = {
    try {
      commitPrepared(entity, Ingest.withRetry() {
        val raw =
          if (fullPath.endsWith(".csv"))
            spark.read.option("header", "true").csv(fullPath)
          else if (fullPath.endsWith(".xlsx")) Xlsx.read(spark, fullPath)
          // JSONL (line-delimited JSON) — the standard corpus delivery
          // format; Spark's json source IS line-delimited by default.
          // Inferred types then flow through the same validate/coerce
          // pipeline as the other formats (pandas-read parity). NOTE:
          // inference is a full extra pass over the file — correct for
          // the reference's file-sized deliveries; a high-volume corpus
          // feed should pass the declared entity schema instead.
          else if (fullPath.endsWith(".jsonl")) spark.read.json(fullPath)
          else spark.read.parquet(fullPath)
        prepareBatch(entity, raw, Ingest.withLineage(_, filename))
      })
    } catch { case _: Exception => false }
  }

  /** Commit phase shared by the batch and streaming entries: append the
    * prepared frame (which prepareBatch left persisted and
    * materialized) and maintain the keys projection — nothing when it
    * holds no new rows — then always unpersist.
    */
  private def commitPrepared(entity: String,
      prepared: Option[(DataFrame, Boolean)]): Boolean =
    prepared match {
      case None => false
      case Some((deduped, hasRows)) =>
        try { if (hasRows) commitBatch(entity, deduped); true }
        finally deduped.unpersist(blocking = false)
    }

  /** Streaming entry: ingest one micro-batch for an entity (called from
    * `foreachBatch` — graft.streaming.Streams). Identical semantics to
    * the batch path; lineage comes from `input_file_name()` since a
    * micro-batch may span several source files. Streaming-mode change
    * detection is the file-source checkpoint (documented divergence: the
    * checkpoint never re-ingests a modified file; the batch path's
    * mtime check does — SURVEY.md §7.4), but per-file STATUS tracking
    * (O13) is kept: the checkpoint commits the batch either way, so
    * without a status row a failed batch would be silent data loss with
    * no operator signal.
    */
  def ingestStreamBatch(entity: String, batch: DataFrame): Boolean = {
    {
      // The batch is deliberately NOT persisted: input_file_name()
      // evaluates at the FILE SCAN — computed on top of a cached
      // materialization it comes back empty, which would break per-row
      // lineage (O6). The cost is one extra micro-batch scan for this
      // file-list collect.
      //
      // Per-file status (O13) uses the REAL file mtime (captured as
      // __file_mtime by Streams.entityStream — _metadata resolves only
      // at the source): stamping wall-clock would defeat the batch
      // path's modified-during-processing re-ingest check in mixed-mode
      // deployments. Fallback for non-entityStream callers: filename
      // from the scan, mtime = now.
      val hasMeta = batch.columns.contains("__source_file") &&
        batch.columns.contains("__file_mtime")
      val files =
        (if (hasMeta)
          batch.select(col("__source_file").as("f"),
            col("__file_mtime").as("m"))
        else batch.select(input_file_name().as("f"),
          current_timestamp().cast("timestamp").as("m")))
          .distinct()
          .collect()
          .filter(r => r.getString(0).nonEmpty)
          .map(r => (r.getString(0).split('/').last, r.getTimestamp(1)))
      // Empty batch (e.g. every row routed to another entity) ⇒ no-op:
      // appending an empty partitioned frame would create a schema-less
      // table directory, and there is no outcome to record. files being
      // empty is NOT sufficient — a non-file source has rows but blank
      // filenames — so confirm with the batch itself.
      if (files.isEmpty && batch.isEmpty) return true
      val ok =
        try commitPrepared(entity, Ingest.withRetry() {
          // O4 parity with the batch path: the retried phase includes
          // the materializing reads inside prepareBatch.
          prepareBatch(entity, batch, (df: DataFrame) => Ingest.withLineage(df))
        }) catch {
          // Swallow-and-record ONLY when a status row can witness the
          // failure; with no attributable files (non-file source) the
          // exception must fail the query so the checkpoint does not
          // commit and the batch is redelivered.
          case e: Exception => if (files.isEmpty) throw e else false
        }
      if (files.nonEmpty)
        try recordStatuses(files.toSeq.map { case (f, m) =>
          (f, m, if (ok) "success" else "error")
        }) catch { case _: Exception => () } // status write is best-effort
      ok
    }
    // NO blanket outer catch: a failure BEFORE ingest starts (the
    // file-list collect) must propagate and fail the streaming query so
    // the checkpoint does NOT commit — on restart the source redelivers
    // the batch. Swallowing it would commit the offset with nothing
    // ingested and no status row: silent, unrecoverable loss.
  }

  /** Shared E1 read-only core: validate (O5) → coerce (O7) → enrich
    * (O6) → dedupe (O9) → FK check for facts (O10), MATERIALIZED. No
    * writes — safe to retry arbitrarily, and because the returned frame
    * is persisted and force-computed here, the full source read happens
    * INSIDE the retried phase for every entity (without it, a dim
    * batch's first real scan would be the unretried append). The
    * frame comes with whether it holds any new row, read off that same
    * forcing action. None ⇒ validation/FK failure (error status). The
    * caller unpersists after commit; every failure path unpersists
    * before propagating so retried attempts cannot leak cache entries.
    */
  private def prepareBatch(entity: String, raw: DataFrame,
      enrich: DataFrame => DataFrame): Option[(DataFrame, Boolean)] =
    Ingest.validateColumns(raw, Tables.requiredColumns(entity)) match {
        case Ingest.MissingColumns(_) => None
        case Ingest.Valid =>
          // the stored columns a delivery carries (enrich adds lineage,
          // append the ventes partition column)
          val contract = StructType(stored(entity).fields.filterNot(f =>
            Set("source_file", "imported_at", "sale_date")(f.name)))
          // ventes.date_vente may arrive as an Excel serial (FIXTURES.md).
          // Only values in the plausible Excel-date range [1, 80000]
          // (1900-01-01 .. ~2119) take the serial path — '20250510' or
          // epoch-seconds strings would otherwise become far-future
          // garbage; they fall through to to_timestamp. try_cast (not
          // cast): under ANSI mode (Spark 4 default) a plain cast THROWS
          // on non-numeric date strings instead of yielding null.
          val prepared =
            if (entity == "ventes") {
              val serial = expr("try_cast(date_vente as double)")
              raw.withColumn("date_vente",
                when(serial.isNotNull && !col("date_vente").contains("-") &&
                  serial >= 1 && serial <= 80000,
                  Ingest.excelSerialToTimestamp(serial))
                  .otherwise(expr("try_to_timestamp(date_vente)")))
            } else raw
          val coerced = Ingest.coerceToContract(prepared, contract)
          val enriched = enrich(coerced)
          // Existing side of the dedup anti-join: the narrow keys
          // projection when present, else the full table (fallback).
          val existing = keyProjection(entity).orElse(storedTable(entity))
          val deduped = Ingest.dedupe(enriched, existing,
            Seq(businessKey(entity)))
          deduped.persist()
          try {
            if (entity == "ventes") {
              // O10 — FK check before the caller appends a fact batch.
              // One cached plan + ONE action for both orphan counts
              // (left joins on the dim keys, count the null arms) — the
              // source file is read once, and a file mutated mid-cycle
              // cannot slip unchecked rows into the append. The dim keys
              // are not made distinct: a duplicated key only repeats
              // rows, and a row unmatched on one dim keeps its null arm
              // there in every repeat, so whether any null arm exists —
              // all the check decides — is the same, and so is whether
              // any row exists (the third count). They come from the
              // dim TABLES, not the keys projections: a crash between a
              // dim append and its keys write must not turn committed
              // dims into false orphans.
              def keysOf(name: String, key: String): DataFrame =
                storedTable(name).map(_.select(key)).getOrElse(
                  empty(StructType(Seq(StructField(key, StringType)))))
              val flagged = deduped
                .join(broadcast(keysOf("clients", "client_id")
                  .withColumn("__c", lit(1))), Seq("client_id"), "left")
                .join(broadcast(keysOf("produits", "produit_id")
                  .withColumn("__p", lit(1))), Seq("produit_id"), "left")
              val counts = flagged.agg(
                coalesce(sum(when(col("__c").isNull, 1L).otherwise(0L)), lit(0L)),
                coalesce(sum(when(col("__p").isNull, 1L).otherwise(0L)), lit(0L)),
                count(lit(1))).head()
              if (counts.getLong(0) > 0 || counts.getLong(1) > 0) {
                deduped.unpersist(blocking = false)
                None
              } else Some((deduped, counts.getLong(2) > 0))
            } else {
              // Force the full read inside the retry. A no-op sink only
              // scans the cache; count() would add an aggregate and its
              // shuffle stage (one more job under AQE). The observed
              // row count rides the same job.
              val rows = Observation()
              deduped.observe(rows, count(lit(1)).as("n"))
                .write.format("noop").mode("overwrite").save()
              Some((deduped, rows.get("n").asInstanceOf[Long] > 0))
            }
          } catch {
            case e: Throwable =>
              deduped.unpersist(blocking = false)
              throw e
          }
    }

  /** Write phase (NOT retried — see processFile): data append (O8) then
    * the keys-projection maintenance.
    */
  private def commitBatch(entity: String, deduped: DataFrame): Unit = {
    append(entity, deduped)
    appendKeys(entity, deduped)
  }
}
