package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's ETL dataflow (reference: etl/app.py, full operator
  * inventory in SURVEY.md §2.1), re-expressed as composable, pure
  * `DataFrame => DataFrame` operators so batch and Structured Streaming
  * (`foreachBatch`) share the exact same code (SURVEY.md §7.1).
  *
  * Scale posture: every operator is a declarative plan — no driver-side
  * row iteration anywhere. Dedup anti-joins shuffle on the business key
  * only; at 100 TB the `existing` side is a bucketed keys-only projection
  * so re-ingest cost is one co-located join, not a table rewrite.
  */
object Ingest {

  /** Validation outcome, mirroring the reference's per-file success/error
    * status (etl/app.py:274-275, init-db/init.sql:16).
    */
  sealed trait ValidationResult
  case object Valid extends ValidationResult
  final case class MissingColumns(missing: Seq[String])
    extends ValidationResult

  /** O5 — required-column contract (etl/app.py:150-155,179-184,208-213):
    * reject the file if any required column is missing; extra columns are
    * tolerated on read and dropped at project time (the reference's
    * ragged-row behavior, FIXTURES.md produits row 2).
    */
  def validateColumns(df: DataFrame, required: Seq[String]): ValidationResult = {
    val have = df.columns.toSet
    val missing = required.filterNot(have)
    if (missing.isEmpty) Valid else MissingColumns(missing)
  }

  /** O5/O7 — project down to the contract columns and cast to the declared
    * types (etl/app.py:162-163,191-192,220-225 force VARCHAR business keys;
    * we coerce every contract column). Missing→error upstream; extra→drop.
    */
  def coerceToContract(df: DataFrame, contract: StructType): DataFrame =
    df.select(contract.fields.filter(f => df.columns.contains(f.name))
      .map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

  /** O6 — lineage enrichment (etl/app.py:158-159,187-188,216-217):
    * `source_file` = basename of the input file, `imported_at` = load
    * wall-clock. Uses the file-source metadata column when present so the
    * value is per-row-correct under multi-file reads.
    */
  def withLineage(df: DataFrame): DataFrame = {
    val base = element_at(split(input_file_name(), "/"), -1)
    df.withColumn("source_file", base)
      .withColumn("imported_at", current_timestamp())
  }

  /** Same lineage columns with an explicit filename (for sources that do
    * not flow through a Spark file scan, e.g. driver-created frames).
    */
  def withLineage(df: DataFrame, filename: String): DataFrame =
    df.withColumn("source_file", lit(filename))
      .withColumn("imported_at", current_timestamp())

  /** §1.2 — Excel serial number → timestamp (the reference's ventes fixture
    * ships date_vente as 45787.604…; pandas converts silently,
    * data/excel/ventes.xlsx). Days since 1899-12-30, fraction = time of day;
    * rounded to whole seconds like Excel display does.
    */
  def excelSerialToTimestamp(serial: Column): Column =
    to_timestamp(lit("1899-12-30 00:00:00")) + make_dt_interval(
      lit(0), lit(0), lit(0), round(serial * 86400).cast(DecimalType(18, 0)))

  /** O2 — Excel lock-file filter (etl/app.py:262-263): drop `~$*` temp
    * artifacts from a file listing column.
    */
  def isLockFile(filename: Column): Column =
    element_at(split(filename, "/"), -1).startsWith("~$")

  /** O11 — file-type router (etl/app.py:235-246): substring dispatch on the
    * lowercase basename; None = unrecognized → warn + skip in the caller.
    */
  def entityFor(filename: String): Option[String] = {
    val base = filename.split('/').last.toLowerCase
    if (base.contains("client")) Some("clients")
    else if (base.contains("produit")) Some("produits")
    else if (base.contains("vente")) Some("ventes")
    else None
  }

  /** O9 (idempotent variant — the readme's stated intent, readme.md:27
    * "évitement des doublons"): drop in-batch duplicates on the business
    * key, then anti-join against already-loaded keys. The existing side
    * is reduced to a keys-only projection (column pruning keeps the scan
    * narrow) and NOT made distinct: a left-anti join emits each batch
    * row at most once whatever the multiplicity of its matches, so a
    * `distinct` there would only add an aggregate (and its shuffle) over
    * the whole existing key set. No broadcast hint either: at 100 TB the
    * existing key set exceeds any broadcast budget, so the join must be
    * free to shuffle on the key (or co-locate via a bucketed keys
    * projection); AQE picks broadcast by itself when the table is
    * actually small.
    */
  def dedupe(batch: DataFrame, existing: Option[DataFrame],
      keys: Seq[String]): DataFrame = {
    val inBatch = batch.dropDuplicates(keys)
    existing match {
      case Some(e) => inBatch.join(
        e.select(keys.map(col).toSeq: _*), keys, "left_anti")
      case None => inBatch
    }
  }

  /** O9 (strict-parity variant): the reference's UNIQUE constraint aborts
    * the whole batch on any conflict (init-db/init.sql:23,37,50; failure
    * caught at etl/app.py:168-170). Returns the number of conflicting keys;
    * caller fails the batch if > 0.
    */
  def duplicateKeyCount(batch: DataFrame, existing: DataFrame,
      keys: Seq[String]): Long =
    batch.join(existing.select(keys.map(col).toSeq: _*).distinct(),
      keys, "left_semi").count()

  /** O10 — referential-integrity orphan check (FKs init-db/init.sql:58-59):
    * rows of `fact` whose key has no match in `dim`. Empty ⇒ batch is
    * FK-clean; non-empty ⇒ fail/quarantine (the reference aborts).
    */
  def orphans(fact: DataFrame, dim: DataFrame, key: String): DataFrame =
    fact.join(broadcast(dim.select(key).distinct()), Seq(key), "left_anti")

  /** O12 — metadata upsert, latest-wins (etl/app.py:55-89): union the new
    * status rows with the existing control table and keep the newest row
    * per filename via a ranked window (the plain-Spark MERGE emulation,
    * SURVEY.md §2 O12).
    */
  def upsertMetadata(existing: DataFrame, updates: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("filename"))
      .orderBy(desc("last_processed"), desc("last_modified"))
    existing.unionByName(updates)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** §1.2 — SERIAL surrogate-key emulation (init-db/init.sql:12,22,36,49):
    * contiguous 1..N ids via row_number() over an explicit total order.
    * COST: a global row_number forces a single-partition sort — use only
    * where exact contiguous serials are a hard requirement (the reference
    * surrogate ids). At scale prefer the business key, or
    * `monotonically_increasing_id()` when ids only need uniqueness
    * (distributed, but non-contiguous).
    */
  def withSerial(df: DataFrame, order: Seq[Column],
      name: String = "id"): DataFrame =
    df.withColumn(name,
      row_number().over(Window.orderBy(order: _*)).cast(LongType))

  /** O4 — read retry with backoff (etl/app.py:92-141: ≤3 retries, 2 s
    * delay; the shadow-copy branch is Windows-lock specific and out of
    * scope for a distributed FS). `sleep` is injectable for tests.
    */
  @annotation.tailrec
  def withRetry[T](maxRetries: Int = 3, delayMs: Long = 2000,
      sleep: Long => Unit = Thread.sleep)(f: => T): T = {
    val attempt = try Right(f) catch { case e: Exception => Left(e) }
    attempt match {
      case Right(v) => v
      case Left(e) =>
        if (maxRetries <= 1) throw e
        sleep(delayMs)
        withRetry(maxRetries - 1, delayMs, sleep)(f)
    }
  }

  /** O3 — incremental change detection (etl/app.py:36-52): a file needs
    * processing iff it has never been seen, or its mtime is strictly newer
    * than the recorded watermark. Deliberate deviation: the reference
    * compares mtime against `last_processed` (etl/app.py:49); we compare
    * against the recorded `last_modified`, which additionally re-ingests a
    * file modified *during* its own processing (safer; the reference would
    * skip it until the next touch). The at-least-once bias on lookup error
    * maps to the outer join's null arm.
    * `listing` = (filename, last_modified); `metadata` = the control table.
    */
  def filesNeedingProcessing(listing: DataFrame,
      metadata: DataFrame): DataFrame = {
    val m = metadata.select(col("filename"),
      col("last_modified").as("__seen_mtime"))
    listing.join(broadcast(m), Seq("filename"), "left_outer")
      .filter(col("__seen_mtime").isNull ||
        col("last_modified") > col("__seen_mtime"))
      .drop("__seen_mtime")
  }
}
