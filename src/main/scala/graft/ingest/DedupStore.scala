package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** Cross-RUN exact content dedup — the incremental edge of the dedup
  * family: q27 dedups within a corpus, Streams.streamingContentDedup
  * dedups within a watermark window, and this store dedups a new batch
  * against EVERYTHING ingested in prior runs (the "have we ever seen
  * this document" check a continuously-fed training corpus needs).
  *
  * The store is a plain parquet directory of (content_hash) rows,
  * appended once per committed batch — append-only, no merge, so a
  * batch commit is one parquet write. A periodic [[compactStore]] keeps
  * the file count flat and drops re-delivered rows; it too only adds
  * and deletes files. The anti-join shuffles both sides on the hash; a
  * PATH-read parquet store like this one always plans a store-side
  * shuffle, which is still one narrow (hash-only) column — but at
  * 100 TB the store's row count dwarfs every batch, so re-shuffling it
  * per batch is the dominant cost. The [[StoreLayout.Bucketed]] layout
  * fixes that: the store lives in the session catalog as a parquet table
  * bucketed by content_hash; the bucketed scan satisfies the anti-join's
  * required hash distribution straight off the files, so ONLY the
  * (small) batch side shuffles — zero exchange on the store side, at
  * any store size (LayoutSpec pins the plan).
  *
  * Two-phase by design ([[KeyStore]]): [[newUnique]] answers "which
  * rows are new"; [[recordHashes]] marks them seen — never a fused
  * check-and-record, which would drop a batch that was never persisted.
  */
object DedupStore extends KeyStore[StoreLayout](KeySpec("DedupStore",
    form => StructType(Seq(StructField("content_hash",
      if (form == HashForm.Xx) LongType else StringType))),
    "content_hash", formProp = "graft.dedup.hashform")) {

  /** Hash column the store keys on — ONE definition with q27/q80
    * (LlmPipeline.contentHash / contentHash64): md5 (or xxhash64, per
    * the store's persisted form) of whitespace/case-normalized text.
    * Null text coalesces to the empty string first (the
    * streamingContentDedup contract): a null-text document HAS content
    * — empty — and all empty-content rows are duplicates of each other;
    * md5(null) would be a null key that no anti-join can ever match, so
    * null-text docs would re-deliver as "new" forever.
    */
  private def hashOf(textCol: String, form: String) = {
    val c = coalesce(col(textCol), lit(""))
    if (form == HashForm.Xx) graft.queries.LlmPipeline.contentHash64(c)
    else graft.queries.LlmPipeline.contentHash(c)
  }

  private def antiJoin(rows: DataFrame, store: DataFrame): DataFrame =
    rows.join(store, Seq("content_hash"), "left_anti")

  /** Rows of `docs` never seen before, with the computed `content_hash`
    * as an extra output column (so [[recordHashes]] — and any audit —
    * can reuse it without re-running this plan): within-batch
    * duplicates collapse to one keeper per hash (the min-`idCol` row;
    * null ids order last, and an all-null-id group still keeps exactly
    * one row rather than vanishing), then the keepers anti-join the
    * store on the hash. Both steps shuffle on the hash — the same
    * content-bucketed movement as q27; nothing touches the driver. The
    * hash is computed in the store's own persisted form, so a probe
    * can never silently miss an xxh64 store with md5 strings.
    */
  def newUnique(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout): DataFrame = {
    val form = storedHashForm(docs.sparkSession, layout)
    layout.probe(spec, form, keepers(docs, textCol, idCol, form))(antiJoin)
      // the USING-key join leads with the hash, whichever legs ran
      .select(("content_hash" +: docs.columns.toSeq).map(col): _*)
  }

  /** Within-batch dedup: hash every row, keep one row per hash. */
  private def keepers(docs: DataFrame, textCol: String,
      idCol: String, form: String): DataFrame = {
    for (reserved <- Seq("content_hash", "__rn"))
      require(!docs.columns.exists(_.equalsIgnoreCase(reserved)),
        s"DedupStore reserves the column name $reserved")
    val hashed = docs.withColumn("content_hash", hashOf(textCol, form))
    // row_number, not a min-window + equality filter: a null-id row
    // never satisfies `id === min(id)` (null comparison), so an
    // all-null-id group would silently disappear from the output —
    // neither returned nor recorded. rank 1 always exists.
    hashed
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("content_hash")
          .orderBy(col(idCol).asc_nulls_last)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** MEMBERSHIP gate over the store — rows of `docs` whose `keyCol`
    * content hash is ABSENT from the store, row multiplicity
    * PRESERVED: where [[newUnique]] asks "is this content new" and
    * collapses within-batch duplicates to one keeper (the dedup
    * shape), this asks "is this row's KEY on the list" (the BLOCKLIST
    * shape — a domain/URL blocklist is exactly a content-hash store
    * whose recorded keys are domains, and every row from an UNLISTED
    * domain must survive, not one per domain). Hashing inherits
    * [[hashOf]]'s case/whitespace normalization — case-insensitive
    * domain matching for free — and the store's persisted hash form.
    * Output columns are the input's, unchanged. Un-listing a key is
    * the standard retraction protocol ([[retract]] the key rows);
    * compaction/sidecar likewise.
    */
  def newUnseen(docs: DataFrame, keyCol: String,
      layout: StoreLayout): DataFrame = {
    require(!docs.columns.exists(_.equalsIgnoreCase("content_hash")),
      "DedupStore reserves the column name content_hash")
    val form = storedHashForm(docs.sparkSession, layout)
    layout.probe(spec, form,
        docs.withColumn("content_hash", hashOf(keyCol, form)))(antiJoin)
      .drop("content_hash")
  }

  /** Mark `docs` seen: append their content hashes to the store. Call
    * AFTER the survivors are durably persisted (see class doc), ideally
    * on the persisted read-back. Reuses a `content_hash` column when
    * the frame carries one ([[newUnique]]'s output does) — recomputing
    * from `textCol` would re-run the caller's whole upstream plan,
    * including the store scan, a second time. One append of a
    * hash-only projection — bytes written scale with the batch, never
    * the store.
    */
  def recordHashes(docs: DataFrame, textCol: String, layout: StoreLayout,
      hashForm: String = ""): Unit = {
    val form = HashForm.resolve(hashForm,
      storedHashForm(docs.sparkSession, layout))
    layout.record(spec, form, 1, hashProjection(docs, textCol, form))
  }

  /** The batch's hash projection in the store's `form`, reusing a
    * carried `content_hash` column when its TYPE matches the form
    * ([[newUnique]]'s output does). A carried hash of the OTHER form
    * is refused loudly — recording md5 strings into an xxh64 store
    * would be silently unmatchable by every later probe.
    */
  private def hashProjection(docs: DataFrame, textCol: String,
      form: String): DataFrame =
    if (docs.columns.contains("content_hash")) {
      val t = docs.schema("content_hash").dataType
      require(t == spec.schemaOf(form).head.dataType,
        s"carried content_hash has type $t but the store's hash form " +
          s"is $form — pass the probe output of a matching store, or " +
          "drop the column to recompute from the text")
      docs.select("content_hash")
    } else docs.select(hashOf(textCol, form).as("content_hash"))

  /** [[recordHashes]] without the checkpoint barrier, for a path
    * store: stages the batch's hashes in a sibling directory (a durable
    * parquet write — no executor-memory blocks to lose), then moves the
    * staged files in ([[StoreLayout.Path.stageIn]], the same
    * stage-and-move step compaction uses). Use on long-running clusters
    * where executor loss / dynamic-allocation decommission between
    * checkpoint and append is a real event; the extra cost is one
    * staged write of a hash-only projection. The staged write never
    * scans the store directory it appends to (different path), so the
    * self-scan race recordHashes pins against cannot occur. A crash
    * before any move loses nothing (at-least-once re-delivery); a crash
    * mid-move re-delivers the remaining hashes as duplicates, which
    * [[compactStore]] reclaims — same contract as recordHashes.
    */
  def recordHashesStaged(docs: DataFrame, textCol: String,
      storePath: String, hashForm: String = ""): Unit = {
    val layout = StoreLayout.Path(storePath)
    val form = HashForm.resolve(hashForm,
      storedHashForm(docs.sparkSession, layout))
    layout.commitMeta(docs.sparkSession, spec, form, 1)
    layout.stageIn(hashProjection(docs, textCol, form).distinct(), "stage")
  }

  /** Retract documents by content: phase 1 of the takedown protocol
    * ([[StoreLayout]]). The batch's hashes are computed with the
    * store's own derivation, so retract-by-text is exact against what
    * record-by-text stored.
    */
  def retract(docs: DataFrame, textCol: String, layout: StoreLayout): Unit =
    retractHashes(docs.select(
      hashOf(textCol, storedHashForm(docs.sparkSession, layout))
        .as("content_hash")), layout)

  /** Retract by precomputed hash (`content_hash` column) — the form a
    * takedown list arrives in when the original text is itself no
    * longer storable. The column's TYPE must match the store's
    * persisted hash form (a string tombstone can never mask an xxh64
    * store's long rows — refused loudly, like the record side).
    */
  def retractHashes(hashes: DataFrame, layout: StoreLayout): Unit = {
    val form = storedHashForm(hashes.sparkSession, layout)
    val t = hashes.schema("content_hash").dataType
    require(t == spec.schemaOf(form).head.dataType,
      s"content_hash has type $t but the store's hash form is $form — " +
        "tombstones of the other form can never match the stored rows")
    layout.retract(spec, hashes.select("content_hash"))
  }
}
