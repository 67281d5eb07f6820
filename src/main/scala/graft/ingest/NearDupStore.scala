package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType,
  StructField, StructType}

/** Cross-RUN NEAR dedup — the MinHash edge of the incremental-dedup
  * family: [[DedupStore]] answers "have we ever seen exactly this
  * content", this store answers "have we ever seen something LIKE it"
  * (reworded boilerplate, re-crawled pages with edited footers, light
  * paraphrases — the duplicates that survive an exact hash).
  *
  * The store holds one row per (band_key, sig) of every recorded
  * document: the LSH band keys of the 16-perm minhash signature
  * (q28's exact derivation — `LlmPipeline.minhashedOf`, ONE definition)
  * plus the full signature for precise verification. A new batch is
  * signed once (native kernel, no shuffle), its band keys equi-join the
  * store — per-band locality, never all-pairs — and candidates are
  * VERIFIED by signature agreement ≥ 8/16 positions (est. Jaccard
  * ≥ 0.5, q28's own threshold), so a lone band collision cannot flag a
  * false near-dup. Two-phase like DedupStore: persist survivors first,
  * [[recordSignatures]] after — a crash re-delivers instead of
  * dropping.
  *
  * Contract edges: documents under 3 tokens have no shingles, hence no
  * signature — they are never flagged and never recorded here. Compose
  * with [[DedupStore]] (exact hash first) to catch those, as q80's
  * pipeline stages do within a corpus. Within-batch near-dups are the
  * q28/q60 pipeline's job; this store only compares against HISTORY.
  * At 100 TB the band_key is the store's at-rest bucket key — in the
  * [[StoreLayout.Bucketed]] layout only the batch's band rows shuffle,
  * the ever-growing signature history never does.
  *
  * Hash forms ([[HashForm]], persisted like the siblings'): the
  * default `"md5"` form stores the band key as q28's concatenated
  * string (`b|v1|…` — ~60 bytes/row); the `"xxh64"` form stores
  * `xxhash64` of that string (8-byte long — the dominant share of the
  * row's key width, and the store's at-rest bucket key, at 100 TB).
  * A band-key hash COLLISION (≈2⁻⁶⁴ per distinct-key pair) can only
  * create a candidate pair, never a flag: every candidate still passes
  * the ≥ minAgree/16 signature verification, which does not read the
  * band key at all.
  */
object NearDupStore extends KeyStore[StoreLayout](KeySpec("NearDupStore",
    form => StructType(Seq(
      StructField("band_key",
        if (form == HashForm.Xx) LongType else StringType),
      StructField("sig", ArrayType(LongType)))),
    "band_key", formProp = "graft.neardup.hashform")) {

  /** Signature agreement count between two 16-long arrays — the q28
    * match statistic (n_match ≥ 8 ⇔ est. Jaccard ≥ 0.5).
    */
  private def agreement(a: String, b: String) = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> if(x <=> y, 1, 0)), " +
      "0, (acc, m) -> acc + m)")

  /** (doc_id, sig, band_key) band rows of `docs` via the shared q28
    * derivation; `idCol`/`textCol` renamed into the kernel's expected
    * shape first.
    */
  private def banded(docs: DataFrame, textCol: String, idCol: String,
      form: String): DataFrame = {
    graft.functions.Functions.register(docs.sparkSession)
    val base = graft.queries.LlmPipeline.minhashedOf(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .withColumnRenamed("bk", "band_key")
    // xx form: the band key narrows to xxhash64 of the q28 string —
    // ONE derivation (hash OF the canonical key), so the two forms
    // can never disagree about which documents share a band
    if (form == HashForm.Xx)
      base.withColumn("band_key", xxhash64(col("band_key")))
    else base
  }

  /** The store rows of `docs`: one (band_key, sig) per band. */
  private def storeRows(docs: DataFrame, textCol: String, idCol: String,
      form: String): DataFrame =
    banded(docs, textCol, idCol, form).select("band_key", "sig")

  // ── Retraction (takedown) — the [[StoreLayout]] two-phase protocol
  // over this store's (band_key, sig) key. Retracting a document removes
  // ITS signature rows; a distinct document that produced byte-identical
  // (band_key, sig) rows — by construction a ~Jaccard-1.0 near-duplicate
  // of the retracted one — loses those shared rows too (content-addressed
  // membership, the same sharing semantics as the span store's windows).

  /** Phase 1: tombstone the (band_key, sig) rows of `docs` — computed
    * with the store's own signing derivation, so retract-by-text is
    * exact against what record-by-text stored.
    */
  def retract(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout): Unit =
    layout.retract(spec, storeRows(docs, textCol, idCol,
      storedHashForm(docs.sparkSession, layout)))

  /** Rows of `docs` that do NOT near-duplicate any recorded document:
    * sign (one kernel pass), equi-join band keys against the store,
    * verify candidates by ≥ `minAgree`/16 signature positions, anti-join
    * the flagged ids. Returns the original rows/columns of survivors.
    * With a sidecar, bloom-hit band rows join the live store and
    * bloom-miss rows only the broadcast residual — both through the one
    * [[flaggedIds]] verification, so a bloom false positive can create a
    * CANDIDATE but never a flag.
    *
    * The anti-join is NULL-SAFE (`<=>`): a null id is one identity,
    * exactly as [[DedupStore]]'s keepers treat it (null ids group
    * together, keep one). Consequence: if ANY null-id document in the
    * batch near-duplicates history, EVERY null-id row is flagged —
    * null carries no distinguishing information, so all-or-none is the
    * only consistent reading. Pipelines that need per-document
    * precision should supply real ids (the DedupStore contract).
    */
  def newNearUnique(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout, minAgree: Int = 8): DataFrame = {
    val form = storedHashForm(docs.sparkSession, layout)
    val flagged = layout.probe(spec, form,
      banded(docs, textCol, idCol, form))(flaggedIds(_, _, minAgree))
      .distinct()
    docs.join(flagged, docs(idCol) <=> flagged("__flagged_id"), "left_anti")
  }

  /** The verification step itself — band rows equi-join the history,
    * candidates verify by ≥ `minAgree`/16 signature positions, flagged
    * doc ids come back. ONE definition for both probe legs, so the
    * threshold semantics cannot drift between them.
    */
  private def flaggedIds(bandRows: DataFrame, store: DataFrame,
      minAgree: Int): DataFrame = {
    val s = store.withColumnRenamed("sig", "stored_sig")
    bandRows.join(s, Seq("band_key"))
      .filter(agreement("sig", "stored_sig") >= minAgree)
      .select(col("doc_id").as("__flagged_id"))
  }

  /** Mark `docs` as seen: append their (band_key, sig) rows. Call AFTER
    * survivors are durably persisted (two-phase contract — see class
    * doc), ideally on the persisted read-back.
    */
  def recordSignatures(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout, hashForm: String = ""): Unit = {
    val form = HashForm.resolve(hashForm,
      storedHashForm(docs.sparkSession, layout))
    layout.record(spec, form, 1, storeRows(docs, textCol, idCol, form))
  }
}
