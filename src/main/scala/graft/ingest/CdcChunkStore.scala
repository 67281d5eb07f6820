package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** Cross-RUN content-defined CHUNK dedup — the insertion-robust flank
  * of the incremental span family: [[SpanStore]] answers "how much of
  * this text have we seen" over fixed-length character windows, this
  * store answers it over q126's FastCDC-style chunks
  * (`LlmPipeline.cdcChunks` — boundaries where the 3-token-gram hash
  * hits the anchor mask, ONE definition with the oracle-checked
  * in-corpus query). Because chunk boundaries derive from content, a
  * one-token edit re-chunks only the passages overlapping it and every
  * downstream chunk hash still matches history — the case where a
  * fixed-window store's alignment survives (windows slide) but a
  * fixed-CHUNK scheme breaks; conversely chunks are what make the
  * store SMALL: ~1 row per ~16 tokens (vs SpanStore's ~1 per
  * character, a ~100× narrower store for the same corpus), so this is
  * the form to keep hot at 100 TB and the exhaustive character store
  * the one to stride or archive.
  *
  * Protocol mirrors the family: probe = batch chunk stream semi-joins
  * the store on the hash, a document is flagged when its matched-chunk
  * share reaches `maxDupShare`; two-phase record (persist survivors,
  * then [[recordChunks]] — a crash re-delivers instead of dropping);
  * retraction tombstones chunk hashes; Bloom sidecar prunes
  * mostly-novel batches; the [[StoreLayout.Bucketed]] layout holds the
  * chunk hashes under a `content_hash` bucket column so the probe
  * semi-join plans ZERO store-side exchanges. Hash forms: md5 (32-char, q126-exact)
  * or xxh64 (8-byte long — [[graft.queries.LlmPipeline.cdcChunks64]];
  * boundaries stay md5-anchored, so both forms chunk identically).
  *
  * Contract edges: documents with fewer than 3 tokens have no chunks —
  * never flagged, never recorded here (compose with [[DedupStore]] for
  * exact copies of those). Null ids are one pooled identity through
  * the null-safe joins. Within-batch chunk reuse is q126's job; this
  * store only compares against HISTORY.
  */
object CdcChunkStore extends KeyStore[StoreLayout](KeySpec("CdcChunkStore",
    form => StructType(Seq(StructField("h",
      if (form == HashForm.Xx) LongType else StringType))),
    "h", formProp = "graft.cdc.hashform", tableCol = "content_hash")) {

  /** (doc_id, h) chunk stream via the shared q126 derivation, in the
    * store's hash form.
    */
  private def chunks(docs: DataFrame, textCol: String, idCol: String,
      form: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    val c =
      if (form == HashForm.Xx) graft.queries.LlmPipeline.cdcChunks64(base)
      else graft.queries.LlmPipeline.cdcChunks(base)
    c.select(col("doc_id"), col("ch").as("h"))
  }

  /** Phase 1 of the takedown: tombstone `docs`' chunk hashes.
    * Membership is CONTENT-addressed: chunks another document shares
    * with a retracted one stop counting until re-recorded.
    */
  def retract(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout): Unit =
    layout.retract(spec, chunks(docs, textCol, idCol,
      storedHashForm(docs.sparkSession, layout)).select("h"))

  /** Rows of `docs` whose recycled-chunk share vs HISTORY stays below
    * `maxDupShare`: stream chunks once for the store semi-join, once
    * for the per-doc totals (generation is the embarrassingly-parallel
    * scan-side part; the exchange — the semi-join — happens once), flag
    * documents with matched/total ≥ the threshold, null-safe anti-join
    * the flagged ids. Returns the original rows/columns of survivors.
    * With a sidecar the bloom legs are disjoint: every matched chunk
    * instance is counted exactly as the plain join counts it.
    */
  def newChunkUnique(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout, maxDupShare: Double = 0.5): DataFrame = {
    val form = storedHashForm(docs.sparkSession, layout)
    flagSurvivors(docs, textCol, idCol,
      layout.probe(spec, form, chunks(docs, textCol, idCol, form))(
        _.join(_, Seq("h"), "left_semi")),
      maxDupShare, form)
  }

  /** Threshold + anti-join: `matchedChunks` is the (doc_id, h) stream
    * of batch chunks found in history. Totals come from the batch's own
    * chunk stream (chunk counts are content-dependent — no closed
    * form), so numerator and denominator count chunk INSTANCES
    * consistently (a doc carrying a recycled chunk twice contributes 2
    * to both). Null ids pool into one identity end-to-end (null group +
    * null-safe anti-join).
    */
  private def flagSurvivors(docs: DataFrame, textCol: String,
      idCol: String, matchedChunks: DataFrame, maxDupShare: Double,
      form: String): DataFrame = {
    val matched = matchedChunks
      .groupBy(col("doc_id").as("__m_id"))
      .agg(count(lit(1)).as("n_dup"))
    val totals = chunks(docs, textCol, idCol, form)
      .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val flagged = totals.join(matched, col("doc_id") <=> col("__m_id"))
      .filter(col("n_dup").cast("double") / col("n_chunks").cast("double")
        >= maxDupShare)
      .select(col("doc_id").as("__flagged_id")).distinct()
    docs.join(flagged, docs(idCol) <=> flagged("__flagged_id"), "left_anti")
  }

  /** Mark `docs` as seen: append their distinct chunk hashes. Call
    * AFTER survivors are durably persisted (two-phase contract),
    * ideally on the persisted read-back.
    */
  def recordChunks(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout, hashForm: String = ""): Unit = {
    val form = HashForm.resolve(hashForm,
      storedHashForm(docs.sparkSession, layout))
    layout.record(spec, form, 1,
      chunks(docs, textCol, idCol, form).select("h"))
  }
}
