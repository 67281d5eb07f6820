package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** Cross-RUN duplicated-SPAN dedup — the exact-substring edge of the
  * incremental-dedup family: [[DedupStore]] answers "have we ever seen
  * exactly this content", [[NearDupStore]] answers "have we ever seen
  * something LIKE it", and this store answers "how much of this
  * document's TEXT have we seen before, in any document". It catches
  * the case both siblings structurally miss: a new document ASSEMBLED
  * from previously-recorded passages (template reassembly, quote
  * stitching, scraped-page remixes) — its whole-doc hash is fresh and
  * its minhash similarity to any ONE historical doc can sit far below
  * the near-dup threshold, yet nearly every character is recycled.
  *
  * The store holds one row per distinct 32-char window hash
  * (`LlmPipeline.windowHashesOf` — q101's derivation, ONE definition)
  * of every recorded document. A new batch streams its windows once,
  * equi-joins the store on the hash (semi-join — no row widening), and
  * a document is flagged when its matched-window share reaches
  * `maxDupShare`. Two-phase like its siblings: persist survivors
  * first, [[recordWindows]] after — a crash re-delivers instead of
  * dropping.
  *
  * Contract edges, mirroring the family: documents shorter than `k`
  * chars have no windows — never flagged, never recorded here (compose
  * with [[DedupStore]] to catch exact copies of those). Null ids are
  * one identity (null-safe anti-join): if the null-id cohort's pooled
  * windows cross the threshold, every null-id row is flagged. Within-
  * batch span dups are q101's job; this store only compares against
  * HISTORY.
  *
  * Scale posture: the store is ~1 hash row per corpus character — the
  * exhaustive flank, priced accordingly. The levers, composable with
  * the [[StoreLayout.Bucketed]] layout (window hashes stored under a
  * `content_hash` bucket column; only the batch's window stream
  * shuffles) and the Bloom sidecar: (1) `stride` — record only every
  * stride-th window; the probe still streams ALL windows of the new batch
  * (alignment between copy and original differs, content equality does
  * not), so a copied passage of length L still matches
  * ⌊(L−k+1)/stride⌋ recorded windows and the effective share threshold
  * scales by 1/stride. The stride is PERSISTED with the store (a
  * `.stride` sibling for the path form, a `graft.span.stride` table
  * property for the bucketed form, both surviving compaction) and the
  * probes scale the threshold themselves — callers always pass the
  * SEMANTIC share ("flag when ≥ half the text is recycled" = 0.5)
  * regardless of how the store was recorded; mixed-stride recording is
  * refused loudly (the scaling is undefined over a mixed store).
  * (2) an 8-byte xxhash64 in place of md5 (here md5 keeps the window
  * identity byte-identical with q101's oracle-checked one). (3) q101
  * itself as the in-corpus pre-pass, so only survivors probe history.
  */
object SpanStore extends KeyStore[StoreLayout](KeySpec("SpanStore",
    form => StructType(Seq(StructField("h",
      if (form == HashForm.Xx) LongType else StringType))),
    "h", formProp = "graft.span.hashform", tableCol = "content_hash")) {

  /** (doc_id, h) window stream via the shared q101 derivation —
    * `form` picks the window identity: `"md5"` (32-char string, the
    * q101-oracle-exact default) or `"xxh64"` (8-byte long — 4× less
    * store and exchange per recorded character, the 100 TB form).
    */
  private def windows(docs: DataFrame, textCol: String, idCol: String,
      k: Int, form: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    if (form == HashForm.Xx)
      graft.queries.LlmPipeline.windowHashes64Of(base, k)
    else graft.queries.LlmPipeline.windowHashesOf(base, k)
  }

  /** The stride the store was recorded with (1 if never strided —
    * including stores recorded before stride persistence existed).
    * The stride is a property of the RECORDED DATA: a store recorded at
    * stride 4 holds a quarter of each document's windows, so every
    * probe against it divides its share threshold by 4 — persisting it
    * next to the data is what makes the scaling automatic and a
    * mixed-stride store impossible.
    */
  def storedStride(spark: SparkSession, layout: StoreLayout): Int =
    layout.meta(spark)._2

  /** The batch's recordable window rows — stride-picked and
    * form-hashed exactly as [[recordWindows]] stores them; ONE
    * definition so retraction tombstones precisely what recording
    * stored.
    */
  private def pickedWindows(docs: DataFrame, textCol: String,
      idCol: String, stride: Int, k: Int, form: String): DataFrame = {
    val w = windows(docs, textCol, idCol, k, form)
    (if (stride <= 1) w
    else w.filter((col("pos") - lit(1L)) % lit(stride.toLong) === 0L))
      .select("h")
  }

  // ── Retraction (takedown) — the [[StoreLayout]] two-phase protocol
  // over the window hashes. Span membership is CONTENT-addressed:
  // retracting a document tombstones its window hashes, so spans
  // another document SHARES with it (boilerplate both carry) stop
  // counting as recycled until something re-records them — the
  // conservative direction for takedown (text adjacent to removed
  // content is admitted, never over-flagged).

  /** Phase 1: tombstone `docs`' window hashes, computed at the store's
    * PERSISTED stride and form (the same pick recording used). Probes
    * subtract immediately; the next compaction drops the rows.
    */
  def retract(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout,
      k: Int = graft.queries.LlmPipeline.SpanK): Unit = {
    val (form, stride) = layout.meta(docs.sparkSession)
    layout.retract(spec, pickedWindows(docs, textCol, idCol, stride, k, form))
  }

  /** Rows of `docs` whose recycled-text share vs HISTORY stays below
    * `maxDupShare`: stream windows once, semi-join the store, flag
    * documents with matched/total ≥ the threshold, null-safe anti-join
    * the flagged ids. Returns the original rows/columns of survivors.
    * `maxDupShare` is the SEMANTIC share of recycled text — the probe
    * reads the store's persisted stride and scales the threshold by
    * 1/stride itself (class doc). With a sidecar, bloom-hit windows
    * semi-join the live store and bloom-miss windows only the broadcast
    * residual: the legs are disjoint, so every matched POSITION is
    * counted exactly as the plain join counts it — which keeps the
    * dup-share invariant under duplicate-id / null-id-cohort row
    * multiplicity.
    */
  def newSpanUnique(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout, maxDupShare: Double = 0.5,
      k: Int = graft.queries.LlmPipeline.SpanK): DataFrame = {
    val (form, stride) = layout.meta(docs.sparkSession)
    flagSurvivors(docs, textCol, idCol,
      layout.probe(spec, form, windows(docs, textCol, idCol, k, form))(
        _.join(_, Seq("h"), "left_semi")),
      maxDupShare / stride, k)
  }

  /** Threshold + anti-join: `matchedPositions` is the (doc_id, pos, …)
    * stream of batch windows found in the store history. Null ids are
    * one identity end-to-end: the totals⋈matched join and the final
    * anti-join are BOTH null-safe (a plain using-column join would
    * silently drop the null-id cohort before the threshold test).
    */
  private def flagSurvivors(docs: DataFrame, textCol: String,
      idCol: String, matchedPositions: DataFrame, maxDupShare: Double,
      k: Int): DataFrame = {
    val matched = matchedPositions
      .groupBy(col("doc_id").as("__m_id"))
      .agg(count(lit(1)).as("n_dup"))
    val totals = docs.select(col(idCol).as("doc_id"),
        greatest(char_length(col(textCol)).cast("long") - lit(k - 1L),
          lit(0L)).as("n_windows"))
      .filter(col("n_windows") > 0L)
      .groupBy("doc_id").agg(sum("n_windows").as("n_windows"))
    val flagged = totals.join(matched, col("doc_id") <=> col("__m_id"))
      .filter(col("n_dup").cast("double") / col("n_windows").cast("double")
        >= maxDupShare)
      .select(col("doc_id").as("__flagged_id")).distinct()
    docs.join(flagged, docs(idCol) <=> flagged("__flagged_id"), "left_anti")
  }

  /** Mark `docs` as seen: append their distinct window hashes (every
    * stride-th position; stride 1 = all). Call AFTER survivors are
    * durably persisted (two-phase contract), ideally on the persisted
    * read-back. `stride` and `hashForm` are persisted with the store on
    * its first append (empty form FOLLOWS the store's recorded one, so
    * a long-running appender needs no form plumbing); recording at
    * another stride or form into a non-empty store is refused.
    */
  def recordWindows(docs: DataFrame, textCol: String, idCol: String,
      layout: StoreLayout, stride: Int = 1,
      k: Int = graft.queries.LlmPipeline.SpanK,
      hashForm: String = ""): Unit = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val form = HashForm.resolve(hashForm,
      storedHashForm(docs.sparkSession, layout))
    layout.record(spec, form, stride,
      pickedWindows(docs, textCol, idCol, stride, k, form))
  }
}
