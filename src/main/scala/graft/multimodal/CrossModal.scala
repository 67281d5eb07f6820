package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CROSS-MODAL alignment scoring — the CLIP-score filter, the most-used
  * multimodal curation operator (LAION/DataComp keep an image-text pair
  * only when the cosine between the caption's text embedding and the
  * image's vision embedding clears a threshold; the same gate drops
  * mis-scraped alt-text, watermark boilerplate, and wrong-language
  * captions). The repo's embedding machinery is modality-agnostic
  * arrays, so the operator is a composition, not a new kernel: the
  * alignment score is the NATIVE codegen'd `cosine_sim` expression
  * (graft.functions.CosineSimilarity — the q24 primitive) over a
  * PAIRED frame carrying both modalities' vectors as columns.
  *
  * Pairing is the caller's join (doc_id ↔ media_id is an id equi-join
  * — co-partitionable at rest at any scale); this operator is the
  * per-row score + gate AFTER pairing, which makes the gate a
  * STATELESS projection/filter: it composes pre-sink into a streaming
  * feed exactly like the literal quality model (no join, no state, no
  * watermark — see `Streams.crossModalGate`).
  *
  * Missing-modality contract: `cosine_sim` is NULL when either vector
  * is null, the dimensions disagree, or an element is null — and a
  * pair whose alignment cannot be established is MISALIGNED by
  * definition (the conservative curation direction), so [[keepAligned]]
  * drops it (`NULL >= τ` is never true). Degenerate zero-norm vectors
  * score NaN and are rejected by an explicit isnan guard (Spark
  * orders NaN ABOVE every number, so a bare threshold compare would
  * admit them); the q119 embedding-health audit remains the upstream
  * screen for the vectors themselves.
  *
  * Scale posture (100 TB): one fused primitive loop per already-paired
  * row inside whole-stage codegen — no shuffle, no state; the expensive
  * part at scale is the pairing join the caller controls (bucket both
  * sides by the shared id), never this gate.
  */
object CrossModal {

  private def alignment(captionVecCol: String,
      imageVecCol: String): Column =
    expr(s"cosine_sim($captionVecCol, $imageVecCol)")

  /** `pairs` with an `alignment` column appended: cosine between the
    * two modality vectors (`array<double>` columns, the q24 contract).
    */
  def scored(pairs: DataFrame, captionVecCol: String,
      imageVecCol: String): DataFrame = {
    graft.functions.Functions.register(pairs.sparkSession)
    pairs.withColumn("alignment", alignment(captionVecCol, imageVecCol))
  }

  /** Rows of `pairs` whose alignment clears `minAlignment` — the CLIP
    * gate. Pairs with an undefined score drop: NULL (missing modality,
    * dimension mismatch, null element) never clears the threshold, and
    * NaN (zero-norm vector — the dead-encoder output q119 screens
    * for) is rejected EXPLICITLY, because Spark's comparison semantics
    * order NaN above every number and a bare `>= τ` would wave the
    * degenerate pair through. A stateless per-row filter —
    * streaming-safe pre-sink.
    */
  def keepAligned(pairs: DataFrame, captionVecCol: String,
      imageVecCol: String, minAlignment: Double): DataFrame = {
    graft.functions.Functions.register(pairs.sparkSession)
    val a = alignment(captionVecCol, imageVecCol)
    pairs.filter(a >= minAlignment && !isnan(a))
  }
}
