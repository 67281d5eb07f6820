package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField,
  StructType}

/** Cross-RUN NEAR dedup for MEDIA — [[NearDupStore]]'s contract over
  * the 64-bit perceptual hashes
  * ([[graft.multimodal.Multimodal.aHash64]] /
  * [[graft.multimodal.Multimodal.audioHash64]]) instead of minhash
  * signatures: the exact media store (the `__phash` DedupStore cycle)
  * answers "have we ever seen THIS image/recording", this store
  * answers "have we ever seen one WITHIN HAMMING 3 of it" — the
  * slightly-recompressed, mildly-retouched, or requantized variants
  * whose hash moves a bit or three.
  *
  * Store rows are (band_key, sig): sig = the hash's four 16-bit bands
  * as a 4-long array, band_key = the position-tagged band value
  * (`b·2¹⁶ + band_b` — bands cannot cross-match positions). Probes
  * equi-join candidates on a shared band (pigeonhole: Hamming ≤ 3
  * over 4 bands ⇒ ≥ 1 band exactly equal, q125/q30's guarantee — no
  * false negatives, never all-pairs) and VERIFY by the exact bitwise
  * Hamming distance Σ bit_count(xor) ≤ `maxHamming`, so a band
  * collision can create a candidate, never a flag.
  *
  * The machinery is the family's [[KeyStore]] protocol, shared rather
  * than rebuilt: two-phase records (persist survivors first,
  * [[recordHashes]] from the committed read-back), tombstoned
  * retraction, compaction reclaiming at-least-once re-records, and the
  * band_key Bloom sidecar with the disjoint hit/miss probe split. Callers compute
  * the hash frame ONCE per batch (decode is the expensive step) and
  * pass it to both the probe and the record.
  *
  * At 100 TB: the store's only join is the band-key equi-join — the
  * same shape as the text near store, so the [[StoreLayout.Bucketed]]
  * layout (band_key as the at-rest bucket key) plans zero store-side
  * exchanges; the sidecar keeps mostly-novel batches off the history
  * entirely.
  */
object MediaNearStore extends KeyStore[StoreLayout](KeySpec("MediaNearStore",
    _ => StructType(Seq(
      StructField("band_key", LongType),
      StructField("sig", ArrayType(LongType)))),
    "band_key")) {

  /** (doc_id, sig, band_key) band rows of a (media_id, band0..band3) hash
    * frame — 4 rows per medium, position-tagged keys.
    */
  private def bandRows(hashes: DataFrame): DataFrame =
    hashes
      .select(col("media_id").as("doc_id"),
        array(col("band0").cast(LongType), col("band1").cast(LongType),
          col("band2").cast(LongType), col("band3").cast(LongType))
          .as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(expr(
          "transform(sequence(0, 3), " +
            "b -> b * 65536L + element_at(sig, b + 1))")).as("band_key"))

  private def storeRows(hashes: DataFrame): DataFrame =
    bandRows(hashes).select("band_key", "sig")

  /** Exact bitwise Hamming distance between two 4-band signatures. */
  private def hammingOf(a: String, b: String) = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> bit_count(x ^ y)), " +
      "0, (acc, h) -> acc + h)")

  /** Survivors of `media` whose hash is NOT within `maxHamming` of any
    * recorded hash: band candidate join + exact Hamming verification +
    * the family's null-safe anti-join (null ids are one identity — the
    * [[DedupStore]] contract). `hashes` is the batch's
    * (media_id, band0..band3) frame; media rows absent from it (e.g.
    * undecodable payloads) have no signature, are never flagged, and
    * pass through — gate them upstream if they must not.
    */
  def newNearUnique(media: DataFrame, idCol: String, hashes: DataFrame,
      layout: StoreLayout, maxHamming: Int = 3): DataFrame = {
    val flagged = layout.probe(spec, HashForm.Md5, bandRows(hashes))(
      flaggedIds(_, _, maxHamming)).distinct()
    media.join(flagged, media(idCol) <=> flagged("__flagged_id"),
      "left_anti")
  }

  /** The verification step — ONE definition for both probe legs, the
    * [[NearDupStore]] discipline.
    */
  private def flaggedIds(bands: DataFrame, store: DataFrame,
      maxHamming: Int): DataFrame = {
    val s = store.withColumnRenamed("sig", "stored_sig")
    bands.join(s, Seq("band_key"))
      .filter(hammingOf("sig", "stored_sig") <= maxHamming)
      .select(col("doc_id").as("__flagged_id"))
  }

  /** Mark hashes as seen — append their (band_key, sig) rows. Call
    * AFTER survivors are durably persisted (two-phase contract), on
    * the hash frame of the committed read-back.
    */
  def recordHashes(hashes: DataFrame, layout: StoreLayout): Unit =
    layout.record(spec, HashForm.Md5, 1, storeRows(hashes))

  /** Phase-1 retraction: tombstone the (band_key, sig) rows of the
    * given hash frame. A distinct medium whose hash is byte-identical
    * (a Hamming-0 perceptual duplicate of the retracted one) shares
    * those rows and loses them too — the content-addressed membership
    * semantics of the sibling stores.
    */
  def retract(hashes: DataFrame, layout: StoreLayout): Unit =
    layout.retract(spec, storeRows(hashes))
}
