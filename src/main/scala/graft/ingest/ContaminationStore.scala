package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Cross-RUN benchmark-CONTAMINATION gate — the curation stage every
  * production pretraining feed runs that the dedup family cannot
  * express: [[DedupStore]]/[[NearDupStore]]/[[SpanStore]] compare a
  * document against CORPUS history ("have we kept something like this
  * before"), while this store compares it against a standing HELD-OUT
  * set ("does this document leak an evaluation benchmark"). A
  * benchmark-contaminated document must be dropped on EVERY run, from
  * the first batch onward — membership never depends on what the feed
  * has previously admitted.
  *
  * The store holds one row per (gram hash, benchmark doc id) of every
  * registered benchmark document, where the gram identity is q53's
  * 3-word-shingle kernel (`shingle_hashes` — ONE definition with the
  * in-query decontamination pass, so the gate can never drift from the
  * oracle-checked q53 arithmetic; reference semantics:
  * /root/reference etl/app.py has no decontamination stage — this is
  * north-star LLM-pipeline surface). A batch is shingled once (native
  * per-row kernel, no shuffle), its grams equi-join the store, and a
  * document is flagged when it shares ≥ `minSharedGrams` DISTINCT
  * grams with the benchmark set (1 = the strict production default:
  * any verbatim 3-word overlap with held-out text drops the doc).
  * `bench_id` is carried for PROVENANCE — the audit can answer "which
  * benchmark does this doc leak" ([[overlap]]) and a retired benchmark
  * retracts by content ([[retractBenchmark]]).
  *
  * Two-phase is intentionally ASYMMETRIC vs the dedup siblings: the
  * feed only READS this store (rejects are dropped, never recorded —
  * a document resubmitted after a benchmark retraction is judged
  * afresh); writes happen on the benchmark-registration path
  * ([[recordBenchmark]]), which is rare, offline, and idempotent
  * under at-least-once delivery (distinct rows; probes countDISTINCT).
  *
  * Scale posture (100 TB): a held-out benchmark set is KB–GB of grams
  * at ANY corpus scale — the store side of the probe join is
  * broadcast whenever it fits [[StoreLayout.tombstoneBroadcastCeiling]]
  * (size-gated, never forced: an over-ceiling store degrades to a
  * shuffle join instead of an OOM), so the batch's gram stream
  * usually never shuffles to be gated. The Bloom sidecar prunes the
  * gram stream BEFORE even that: on a mostly-clean batch nearly every
  * gram is a bloom miss, and a miss is proof it is not benchmark
  * text. The store is [[StoreLayout.Path]]-only BY DESIGN — bucketing
  * pays off when the store side is too big to broadcast and too hot
  * to shuffle, which contradicts this store's fixed-benchmark sizing;
  * registering a corpus-sized "benchmark" is a usage error, not a
  * layout problem.
  */
object ContaminationStore extends KeyStore[StoreLayout.Path](KeySpec(
    "ContaminationStore", _ => StructType(Seq(
      StructField("g", LongType),
      StructField("bench_id", LongType))),
    "g")) {

  /** Distinct (doc_id, g) gram rows of `docs` via q53's shingle
    * kernel. The explode(array(...)) Generate is the family's kernel
    * barrier: the null filter cannot be pushed past it, so the kernel
    * runs exactly once per row (`shingle_hashes` already returns a
    * distinct sorted array — no extra dedup needed per doc).
    */
  private def grams(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    graft.functions.Functions.register(docs.sparkSession)
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        explode(array(expr("shingle_hashes(text)"))).as("shd"))
      .filter(col("shd").isNotNull)
      .select(col("doc_id"), explode(col("shd")).as("g"))
  }

  /** `side` of a probe join over the store, broadcast while the
    * store's files fit [[StoreLayout.tombstoneBroadcastCeiling]] —
    * size-gated, never forced.
    */
  private def gated(store: StoreLayout.Path, side: DataFrame): DataFrame = {
    val spark = side.sparkSession
    StoreLayout.gatedHint(spark, side, store.dataBytes(spark))
  }

  private def benchRows(bench: DataFrame, textCol: String,
      idCol: String): DataFrame =
    grams(bench, textCol, idCol)
      .select(col("g"), col("doc_id").as("bench_id"))

  /** Register benchmark documents: append their distinct
    * (gram, bench_id) rows. Idempotent for every probe (duplicates
    * only widen countDISTINCT inputs; [[compactStore]] reclaims them).
    */
  def recordBenchmark(bench: DataFrame, textCol: String, idCol: String,
      store: StoreLayout.Path): Unit =
    store.record(spec, HashForm.Md5, 1, benchRows(bench, textCol, idCol))

  /** The q53 overlap audit THROUGH the store: for each probed document
    * sharing at least one gram with the registered benchmark set,
    * (doc_id, n_shared_grams, n_bench_docs) — countDISTINCT over the
    * gram join, exactly the in-query q53 arithmetic, so the q146
    * oracle replays this result from the raw tables and a drift
    * anywhere in the record/probe path breaks the hash. The live store
    * (data minus tombstones: a tombstone removes exactly the (g, bench)
    * pairs a retired benchmark recorded, leaving grams other benchmarks
    * share still armed) rides a size-gated broadcast.
    */
  def overlap(docs: DataFrame, textCol: String, idCol: String,
      store: StoreLayout.Path): DataFrame =
    grams(docs, textCol, idCol)
      .join(gated(store, store.live(docs.sparkSession, spec, HashForm.Md5)),
        Seq("g"))
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))

  /** Rows of `docs` NOT contaminated: shingle once, semi-join the
    * store on the gram hash, flag documents with ≥ `minSharedGrams`
    * distinct shared grams, null-safe anti-join the flagged ids (null
    * ids are one identity, the family contract). Documents shorter
    * than 3 tokens have no grams and always survive — a benchmark
    * cannot be leaked by text shorter than its gram unit. With a
    * sidecar the bloom legs are disjoint, so their union feeds the
    * same distinct-gram threshold.
    */
  def newClean(docs: DataFrame, textCol: String, idCol: String,
      store: StoreLayout.Path, minSharedGrams: Int = 1): DataFrame = {
    require(minSharedGrams >= 1,
      s"minSharedGrams must be >= 1, got $minSharedGrams")
    val flagged = store.probe(spec, HashForm.Md5,
        grams(docs, textCol, idCol))(
        (g, s) => g.join(gated(store, s.select("g").distinct()), Seq("g"),
          "left_semi"))
      .groupBy(col("doc_id").as("__c_id"))
      .agg(countDistinct(col("g")).as("n"))
      .filter(col("n") >= minSharedGrams)
      .select("__c_id")
    docs.join(flagged, docs(idCol) <=> flagged("__c_id"), "left_anti")
  }

  /** Phase 1 of retiring a benchmark: tombstone its (gram, bench_id)
    * rows — content-addressed, the SAME derivation recording used, so
    * the tombstones cover exactly what registration stored. A gram two
    * benchmarks share stays armed through the OTHER benchmark's
    * surviving rows — retraction never over-opens the gate.
    */
  def retractBenchmark(bench: DataFrame, textCol: String, idCol: String,
      store: StoreLayout.Path): Unit =
    store.retract(spec, benchRows(bench, textCol, idCol))
}
