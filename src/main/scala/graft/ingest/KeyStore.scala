package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The cross-run store protocol shared by the store family
  * ([[DedupStore]], [[NearDupStore]], [[SpanStore]], [[CdcChunkStore]],
  * [[MediaNearStore]], [[ContaminationStore]]). Every operation exists
  * once and takes the store's [[StoreLayout]] `L` — a
  * [[StoreLayout.Path]] directory or a [[StoreLayout.Bucketed]] catalog
  * table (a bare directory string converts to a Path); every probe is
  * bloom-aware through [[StoreLayout.probe]]. A store object supplies
  * its [[KeySpec]] plus its probe / record / retract operations, each
  * a key derivation and a verify step over the layout's machinery.
  *
  * The family's two-phase contract: a probe answers "which rows are
  * new", a record marks rows seen. Callers persist the survivors FIRST
  * and record after — ideally from the persisted read-back — so a crash
  * between the two re-delivers (at-least-once) instead of silently
  * dropping a batch that was never persisted. At-least-once re-records
  * append duplicate rows that [[compactStore]] reclaims.
  */
abstract class KeyStore[L <: StoreLayout] private[ingest] (
    private[ingest] val spec: KeySpec) {

  /** Create the store if absent — idempotent; a bucketed table
    * recovers a compaction crash first, and an existing table's bucket
    * count wins over the layout's.
    */
  def ensureStore(spark: SparkSession, layout: L): Unit =
    layout.ensure(spark, spec)

  /** The hash form the store was recorded with ([[HashForm]]; md5 if
    * never declared, and for a store with one fixed key form). Probes
    * self-configure through it; only record steps take an explicit form
    * (to declare it on the first append).
    */
  def storedHashForm(spark: SparkSession, layout: L): String =
    layout.meta(spark)._1

  /** The store's row shape for its persisted hash form. */
  private[graft] def schemaOf(spark: SparkSession, layout: L): StructType =
    spec.schemaOf(storedHashForm(spark, layout))

  /** Maintenance: rewrite the store to one row per distinct row and
    * physically apply the pending tombstones. Without it, at-least-once
    * re-deliveries grow the store's row count (and so its scan cost and
    * shuffle width) past the unique-key count forever. A path store
    * stages the rewrite of a snapshot of its files in a sibling, moves
    * it in and deletes exactly those inputs ([[StoreLayout.Path]]'s
    * `compact`: no directory rename, no abort, any crash state answers
    * every probe as before; the Bloom sidecar the rewrite voids goes
    * first) and returns (filesBefore, filesAfter); a
    * bucketed table swaps through a staging table and returns
    * (rowsBefore, rowsAfter). A never-written store is a no-op. Single
    * maintenance writer assumed; schedule it with the sidecar rebuild.
    */
  def compactStore(spark: SparkSession, layout: L,
      targetFileBytes: Long = StoreLayout.TargetFileBytes): (Long, Long) =
    layout.compact(spark, spec, targetFileBytes)

  /** Build/replace the store's Bloom sidecar at `fpp` (`numShards` = 0
    * sizes the shards from the row count). The filter covers the
    * immutable compacted history while fresh appends ride the residual
    * join, so rebuild on the compaction schedule. An explicit build
    * holds at any store size — every probe uses it — while [[maintain]]
    * keeps a sidecar only above the broadcast threshold. Returns the
    * keys covered (0 for an empty store, whose sidecar is removed).
    */
  def buildBloomSidecar(spark: SparkSession, layout: L, fpp: Double = 0.01,
      numShards: Int = 0): Long =
    layout.buildSidecar(spark, spec, fpp, numShards)

  /** Inline upkeep driven by [[StoreStats]]: compaction when
    * `compactionDue` (which removes the sidecar it voids), followed by
    * a sidecar rebuild on a store above the planner's broadcast
    * threshold (`spark.sql.autoBroadcastJoinThreshold`); a rebuild alone when
    * `sidecarStale`, which only a store above the threshold reads. A
    * store under the threshold keeps no sidecar: its plain probe is
    * already one broadcast join. Idempotent — the signals re-check on
    * every call.
    */
  def maintain(spark: SparkSession, layout: L): Unit =
    layout.maintain(spark, spec)
}
