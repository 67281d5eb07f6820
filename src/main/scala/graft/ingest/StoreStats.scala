package graft.ingest

import org.apache.spark.sql.SparkSession

/** Operational statistics + maintenance signals for the cross-run
  * store family ([[KeyStore]]), in either [[StoreLayout]].
  *
  * The family's maintenance contract is spread across scaladocs:
  * compaction reclaims at-least-once re-deliveries AND physically
  * applies tombstones; "a tombstone backlog near the broadcast ceiling
  * is the signal to compact"; "rebuild the bloom sidecar on the
  * compaction schedule" because fresh appends ride the residual join
  * until then. This object turns those contracts into a REPORT an
  * operator (or a scheduler) can act on — one pure-metadata pass:
  * driver-side file listings only, no Spark job, no store scan, so it
  * is safe to call at any frequency against a store of any size.
  *
  * `compactionDue` fires when the tombstone backlog passes half the
  * [[StoreLayout.tombstoneBroadcastCeiling]] (compact BEFORE probes
  * fall off the broadcast plan, not after) or the data file count
  * passes `maxDataFiles`.
  *
  * The Bloom sidecar is a large-store structure: it pays only where
  * the plain probe cannot broadcast the whole store, i.e. where the
  * store's data bytes exceed the planner's broadcast threshold
  * (`spark.sql.autoBroadcastJoinThreshold`, reported as
  * `sidecarThresholdBytes`; `-1` means every non-empty store wants
  * one). Below it the plain probe is already one broadcast join, and
  * a sidecar only adds its rebuilds and a second join. So
  * `sidecarStale` fires only on a store above the threshold, when
  * residual bytes — appends the bloom filter does not cover — pass
  * `maxResidualShare` of the store (the bloom prune erodes as the
  * residual grows; a missing sidecar there is 100% residual by
  * definition and reports stale).
  */
object StoreStats {

  /** One snapshot of a store's physical + maintenance state.
    * `hashForm`/`stride` echo the persisted recording discipline
    * ([[StoreLayout.meta]]; the stride is meaningful for span stores and
    * reads 1 — the recorded-nothing default — elsewhere).
    */
  final case class Stats(
      dataFiles: Int, dataBytes: Long,
      tombstoneFiles: Int, tombstoneBytes: Long,
      broadcastCeilingBytes: Long, sidecarThresholdBytes: Long,
      sidecarPresent: Boolean, coveredFiles: Int,
      residualFiles: Int, residualBytes: Long,
      hashForm: String, stride: Int,
      compactionDue: Boolean, sidecarStale: Boolean)

  /** Residual share above which the sidecar counts as stale. */
  private val MaxResidualShare = 0.25

  /** The planner's broadcast threshold, which a store's data bytes
    * must exceed before its inline upkeep keeps a Bloom sidecar.
    */
  private def sidecarThreshold(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Whether a store of `dataBytes` is worth a Bloom sidecar: it holds
    * data and cannot ride the plain probe's broadcast whole.
    */
  private[ingest] def sidecarPays(spark: SparkSession,
      dataBytes: Long): Boolean = {
    val threshold = sidecarThreshold(spark)
    dataBytes > 0 && (threshold < 0 || dataBytes > threshold)
  }

  /** The report for the store at `layout` (any of the family: data
    * files, tombstones and sidecar wherever the layout keeps them; the
    * hash form and stride as the layout persisted them).
    */
  def of(spark: SparkSession, layout: StoreLayout,
      maxDataFiles: Int = 256): Stats = {
    val store = layout.dataDir(spark)
    val fs = store.getFileSystem(spark.sessionState.newHadoopConf())
    val data = StoreLayout.storeDataFileStatuses(fs, store)
    val tomb = StoreLayout.storeDataFileStatuses(fs, layout.tombstoneDir(spark))
    val dataBytes = data.map(_.getLen).sum
    val tombBytes = tomb.map(_.getLen).sum
    // a sidecar counts as present only if its generation directory
    // still resolves — same liveness rule the probes apply
    val manifest = layout.manifest(spark)
    val sidecar = StoreLayout.readSidecar(fs, manifest)
      .filter(sc => StoreLayout.liveGeneration(fs, manifest, sc).isDefined)
    val covered = sidecar.fold(Set.empty[String])(_.covered)
    val coveredLive = data.count(st => covered.contains(st.getPath.getName))
    val residual =
      data.filterNot(st => covered.contains(st.getPath.getName))
    val residualBytes = residual.map(_.getLen).sum
    val ceiling = StoreLayout.tombstoneBroadcastCeiling(spark)
    val (hashForm, stride) = layout.meta(spark)
    Stats(
      dataFiles = data.size, dataBytes = dataBytes,
      tombstoneFiles = tomb.size, tombstoneBytes = tombBytes,
      broadcastCeilingBytes = ceiling,
      sidecarThresholdBytes = sidecarThreshold(spark),
      sidecarPresent = sidecar.isDefined, coveredFiles = coveredLive,
      residualFiles = residual.size, residualBytes = residualBytes,
      hashForm = hashForm, stride = stride,
      compactionDue =
        tombBytes > ceiling / 2 || data.size > maxDataFiles,
      sidecarStale = sidecarPays(spark, dataBytes) && (sidecar.isEmpty ||
        residualBytes.toDouble > MaxResidualShare * dataBytes))
  }
}
