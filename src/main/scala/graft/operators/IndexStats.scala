package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Operational statistics + maintenance signals for a versioned
  * [[AnnIndex]] root (its manifest resolved through
  * [[graft.ingest.Generations]]) — the [[graft.ingest.StoreStats]]
  * pattern applied to the serving-index side of the pipeline. The
  * index's maintenance contract is spread across [[AnnIndex]]'s
  * scaladocs: the PQ sidecar covers only the float files present at
  * its build, so serving cost
  * quietly degrades as the exact-scored residual leg grows; a
  * retraction backlog rides a broadcast anti-join until
  * [[AnnIndex.vacuumRetracted]] physically drops it; a retrain
  * installs a sidecar-less generation that serves exact-only until
  * [[AnnIndex.buildPqSidecar]] runs again. This object turns those
  * contracts into a REPORT an operator (or a scheduler) can act on.
  *
  * [[stats]] is one PURE-METADATA pass — driver-side file listings
  * only, no Spark job, no index scan — safe to call at any frequency
  * against an index of any size (the StoreStats discipline, verified
  * the same way in LayoutSpec). The one signal that inherently needs
  * data — q91's rising-distortion retrain trigger — is the separate,
  * explicitly-a-Spark-job [[listDistortion]]/[[retrainDue]] leg, so a
  * caller can never run a corpus scan by accident.
  *
  * Signal thresholds mirror the stores': `vacuumDue` fires when the
  * retraction backlog passes HALF the tombstone broadcast ceiling
  * (vacuum before probes fall off the broadcast plan, not after);
  * `sidecarRebuildDue` fires when residual float bytes — appends the
  * PQ codes do not cover — pass 25% of the generation (a missing or
  * uncommitted sidecar on a non-empty generation is 100% residual by
  * definition and reports due).
  */
object IndexStats {

  /** One snapshot of an index root's physical + maintenance state.
    * `generationsOnDisk` counts `gen-*` directories (2 = current +
    * retained predecessor, the steady state; more = interrupted GC);
    * `manifestAgeMs` is wall-clock since the last install (retrain /
    * vacuum / first build) — the "generation age" an operator alarms
    * on when a scheduled retrain stops happening.
    */
  final case class Stats(
      generation: String,
      generationsOnDisk: Int,
      predecessorRetained: Boolean,
      manifestAgeMs: Long,
      dataFiles: Int, dataBytes: Long,
      retractedFiles: Int, retractedBytes: Long,
      retractionCeilingBytes: Long,
      pqPresent: Boolean, pqCoveredFiles: Int,
      pqResidualFiles: Int, pqResidualBytes: Long,
      vacuumDue: Boolean, sidecarRebuildDue: Boolean,
      lloydStats: Boolean = false)

  /** Residual share above which the PQ sidecar counts as due. */
  private val MaxResidualShare = 0.25

  /** The pure-metadata report (no Spark job — see the object doc). */
  def stats(spark: SparkSession, root: String): Stats = {
    val fs = AnnIndex.fsOf(spark, root)
    val gen = AnnIndex.installed(spark, root)
    val genDir = s"$root/$gen"
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val gens = fs.listStatus(rootPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
      .map(_.getPath.getName)
    val manifestM = fs.getFileStatus(
      graft.ingest.Generations.manifestPath(rootPath)).getModificationTime
    val data = AnnIndex.listCidFiles(fs, genDir, None)
    val dataBytes = data.map(_._2.getLen).sum
    val retracted = graft.ingest.StoreLayout.storeDataFileStatuses(fs,
      AnnIndex.retractedDir(root))
    val retractedBytes = retracted.map(_.getLen).sum
    val ceiling = graft.ingest.StoreLayout.tombstoneBroadcastCeiling(spark)
    // the MANIFEST is the sidecar's commit point (codes without one
    // are a partial build and serve nothing) — same liveness rule the
    // PQ probes apply
    val covered = AnnIndex.readPqManifest(fs, genDir)
    val coveredSet = covered.getOrElse(Set.empty[String])
    val coveredLive = data.count(f => coveredSet.contains(f._1))
    val residual = data.filterNot(f => coveredSet.contains(f._1))
    val residualBytes = residual.map(_._2.getLen).sum
    Stats(
      generation = gen,
      generationsOnDisk = gens.length,
      predecessorRetained = gens.exists(_ != gen),
      manifestAgeMs = math.max(0L,
        System.currentTimeMillis() - manifestM),
      dataFiles = data.size, dataBytes = dataBytes,
      retractedFiles = retracted.size, retractedBytes = retractedBytes,
      retractionCeilingBytes = ceiling,
      pqPresent = covered.isDefined, pqCoveredFiles = coveredLive,
      pqResidualFiles = residual.size, pqResidualBytes = residualBytes,
      vacuumDue = retractedBytes > ceiling / 2,
      sidecarRebuildDue = data.nonEmpty && (covered.isEmpty ||
        residualBytes.toDouble > MaxResidualShare * dataBytes),
      // which retrain form applies when retrainDue fires: a committed
      // _lloyd frame means retrainFromStats (zero-rescan update step);
      // without one the full AnnIndex.retrain is the only option
      lloydStats = AnnIndex.committedLloydVersions(fs,
        AnnIndex.lloydDir(root, gen)).nonEmpty)
  }

  /** The retrain trigger's evidence — q91's per-list distortion report
    * against the CURRENT generation's own centroids: (cid, n_vectors,
    * mean_dist_fp), one partition-aware scan + broadcast-centroid
    * distance + k-row aggregate (the q91 arithmetic verbatim: exact
    * DECIMAL(38,0) fixed-point sums, one pinned division — never a
    * long sum that wraps past ~1e5 rows/list). THIS IS A SPARK JOB —
    * the one [[stats]] deliberately does not run.
    */
  def listDistortion(spark: SparkSession, root: String): DataFrame = {
    graft.functions.Functions.register(spark)
    val gen = AnnIndex.current(spark, root)
    spark.read.parquet(gen.dir)
      .join(broadcast(AnnIndex.centroidFrame(spark, gen.centroids)),
        Seq("cid"))
      .withColumn("dist_fp", KMeans.distFp("v", "cv"))
      .groupBy(col("cid").cast("int").as("cid"))
      .agg(count(lit(1)).as("n_vectors"),
        (sum(col("dist_fp").cast(DecimalType(38, 0))).cast(DoubleType) /
          count(lit(1))).as("mean_dist_fp"))
      .orderBy("cid")
  }

  /** True when any inverted list's mean quantized distortion exceeds
    * `maxMeanDistFp` — centroids have drifted from the data they
    * index; schedule [[AnnIndex.retrainFromStats]] when
    * [[Stats.lloydStats]] reports a maintained `_lloyd` frame (the
    * zero-rescan form), else the full [[AnnIndex.retrain]] (+ a
    * sidecar rebuild either way). The collect is k rows (one per
    * list), never corpus-sized.
    */
  def retrainDue(spark: SparkSession, root: String,
      maxMeanDistFp: Double): Boolean =
    listDistortion(spark, root)
      .filter(col("mean_dist_fp") > maxMeanDistFp)
      .limit(1).collect().nonEmpty
}
