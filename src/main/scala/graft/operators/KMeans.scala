package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Lloyd's k-means as a library operator — the general form of the
  * q87 query (which delegates here, so there is ONE implementation of
  * the assignment and update steps). Everything is deterministic and
  * reduce-order-proof: distances are quantized squared-L2 (per-dim
  * floor((x−y)²·1e12) longs — an integer sum is exact in any order, so
  * the argmin can never flip across partitionings or engines), ties
  * break on cluster id, and centroid updates are the fixed-point
  * per-(cluster, dim) mean. Each iteration is one broadcast-centroid
  * corpus scan plus one narrow k×dim aggregate — no driver loop over
  * data, no collect of anything bigger than the centroid set itself.
  *
  * Centroid frames are (cid int-like, cv array<double>); embedding
  * frames are (vec_id, v array<double>). [[train]]'s output feeds
  * [[AnnIndex.writeIndex]] (as a collected seq — it installs a new
  * index generation) or [[assign]] directly.
  */
object KMeans {

  /** Quantized squared-L2 — see class doc. Shared with q87's oracle
    * spelling bit-for-bit.
    */
  /** Quantized squared-L2 in 1e-12 fixed point — since r21 the native
    * [[graft.functions.L2Fp]] kernel (one fused codegen loop), built
    * directly as an Expression so no session registration is needed;
    * bit-identical to the interpreted fold it replaces,
    * `aggregate(zip_with(v, c, (x, y) -> cast(floor(((x - y) *
    * (x - y)) * 1e12) as bigint)), 0L, (acc, d) -> acc + d)`
    * (FunctionsSpec parity law, null/length semantics included).
    */
  private[graft] def distFp(v: String, c: String) =
    call_function("l2_fp", col(v), col(c))

  /** One assignment pass: each vector to its argmin-distance centroid
    * (ties → lowest cid). Returns (vec_id, v, cid, dist_fp).
    */
  def assign(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.Functions.register(embeddings.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("dist_fp"), col("cid"))
    embeddings.select("vec_id", "v")
      .crossJoin(broadcast(centroids))
      .withColumn("dist_fp", distFp("v", "cv"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("cid"), col("dist_fp"))
  }

  /** One update pass: per-(cluster, dim) fixed-point mean over an
    * [[assign]] output, rebuilt into (cid, cv) centroid rows. Clusters
    * that lost every member disappear (standard Lloyd behavior).
    * Defined as [[centroidsFromStats]] ∘ [[statsOf]] — one arithmetic
    * for the batch and streamed-maintenance forms.
    */
  def update(assigned: DataFrame): DataFrame =
    centroidsFromStats(statsOf(assigned))

  /** [[update]]'s CELL-WISE-MERGEABLE sufficient statistics: per
    * (cid, dim), the exact fixed-point coordinate sum and the member
    * count of an [[assign]] output — k × dim rows of two longs, KBs at
    * any corpus size. `statsOf(a ∪ b)` = [[mergeStats]](statsOf(a),
    * statsOf(b)) (integer sums add in any order), so the Lloyd update
    * can be maintained incrementally across micro-batches
    * ([[graft.streaming.Streams.indexIngestStreamVersioned]]) and a
    * retrain ([[AnnIndex.retrainFromStats]]) never re-scans the corpus
    * for its update step.
    */
  def statsOf(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cid", "dim")
      .agg(sum(expr("cast(floor(x * 1000000d) as bigint)")).as("s"),
        count(lit(1)).as("n"))

  /** Cell-wise addition of two [[statsOf]] frames. */
  def mergeStats(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("cid", "dim")
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))

  /** Rebuild (cid, cv) centroid rows from a [[statsOf]] frame — the
    * same IEEE chain as the inline mean ([[update]] delegates here):
    * cast the exact integer sum to double, one correctly-rounded
    * division by (1e6 · count).
    */
  def centroidsFromStats(stats: DataFrame): DataFrame =
    stats
      .withColumn("cval",
        col("s").cast(DoubleType) / (lit(1000000d) * col("n")))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, cval)))," +
        " p -> p.cval)").as("cv"))

  /** `iters` Lloyd update rounds from the seed vectors `seedIds`
    * (cid = the seed's vec_id — deterministic init, k-means++ style
    * seeding is an orthogonal upstream choice). Returns the centroid
    * frame after the final update; callers [[assign]] against it or
    * collect it for [[AnnIndex.writeIndex]].
    */
  def train(embeddings: DataFrame, seedIds: Seq[Long],
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val seeds = embeddings.select("vec_id", "v")
      .filter(col("vec_id").isin(seedIds: _*))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      update(assign(embeddings, cents))
    }
  }

  /** Lloyd rounds from an EXISTING centroid frame — the retrain /
    * drift-adaptation form ([[AnnIndex.retrain]] seeds from the
    * serving generation's centroids instead of raw vectors).
    */
  def trainFrom(embeddings: DataFrame, centroids: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    (1 to iters).foldLeft(centroids)((c, _) => update(assign(embeddings, c)))
  }

  /** [[train]]'s centroids collected for the driver-side consumers
    * (AnnIndex probe selection) — k × dim doubles, KB-scale by design.
    */
  def trainCollected(embeddings: DataFrame, seedIds: Seq[Long],
      iters: Int): Seq[(Int, Array[Double])] =
    train(embeddings, seedIds, iters).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
}
