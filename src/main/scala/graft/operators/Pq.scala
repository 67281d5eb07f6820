package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Product quantization (PQ) — the compressed-vector form a 100 TB ANN
  * index actually serves from (Jégou et al. 2011, the FAISS IVF-PQ
  * design): split each `dim`-dim vector into `m` subvectors, k-means
  * each subspace independently ([[KMeans]]' deterministic quantized
  * arithmetic, reused verbatim), and store each vector as its `m`
  * per-subspace code ids — m small ints in place of dim floats (with
  * m=8 over 64-dim doubles: 64× less at rest, 32× less than float32).
  * Queries then rank candidates by ASYMMETRIC DISTANCE (ADC): the
  * query's exact per-(subspace, code) distances form an m×k lookup
  * table, and a candidate's approximate distance is the SUM of m table
  * entries — the scan touches only (vec_id, codes), never a float
  * vector.
  *
  * Scale posture: [[train]] is a per-round broadcast-codebook scan +
  * one narrow m×k×(dim/m) aggregate (train on a bounded upstream
  * sample at 100 TB — the codebook is m×k subvectors, KB-scale);
  * [[encode]] is one scan with the same broadcast argmin (no shuffle
  * wider than the m-code rows); [[adcTopK]] broadcasts the m×k LUT
  * frame into an equi-join on (sub, code) and bounds the result with
  * TakeOrderedAndProject — the corpus side moves only its code rows.
  * Composes with [[AnnIndex]]: partition by IVF cid at rest, PQ codes
  * inside each list ([[AnnIndex.buildPqSidecar]] writes them per
  * generation, [[AnnIndex.topKPq]] serves from them).
  *
  * Everything is deterministic and reduce-order-proof, exactly as
  * [[KMeans]]: quantized squared-L2 (integer sums are exact in any
  * order), ties break on code id, fixed-point centroid means — so the
  * whole family is ORACLE-EXACT (q107–q109's DuckDB CTEs replay it
  * bit-for-bit, the q87 pattern).
  */
object Pq {

  /** (vec_id, sub, sv) subvector rows of an (vec_id, v) embedding
    * frame — sub in 0..m−1, sv = dims [sub·dim/m, (sub+1)·dim/m).
    * `dim` must divide evenly by `m` (PQ's standard constraint).
    */
  def subvectors(embeddings: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0,
      s"dim $dim must be a positive multiple of m $m")
    val d = dim / m
    embeddings.select(col("vec_id"),
      posexplode(expr(s"transform(sequence(0, ${m - 1}), " +
        s"s -> slice(v, s * $d + 1, $d))")).as(Seq("sub", "sv")))
  }

  /** One assignment pass: every subvector row to its argmin-distance
    * code WITHIN its own subspace (ties → lowest code). `codebook` is
    * (sub, code, cv) — broadcast; the join key `sub` keeps each
    * subspace's argmin independent. Returns (vec_id, sub, sv, code,
    * dist_fp).
    */
  def assign(subs: DataFrame, codebook: DataFrame): DataFrame = {
    graft.functions.Functions.register(subs.sparkSession)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id", "sub").orderBy(col("dist_fp"), col("code"))
    subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("dist_fp", KMeans.distFp("sv", "cv"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("sv"), col("code"),
        col("dist_fp"))
  }

  /** One update pass: per-(sub, code, dim) fixed-point mean over an
    * [[assign]] output — [[KMeans.update]]'s arithmetic with the
    * subspace as an extra grouping key. Codes that lost every member
    * disappear (standard Lloyd).
    */
  def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("sub"), col("code"), posexplode(col("sv"))
        .as(Seq("dim", "x")))
      .groupBy("sub", "code", "dim")
      .agg((sum(expr("cast(floor(x * 1000000d) as bigint)"))
        .cast(DoubleType) / (lit(1000000d) * count(lit(1)))).as("cval"))
      .groupBy("sub", "code")
      .agg(expr("transform(array_sort(collect_list(struct(dim, cval)))," +
        " p -> p.cval)").as("cv"))

  /** `iters` Lloyd rounds per subspace, ALL subspaces in one plan per
    * round (the broadcast codebook carries every subspace; the `sub`
    * join key keeps them independent — m separate trainers would cost
    * m× the scans for the same answer). Seeds: code = seed vec_id,
    * per-subspace centroid = that vector's subvector (deterministic,
    * the [[KMeans.train]] convention). Returns (sub, code, cv).
    */
  def train(embeddings: DataFrame, seedIds: Seq[Long], m: Int,
      dim: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val subs = subvectors(embeddings, m, dim)
    val seeds = subs
      .filter(col("vec_id").isin(seedIds: _*))
      .select(col("sub"), col("vec_id").as("code"), col("sv").as("cv"))
    (1 to iters).foldLeft(seeds)((cb, _) => update(assign(subs, cb)))
  }

  /** Encode every vector as its m code ids: (vec_id, sub, code,
    * dist_fp) rows — dist_fp is the per-subspace quantization
    * distortion, the audit every PQ pipeline reports. The flat shape
    * is the join-ready form [[adcTopK]] consumes; `collect_list` over
    * sub (sorted) packs it to an array when an at-rest column is
    * wanted.
    *
    * MAP-ONLY by design: the codebook (m×k subvectors, KB-scale) is
    * collected and embedded as plan literals, so encoding is one
    * projection + one Generate — ZERO exchanges at any corpus size.
    * The [[assign]] form it replaced moved m×k rows per vector through
    * the argmin window's shuffle (64× row inflation at the defaults) —
    * at 100 TB that exchange IS the encode cost, and nothing about an
    * argmin over 8 candidates needs data movement. The per-subspace
    * argmin is the native `pq_codes` kernel — the same (distance, code)
    * tie-break as assign, bit-for-bit (OperatorsSpec pins encode
    * against the independent reference; FunctionsSpec pins the kernel
    * against the `array_min`-over-structs composition it compiled away).
    */
  def encode(embeddings: DataFrame, codebook: DataFrame, m: Int,
      dim: Int): DataFrame = {
    graft.functions.Functions.register(embeddings.sparkSession)
    require(m >= 1 && dim % m == 0,
      s"dim $dim must be a positive multiple of m $m")
    val d = dim / m
    val cb = codebook.select("sub", "code", "cv").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2))
    require(cb.nonEmpty, "empty codebook")
    val codes: Seq[Seq[Long]] =
      (0 until m).map(s => cb.filter(_._1 == s).map(_._2).toSeq)
    val cvs: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => cb.filter(_._1 == s).map(_._3.toSeq).toSeq)
    require(codes.forall(_.nonEmpty),
      s"codebook must cover every subspace 0..${m - 1}")
    // r22: the whole per-vector argmin is the native pq_codes kernel
    // (graft.functions.PqCodes) — the r21 l2_fp rung only nativized the
    // inner distance fold; the outer transform/array_min/struct/slice
    // lambdas still interpreted m·k struct builds + m slices per row
    // (HOFs are CodegenFallback). The codebook rides as SQL array
    // literals (Double.toString round-trips exactly; non-finite values
    // via cast-from-string), so the kernel's children are foldable and
    // it packs them once at plan time. Bit-identical contract (incl.
    // null/short-v edge cases) pinned by FunctionsSpec's parity law
    // against the original composition.
    def dlit(x: Double): String =
      if (java.lang.Double.isFinite(x)) java.lang.Double.toString(x) + "D"
      else if (x.isNaN) "cast('NaN' as double)"
      else if (x > 0) "cast('Infinity' as double)"
      else "cast('-Infinity' as double)"
    val cbcSql = codes
      .map(cs => cs.map(c => s"${c}L").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val cbvSql = cvs
      .map(sv => sv.map(cv => cv.map(dlit).mkString("array(", ",", ")"))
        .mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    embeddings
      .select(col("vec_id"), posexplode(
        expr(s"pq_codes(v, $cbvSql, $cbcSql, $d)")).as(Seq("sub", "best")))
      .select(col("vec_id"), col("sub"), col("best.code").as("code"),
        col("best.dist_fp").as("dist_fp"))
  }

  /** The query's ADC lookup table: exact quantized distance from each
    * of the query's subvectors to EVERY code centroid — m×k rows
    * (sub, code, qdist_fp), KB-scale by construction. `query` is a
    * one-row (vec_id, v) frame.
    */
  def adcLut(query: DataFrame, codebook: DataFrame, m: Int,
      dim: Int): DataFrame = {
    graft.functions.Functions.register(query.sparkSession)
    subvectors(query, m, dim)
      .join(broadcast(codebook), Seq("sub"))
      .select(col("sub"), col("code"),
        KMeans.distFp("sv", "cv").as("qdist_fp"))
  }

  /** ADC top-k: rank encoded vectors by the sum of their m LUT
    * entries, smallest first (ties → vec_id). `encoded` is
    * [[encode]]'s flat output (or the same rows read back from rest);
    * the scan side carries only (vec_id, sub, code). The LUT rides a
    * broadcast equi-join on (sub, code); the final order-by-limit
    * lowers to TakeOrderedAndProject.
    */
  def adcTopK(encoded: DataFrame, lut: DataFrame, k: Int): DataFrame =
    encoded.select("vec_id", "sub", "code")
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(sum(col("qdist_fp")).as("adist_fp"))
      .orderBy(col("adist_fp"), col("vec_id"))
      .limit(k)
}
