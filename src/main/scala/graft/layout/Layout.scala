package graft.layout

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout levers for the 100 TB posture — the two standard
  * answers to "this join shuffles too much":
  *
  *  - '''Bucketing''' (co-located joins): persist both join sides
  *    bucketed by the join key with the same bucket count; Spark's
  *    bucketed-scan planning then satisfies the join's required
  *    HashClusteredDistribution straight off the files — NO exchange on
  *    either side, at any data size. This is the parquet analog of the
  *    reference's B-tree join-key indexes (init-db/init.sql:63-66): a
  *    one-time layout cost paid at write amortized over every
  *    subsequent join/aggregate on that key. The ingest path's
  *    keys-only dedup projection (Warehouse.keyProjection) names this
  *    as its bucketing candidate; `writeBucketed` is that path.
  *
  *  - '''Salting''' (skew): when one key value carries a disproportion
  *    of rows (the web-crawl "one domain is 10% of the corpus" case), a
  *    plain key-shuffle sends the whole hot key to one task. Prepending
  *    a deterministic salt in [0, S) to the BIG side's key and
  *    replicating the SMALL side S× spreads the hot key over S tasks.
  *    AQE's skew-join handling (on by default) splits oversized
  *    partitions post-shuffle and is the first lever to reach for;
  *    explicit salting remains the deterministic fallback when a single
  *    KEY (not partition) is hot enough to overwhelm one task's join
  *    buffer, which AQE cannot subdivide further.
  */
object Layout {

  /** Persist `df` bucketed (and sorted) by `key` into `buckets` files
    * per partition via the session catalog — both sides of a co-located
    * join must use the SAME key and bucket count. Overwrites.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      key: String, moreKeys: String*): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Equi-join with a salted key: `left` is the BIG/skewed side (salt
    * derived deterministically from xxhash64 of the whole row —
    * reproducible across retries/reruns, unlike rand()); `right` is the
    * replicated side (S copies). Result is row-identical to
    * `left.join(right, key, joinType)` — salting only changes the
    * shuffle distribution. `right` grows S×, so pick S ≈ (hot-key rows
    * / rows-per-task), not hundreds. `left` must not contain MapType
    * columns (xxhash64 cannot hash maps; analysis fails loud).
    *
    * **[r9]** `joinType` extends the lever beyond inner: `left`/
    * `left_outer`, `left_semi`, and `left_anti` are multiset-identical
    * to their unsalted forms (each left row carries exactly one salt,
    * and that salt's replica holds every right row of its key — so
    * match, no-match, and existence outcomes are unchanged;
    * PropertySpec pins the law). Right/full outer are REJECTED: an
    * unmatched right row would surface once per replica.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
        .contains(joinType.toLowerCase.replace("_", "")),
      s"saltedJoin supports inner/left/left_semi/left_anti, not $joinType")
    // The synthetic column is dropped from the output; a real column of
    // the same name would be silently destroyed — refuse instead.
    // Case-insensitive to match Spark's default column resolution.
    require(!(left.columns ++ right.columns)
        .exists(_.equalsIgnoreCase("__graft_salt")),
      "saltedJoin reserves the column name __graft_salt")
    val saltCol = pmod(
      xxhash64(left.columns.toIndexedSeq.map(col): _*), lit(salts))
    val l = left.withColumn("__graft_salt", saltCol)
    val r = right.withColumn("__graft_salt",
      explode(array((0 until salts).map(s => lit(s)): _*)))
    l.join(r, Seq(key, "__graft_salt"), joinType).drop("__graft_salt")
  }

  /** Z-ORDER clustering — the multi-dimensional generalization of
    * sort-on-write: a linear sort bounds per-file min/max on ONE column
    * (files 1..k cover disjoint key ranges; every other column spans
    * the whole domain in every file, so a predicate on it reads
    * everything). Interleaving the bits of several columns' RANKS
    * (Morton order) and range-partitioning on that interleaved key
    * gives every file a bounded box in ALL z dimensions at once, so
    * footer min/max statistics prune scans on ANY of them — in plain
    * parquet that materializes as row-group skipping under pushed
    * filters; in a table format with file-level stats it is file
    * skipping outright. This is the standard layout answer for "we
    * filter events by user AND by time AND by amount" at 100 TB, where
    * only one of those can win the linear sort.
    *
    * Ranks, not raw values: equal-FREQUENCY quantile buckets
    * (`approxQuantile` boundaries, a driver-side array of 2^bits − 1
    * doubles per column — KB-sized at any data scale) rather than
    * equal-width, so a skewed column (crawl domains, power-law users)
    * still spreads across the bucket space instead of collapsing into
    * one bucket. Per-row bucketing is a rank count over the boundary
    * literal (one `aggregate` HOF pass — see the note in [[zOrderKey]]
    * on why not a chained-`when` binary search). The morton
    * key itself is shift/mask arithmetic. One `repartitionByRange` on
    * the key (the only shuffle) + `sortWithinPartitions` then lays
    * files out along the curve. Nulls rank lowest (bucket 0).
    *
    * `zCols` must be castable to double; 2–4 columns is the useful
    * range (each extra dimension dilutes every file's per-column
    * selectivity — k dims at f files give ~f^(1/k) pruning per dim).
    * `bitsPerCol` defaults to 8 (256 ranks per column), plenty while
    * files ≪ 2^(8k).
    */
  def writeZOrdered(df: DataFrame, dir: String, zCols: Seq[String],
      files: Int, bitsPerCol: Int = 8): Unit = {
    require(zCols.size >= 2, "z-order needs >= 2 columns (use sortBy for 1)")
    require(files >= 1, s"files must be >= 1, got $files")
    require(bitsPerCol >= 1 && bitsPerCol * zCols.size <= 60,
      s"bitsPerCol * zCols must fit a long, got $bitsPerCol * ${zCols.size}")
    df.withColumn("__graft_z", zOrderKey(df, zCols, bitsPerCol))
      .repartitionByRange(files, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** The interleaved-rank (Morton) key underlying [[writeZOrdered]],
    * exposed for callers that want to cluster within an existing
    * partitioning scheme (e.g. sortWithinPartitions of a date
    * partition). Runs one `approxQuantile` driver action per call.
    */
  def zOrderKey(df: DataFrame, zCols: Seq[String],
      bitsPerCol: Int = 8): org.apache.spark.sql.Column = {
    val k = zCols.size
    val n = (1 << bitsPerCol) - 1 // boundaries per column
    val probs = (1 to n).map(_.toDouble / (n + 1)).toArray
    // approxQuantile ignores nulls; relativeError trades one pass's
    // accuracy for memory — 1/(4n) keeps neighboring buckets distinct.
    val buckets = zCols.zipWithIndex.map { case (c, ci) =>
      val bounds = df.stat.approxQuantile(c, probs, 0.25 / (n + 1))
      val bLit = array(bounds.toIndexedSeq.map(lit): _*)
      val x = col(c).cast("double")
      // bucket = |{j : bounds(j) <= x}| — one linear `aggregate` pass
      // over the boundary literal. A chained-`when` binary search would
      // be O(bits) probes and codegen'd, but every expression-level
      // formulation of it duplicates the accumulator ~4× per level
      // (Column trees are trees, not DAGs) — 4^bits nodes hangs
      // Catalyst long before the data costs anything. 2^bits
      // comparisons per row through the interpreted HOF is the honest
      // price, paid once at WRITE time per relayout (drop bitsPerCol
      // if the write path ever dominates; 64 ranks per column is still
      // ample while files ≪ 2^(6k)).
      val bucket = aggregate(bLit, lit(0L),
        (acc, b) => acc + when(b <= x, lit(1L)).otherwise(lit(0L)))
      // interleave: bit b of column ci lands at position b*k + ci
      (0 until bitsPerCol).map { b =>
        shiftleft(shiftright(bucket, b).bitwiseAND(lit(1L)), b * k + ci)
      }.reduce(_ bitwiseOR _)
    }
    buckets.reduce(_ bitwiseOR _)
  }
}
