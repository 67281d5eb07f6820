package graft.functions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Murmur3HashFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** SHARDED Bloom-filter machinery for the cross-run dedup stores
  * (DedupStore / NearDupStore / SpanStore sidecars).
  *
  * Why sharded: the single-filter sidecar was built with
  * `df.stat.bloomFilter` — a treeAggregate that materializes the WHOLE
  * filter in driver memory and then broadcasts it. For the span store
  * (~1 hash row per recorded corpus character) a 100 TB corpus implies
  * a filter of tens of GB: driver OOM on build, unbroadcastable on
  * probe. Sharding fixes both ends:
  *
  *  - BUILD ([[BloomShards.build]]): rows are routed to
  *    `shard = pmod(murmur3(hash), numShards)` partitions with an
  *    identity partitioner, and each task builds and writes EXACTLY ONE
  *    shard's filter — build-side memory is bounded by the largest
  *    shard (hash-of-hash routing keeps shards near-uniform), never the
  *    store. No driver-side merge exists anywhere.
  *  - PROBE ([[BloomProbe]]): a native codegen'd expression computes
  *    the row's shard with the SAME hash function and consults only
  *    that shard's filter, lazily loaded from the sidecar directory
  *    into an executor-global cache. An executor holds only the shards
  *    its rows touch (worst case all of them, i.e. totalBloom /
  *    numExecutors once probe input is partitioned by the same hash the
  *    stores join on — which the store anti/semi-joins already do).
  *
  * The probe is an Expression with `doGenCode` (house rule: no Scala
  * UDF on a hot ingest predicate) — it stays inside whole-stage
  * codegen, reads the UTF8String's bytes directly (no String
  * materialization, no boxing), and PlanSpec pins the filter stage
  * inside WholeStageCodegen.
  *
  * Shard-file lifecycle: each build writes a fresh generation directory
  * `<manifest>.d-<uuid>` next to the manifest and commits by installing
  * the manifest (which records the generation name); shard files and
  * the manifest install and read through [[graft.ingest.SmallFile]];
  * older generations are garbage-collected after commit. Cache keys
  * embed the generation directory, so a stale executor cache can never
  * serve a rebuilt filter's answers.
  */
object BloomShards {

  /** Shard router — MUST match the distribution the build used.
    * Murmur3 (seed 42, Spark's `hash()`) over the hash string's UTF-8
    * bytes, positive-mod into `numShards`. Defined once here and used
    * verbatim by both build and probe, so consistency is structural.
    */
  def shardOf(h: UTF8String, numShards: Int): Int = {
    val x = Murmur3HashFunction.hash(h, StringType, 42L).toInt
    ((x % numShards) + numShards) % numShards
  }

  def shardFileName(sid: Int): String = f"s=$sid%05d.bloom"

  // Executor-global shard cache: generation-dir + shard id → loaded
  // filter (or the Vanished sentinel for a shard file that does not
  // exist). Generation dirs are immutable, so entries can never go
  // stale. Bounded by accumulated filter BYTES (not entry count — a
  // count bound lets one executor accumulate multiple generations of
  // multi-GB filters before tripping) with LRU eviction: the
  // access-ordered LinkedHashMap iterates least-recently-used first,
  // so eviction drops cold shards while hot entries of concurrent
  // queries survive. Default 1 GiB per executor, tunable via
  // -Dgraft.bloom.cacheBytes on the executor JVM.
  private val Vanished: AnyRef = new Object
  private val MaxCacheBytes: Long =
    java.lang.Long.getLong("graft.bloom.cacheBytes", 1L << 30)
  private final class Entry(val v: AnyRef, val bytes: Long)
  private val cache =
    new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  private var cachedBytes = 0L

  private def load(dir: String, sid: Int): AnyRef = {
    val p = new Path(dir, shardFileName(sid))
    // executor-side FS resolution: scheme from the path, config from
    // the executor classpath (core-site/hdfs-site) — the standard
    // task-side Hadoop access path; local FS in local mode
    graft.ingest.SmallFile.read(p.getFileSystem(new Configuration()), p)(
      BloomFilter.readFrom).getOrElse(Vanished)
  }

  /** Probe `h` against its shard's filter. Null → false (a null hash
    * was never recorded). A MISSING shard file → **true**
    * (maybe-contained): a complete build writes a filter file for
    * EVERY shard (empty ones included), so absence means the
    * generation vanished under the reader — a concurrent rebuild's GC
    * won the race after this query resolved its probe at plan time.
    * Returning "maybe" routes those rows through the store's exact
    * anti/semi join, preserving the exactness contract; the old
    * false-on-missing answer silently admitted duplicates as
    * "definitely new". Called from both the interpreted and the
    * generated code path of [[BloomProbe]].
    */
  def mightContain(dir: String, numShards: Int, h: UTF8String): Boolean = {
    if (h == null) return false
    val sid = shardOf(h, numShards)
    val key = dir + "#" + sid
    var v: AnyRef = cache.synchronized {
      val e = cache.get(key) // get() refreshes LRU access order
      if (e == null) null else e.v
    }
    if (v == null) {
      v = load(dir, sid) // outside the lock; duplicate loads are benign
      val bytes = v match {
        case b: BloomFilter => b.bitSize() / 8 + 64
        case _ => 64L
      }
      cache.synchronized {
        if (!cache.containsKey(key)) {
          cache.put(key, new Entry(v, bytes))
          cachedBytes += bytes
        }
        val it = cache.entrySet().iterator()
        while (cachedBytes > MaxCacheBytes && cache.size > 1 &&
            it.hasNext) {
          val e = it.next()
          if (e.getKey != key) {
            cachedBytes -= e.getValue.bytes
            it.remove()
          }
        }
      }
    }
    if (v eq Vanished) true
    else v.asInstanceOf[BloomFilter].mightContainBinary(h.getBytes)
  }

  // a task retry or a speculative copy reinstalls identical bits
  private[graft] def writeShard(fs: FileSystem, dir: Path, sid: Int,
      bloom: BloomFilter): Unit =
    graft.ingest.SmallFile.install(fs, new Path(dir, shardFileName(sid)))(
      bloom.writeTo)

  /** Bytes a Bloom filter spends per recorded element at `fpp` —
    * `-ln(fpp) / ln²2 / 8` (≈1.2 B at 1%). Drives [[autoShards]].
    */
  def bytesPerItem(fpp: Double): Double =
    -math.log(fpp) / (math.log(2) * math.log(2)) / 8.0

  /** Target on-disk/in-cache size of ONE shard filter for the
    * auto-sized build: 192 MB — big enough that shard-file count stays
    * modest, small enough that a task building it and an executor
    * caching several stay far from any memory wall.
    */
  val TargetShardBytes: Long = 192L << 20

  /** Shard count derived from the STORE, not a constant: enough shards
    * that each filter lands near [[TargetShardBytes]], floored at 32
    * (the historical default — small stores keep their layout). A
    * fixed 32 re-created the memory wall one level down: the span
    * store records ~1 row per corpus character, so a 100 TB corpus
    * implies tens of GB of total filter — ÷32 is still GB-scale per
    * build task and per executor cache entry. rows/192 MB caps every
    * shard at a fixed, scale-independent size instead.
    */
  def autoShards(rows: Long, fpp: Double,
      targetBytes: Long = TargetShardBytes): Int =
    math.min(1L << 20,
      math.max(32L, math.ceil(
        rows.toDouble * bytesPerItem(fpp) / targetBytes).toLong)).toInt

  /** Build the sharded filter set for `df`'s `hashCol` into `shardDir`
    * (one `s=NNNNN.bloom` file per shard — EMPTY SHARDS INCLUDED, so
    * after a complete build a missing file can only mean the
    * generation itself vanished, the signal [[mightContain]] maps to
    * maybe-contained — written EXECUTOR-side). Returns rows covered.
    * Each shard's filter is sized for that shard's own row count (one
    * cheap numShards-row aggregation up front), so no filter anywhere
    * is sized for — or holds — the whole store.
    */
  def build(df: DataFrame, hashCol: String, shardDir: String,
      numShards: Int, fpp: Double): Long = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val spark = df.sparkSession
    import org.apache.spark.sql.functions._
    val withShard = df
      .select(col(hashCol).cast("string").as("h"))
      .filter(col("h").isNotNull)
      // pmod(hash(), n) is bit-identical to shardOf (same Murmur3 seed
      // 42 over the same UTF-8 bytes) — FunctionsSpec pins the parity
      .select(col("h"), pmod(hash(col("h")), lit(numShards)).as("s"))
    val counts: Map[Int, Long] = withShard.groupBy("s").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    if (total == 0L) return 0L
    val bcCounts = spark.sparkContext.broadcast(counts)
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = numShards
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }
    // RDD drop is deliberate (SURVEY ladder step (d)): per-partition
    // imperative side-effect writes with an identity partitioner — the
    // one shape that guarantees task memory = exactly one shard. The
    // partition INDEX is the shard id (identity partitioner), so empty
    // partitions still know which file to write.
    withShard.rdd.map(r => (r.getInt(1), r.getString(0)))
      .partitionBy(part)
      .mapPartitionsWithIndex { (sid, it) =>
        val bloom = BloomFilter.create(
          math.max(bcCounts.value.getOrElse(sid, 1L), 1L), fpp)
        it.foreach { case (_, h) => bloom.putString(h) }
        val dir = new Path(shardDir)
        writeShard(dir.getFileSystem(new Configuration()), dir, sid,
          bloom)
        Iterator.empty
      }.count()
    total
  }
}

/** `bloom_probe(hash, shardDir, numShards)` — true iff `hash` MIGHT be
  * in the sharded Bloom sidecar rooted at `shardDir` (a foldable string
  * literal; `numShards` a foldable int). False for null input (a null
  * hash was never recorded), so the output is never null. See
  * [[BloomShards]] for semantics and the scale story.
  */
final case class BloomProbe(child: Expression, dirExpr: Expression,
    shardsExpr: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(child, dirExpr, shardsExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_probe expects a string hash, got ${child.dataType.simpleString}")
    else if (dirExpr.dataType != StringType || !dirExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_probe expects a foldable string shard directory")
    else if (shardsExpr.dataType != IntegerType || !shardsExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_probe expects a foldable int shard count")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_probe"

  @transient private lazy val dir: String =
    dirExpr.eval(null).asInstanceOf[UTF8String].toString
  @transient private lazy val numShards: Int =
    shardsExpr.eval(null).asInstanceOf[Int]

  override def eval(input: InternalRow): Any =
    BloomShards.mightContain(dir, numShards,
      child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val dirRef = ctx.addReferenceObj("bloomShardDir", dir,
      "java.lang.String")
    val code =
      code"""
         |${c.code}
         |boolean ${ev.value} = !${c.isNull} &&
         |  graft.functions.BloomShards.mightContain(
         |    $dirRef, $numShards, ${c.value});
       """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomProbe =
    copy(child = newChildren(0), dirExpr = newChildren(1),
      shardsExpr = newChildren(2))
}
