package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.ingest.StoreLayout.Bucketed
import graft.layout.Layout

/** Physical-layout levers: bucketed co-located joins (zero exchanges)
  * and salted skew joins (row-identical to the plain join).
  */
class LayoutSpec extends SparkSuite {

  /** Every FileSourceScanExec under `p`, descending through AQE
    * wrappers (AdaptiveSparkPlanExec / query stages are leaf-like
    * nodes TreeNode.collect stops at) and reused exchanges.
    */
  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.adaptive._
    p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scansOf(r.child)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansOf)
    }
  }

  test("bucketed tables join with NO shuffle exchange on either side") {
    val orders = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Layout.writeBucketed(orders, "graft_bucketed_orders", 8, "o_orderkey")
    Layout.writeBucketed(li, "graft_bucketed_lineitem", 8, "o_orderkey")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Force a sort-merge join: a broadcast would also be shuffle-free
      // and make this test vacuous.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucketed_orders")
        .join(spark.table("graft_bucketed_lineitem"), "o_orderkey")
      val exchanges = joined.queryExecution.sparkPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"bucketed join still shuffles: ${joined.queryExecution.sparkPlan}")
      // And it is not just a plan artifact: the join actually runs and
      // matches the plain parquet join.
      val expected = Tables.load(spark, sf, "orders")
        .join(li.withColumnRenamed("o_orderkey", "lk"),
          col("o_orderkey") === col("lk")).count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_lineitem")
    }
  }

  test("bucketed-at-rest minhash band keys make the near-dup candidate " +
    "join shuffle-free (the scaladoc's 100 TB claim, demonstrated)") {
    graft.functions.Functions.register(spark)
    // The banded signature frame a production pipeline would maintain
    // incrementally at ingest: (doc_id, sig, band key). Banding derives
    // from the SAME constants as the production pipeline (retuning
    // MinhashK/Bands must not silently detach this demonstration).
    val ts = graft.functions.TextSignatures
    val perBand = ts.MinhashK / ts.Bands
    val elems = (1 to perBand)
      .map(k => s"element_at(sig, b * $perBand + $k)").mkString(", ")
    val banded = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        explode(org.apache.spark.sql.functions.array(
          expr("minhash_sig(text)"))).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"), explode(expr(
        s"transform(sequence(0, ${ts.Bands - 1}), " +
          s"b -> concat_ws('|', b, $elems))")).as("bk"))
    Layout.writeBucketed(banded, "graft_bucketed_bands", 8, "bk")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = spark.table("graft_bucketed_bands")
      val pairs = t.select(col("doc_id").as("doc_a"), col("bk"))
        .join(t.select(col("doc_id").as("doc_b"), col("bk")), "bk")
        .filter(col("doc_a") < col("doc_b"))
      val exchanges = pairs.queryExecution.sparkPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty,
        s"band join shuffled despite bucketing: ${pairs.queryExecution.sparkPlan}")
      assert(pairs.count() > 0) // candidates actually exist and compute
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_bucketed_bands")
    }
  }

  test("bucketed dedup store: the anti-join plans ZERO exchanges on the " +
    "store side (the ever-growing side never re-shuffles)") {
    import spark.implicits._
    val table = "graft_bucketed_dedup_store"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      graft.ingest.DedupStore.ensureStore(spark, Bucketed(table, 8))
      val hist = (1 to 200).map(i => (i.toLong, s"doc number $i"))
        .toDF("doc_id", "text")
      graft.ingest.DedupStore.recordHashes(hist, "text", Bucketed(table))
      // Force a shuffle-based join: broadcasting the store would hide
      // the claim under test (and is exactly what CANNOT happen at
      // 100 TB — the store is the big side).
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batch = (150 to 250).map(i => (i.toLong, s"doc number $i"))
        .toDF("doc_id", "text")
      val nu = graft.ingest.DedupStore
        .newUnique(batch, "text", "doc_id", Bucketed(table))
      val plan = nu.queryExecution.sparkPlan
      val anti = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }
      assert(anti.nonEmpty, s"no anti-join in plan:\n$plan")
      val storeSideExchanges = anti.head.right.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(storeSideExchanges.isEmpty,
        s"store side of the anti-join shuffles:\n$plan")
      // and the answer is right: 150..200 are suppressed, 201..250 new
      assert(nu.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        === (201 to 250).map(_.toLong))
      // LIVE TOMBSTONES must not cost the property: the subtraction's
      // anti-join carries an explicit broadcast hint, so even with
      // auto-broadcast still disabled the store side plans no exchange
      graft.ingest.DedupStore.retract(
        Seq((160L, "doc number 160")).toDF("doc_id", "text"), "text",
        Bucketed(table))
      val nuT = graft.ingest.DedupStore
        .newUnique(batch, "text", "doc_id", Bucketed(table))
      val planT = nuT.queryExecution.sparkPlan
      val exchangesT = planT.collect {
        case e: ShuffleExchangeExec => e
      }
      // exactly the batch side's exchanges — adding the tombstone
      // subtraction must introduce ZERO new shuffles anywhere
      val batchOnly = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchangesT.size === batchOnly.size,
        s"tombstone subtraction added a shuffle:\n$planT")
      // retracted 160 now reports new alongside 201..250
      assert(nuT.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        === (160L +: (201 to 250).map(_.toLong)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    }
  }

  test("bucketed NEAR store: the band candidate join plans ZERO " +
    "exchanges on the store side, and flags a recorded paraphrase") {
    import spark.implicits._
    val table = "graft_bucketed_near_store"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val N = graft.ingest.NearDupStore
      N.ensureStore(spark, Bucketed(table, 8))
      def mk(tag: String, n: Int): String =
        (1 to 60).map(i => s"$tag$n w$i t${i * n} q${i + n}").mkString(" ")
      val hist = (1 to 10).map(i => (i.toLong, mk("alpha", i)))
        .toDF("doc_id", "text")
      N.recordSignatures(hist, "text", "doc_id", Bucketed(table))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val batch = Seq(
        (100L, mk("alpha", 3) + " edited trailing footer"),
        (101L, mk("fresh", 9))).toDF("doc_id", "text")
      val nu = N.newNearUnique(batch, "text", "doc_id", Bucketed(table))
      val plan = nu.queryExecution.sparkPlan
      val inner = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
      }
      assert(inner.nonEmpty, s"no band candidate join in plan:\n$plan")
      val storeSideExchanges = inner.head.right.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(storeSideExchanges.isEmpty,
        s"store side of the band join shuffles:\n$plan")
      assert(nu.select("doc_id").collect().map(_.getLong(0)).toSeq
        === Seq(101L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS graft_bucketed_near_store")
      spark.sql(s"DROP TABLE IF EXISTS graft_bucketed_near_store_compact_stage")
    }
  }

  test("bucketed SPAN store: the window semi-join plans ZERO exchanges " +
    "on the store side, and answers match the path-store form") {
    import spark.implicits._
    val table = "graft_bucketed_span_store"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val S = graft.ingest.SpanStore
      S.ensureStore(spark, Bucketed(table, 8))
      def mk(tag: String, n: Int): String =
        (1 to 30).map(i => f"$tag$n%02dw$i%02d q${i * n}%03d").mkString(" ")
      val hist = (1 to 20).map(i => (i.toLong, mk("alpha", i)))
        .toDF("doc_id", "text")
      S.recordWindows(hist, "text", "doc_id", Bucketed(table))
      // Force a shuffle-based join: broadcasting the store would hide
      // the claim under test (at 100 TB the window store is the big side)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // a mashup of two recorded docs, a fresh doc
      val a1 = mk("alpha", 1); val a2 = mk("alpha", 2)
      val batch = Seq(
        (100L, a1.substring(0, a1.length / 2) + " " +
          a2.substring(a2.length / 2)),
        (101L, mk("fresh", 9))).toDF("doc_id", "text")
      val nu = S.newSpanUnique(batch, "text", "doc_id", Bucketed(table))
      val plan = nu.queryExecution.sparkPlan
      val semi = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }
      assert(semi.nonEmpty, s"no semi-join in plan:\n$plan")
      val storeSideExchanges = semi.head.right.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(storeSideExchanges.isEmpty,
        s"store side of the window semi-join shuffles:\n$plan")
      // answer parity: mashup flagged, fresh survives
      assert(nu.select("doc_id").collect().map(_.getLong(0)).toSeq
        === Seq(101L))
      // bloom form under a STALE sidecar (residual files present): the
      // hit leg keeps the zero-exchange store side, the residual leg is
      // a broadcast — no semi-join's store side may plan a shuffle
      S.buildBloomSidecar(spark, Bucketed(table))
      S.recordWindows(
        Seq((50L, mk("late", 7))).toDF("doc_id", "text"),
        "text", "doc_id", Bucketed(table))
      val nb = S.newSpanUnique(batch, "text", "doc_id",
        Bucketed(table))
      val planB = nb.queryExecution.sparkPlan
      val semiB = planB.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }
      assert(semiB.size === 2, s"expected hit+residual legs:\n$planB")
      for (j <- semiB)
        assert(j.right.collect {
          case e: ShuffleExchangeExec => e }.isEmpty,
          s"a bloom-leg store side shuffles:\n$planB")
      assert(nb.select("doc_id").collect().map(_.getLong(0)).toSeq
        === Seq(101L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS graft_bucketed_span_store")
      spark.sql(s"DROP TABLE IF EXISTS graft_bucketed_span_store_compact_stage")
    }
  }

  test("bucketed MEDIA near store: the band candidate join plans ZERO " +
    "exchanges on the store side, and flags a recorded Hamming-3 " +
    "neighbor") {
    import spark.implicits._
    val table = "graft_bucketed_media_near_store"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val M = graft.ingest.MediaNearStore
      M.ensureStore(spark, Bucketed(table, 8))
      def hashes(rows: (Long, Int, Int, Int, Int)*) =
        rows.toSeq.toDF("media_id", "band0", "band1", "band2", "band3")
      M.recordHashes(
        hashes((1L, 0x1111, 0x2222, 0x3333, 0x4444),
          (2L, 0x0F0F, 0x00FF, 0x0F00, 0x5A5A)), Bucketed(table))
      // Force a shuffle-based join: broadcasting the store would hide
      // the claim under test (at 100 TB the hash history is the big side)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probes = Seq(
        (100L, 0x1110, 0x2222, 0x3333, 0x4444), // Hamming 1 of medium 1
        (101L, 0x8888, 0x7777, 0x6666, 0x9999)) // far
      val media = probes.map(r => (r._1, s"payload${r._1}"))
        .toDF("media_id", "content")
      val nu = M.newNearUnique(media, "media_id",
        hashes(probes: _*), Bucketed(table))
      val plan = nu.queryExecution.sparkPlan
      val inner = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
      }
      assert(inner.nonEmpty, s"no band candidate join in plan:\n$plan")
      val storeSideExchanges = inner.head.right.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(storeSideExchanges.isEmpty,
        s"store side of the band join shuffles:\n$plan")
      assert(nu.select("media_id").collect().map(_.getLong(0)).toSeq
        === Seq(101L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS graft_bucketed_media_near_store")
      spark.sql(
        s"DROP TABLE IF EXISTS graft_bucketed_media_near_store_compact_stage")
    }
  }

  test("z-ordered layout bounds per-file min/max on BOTH columns — a " +
    "predicate on either dimension can skip most files (linear sort " +
    "only ever bounds one)") {
    // sf0.01 deliberately: z-order quality is a function of column
    // CARDINALITY (quantile ranks collapse on ties), and sf0.001's
    // ~100-distinct user_id makes box boundaries too coarse to assert
    // against — the 10k-row table is still a sub-second test
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
      .select("user_id", "value")
    val root = java.nio.file.Files.createTempDirectory("zorder").toString
    val linDir = s"$root/linear"
    val zDir = s"$root/z"
    val files = 16
    // linear baseline: the single-column sort-on-write everyone does
    ev.repartitionByRange(files, col("user_id"))
      .sortWithinPartitions("user_id")
      .write.parquet(linDir)
    Layout.writeZOrdered(ev, zDir, Seq("user_id", "value"), files)
    // rows survive the relayout byte-for-byte (same multiset)
    val h = (d: org.apache.spark.sql.DataFrame) => d
      .agg(expr("bit_xor(xxhash64(user_id, value))"), count(lit(1)))
      .collect()(0).toSeq
    assert(h(spark.read.parquet(zDir)) === h(ev))
    // per-file [min,max] boxes from the footer-visible stats' source data
    def boxes(dir: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
        min("value").as("vlo"), max("value").as("vhi"))
      .collect().toSeq
    def overlaps(bs: Seq[org.apache.spark.sql.Row], c: String,
        lo: Double, hi: Double): Int = {
      val (i, j) = if (c == "user_id") (0, 1) else (2, 3)
      bs.count { r =>
        val (blo, bhi) = (r.get(i + 1).toString.toDouble,
          r.get(j + 1).toString.toDouble)
        bhi >= lo && blo <= hi
      }
    }
    // range partitioning may leave a few ranges empty on low-cardinality
    // columns (sampled duplicate boundaries) — prune math uses the
    // ACTUAL file counts, not the requested 16
    val zb = boxes(zDir)
    val lb = boxes(linDir)
    assert(zb.size >= files / 2 && lb.size >= files / 2,
      s"z=${zb.size} lin=${lb.size} files materialized")
    // Box quality, the stat the pruning follows from: average per-file
    // span as a fraction of the global domain. (A point predicate hits
    // ~avgSpan of the files; band predicates add the band width and,
    // when centered on the median, straddle the top morton-bit flip by
    // construction — span is the placement-independent measure.)
    def avgSpan(bs: Seq[org.apache.spark.sql.Row], c: String): Double = {
      val (i, j) = if (c == "user_id") (1, 2) else (3, 4)
      val los = bs.map(_.get(i).toString.toDouble)
      val his = bs.map(_.get(j).toString.toDouble)
      val (glo, ghi) = (los.min, his.max)
      bs.indices.map(r => (his(r) - los(r)) / (ghi - glo)).sum / bs.size
    }
    // linear layout: the sort bounds user_id tightly…
    assert(avgSpan(lb, "user_id") <= 0.2,
      s"linear user_id avg span ${avgSpan(lb, "user_id")}")
    // …while value goes unbounded — at least 2× looser than z-order
    // gets it (absolute spans depend on the tail shape; the RATIO is
    // the layout's doing)
    assert(avgSpan(lb, "value") >= 2 * avgSpan(zb, "value"),
      s"linear value avg span ${avgSpan(lb, "value")} vs " +
        s"z ${avgSpan(zb, "value")}")
    // z-order: BOTH dimensions bounded well below the full domain
    assert(avgSpan(zb, "user_id") <= 0.6,
      s"z user_id avg span ${avgSpan(zb, "user_id")}")
    assert(avgSpan(zb, "value") <= 0.6,
      s"z value avg span ${avgSpan(zb, "value")}")
    // and the scan-level consequence vs the baseline: a 10%-of-rows
    // band on the OFF-SORT column overlaps strictly fewer z files
    val Array(vlo, vhi) = ev.stat.approxQuantile("value",
      Array(0.45, 0.55), 0.001)
    val zv = overlaps(zb, "value", vlo, vhi)
    val lv = overlaps(lb, "value", vlo, vhi)
    assert(zv < lv,
      s"z-order ($zv/${zb.size} files) did not beat linear ($lv/${lb.size})" +
        " on the off-sort column")
  }

  test("salted join is row-identical to the plain join on a skewed key") {
    import spark.implicits._
    // 90% of the big side carries one hot key — the shape that melts a
    // single reducer in a plain key-shuffle.
    val big = (1 to 2000).map { i =>
      (if (i % 10 == 0) s"k${i % 7}" else "hotkey", i.toLong)
    }.toDF("k", "v")
    val small = Seq(("hotkey", "H"), ("k0", "A"), ("k3", "B"), ("k6", "C"))
      .toDF("k", "tag")
    val plain = big.join(small, "k")
    val salted = Layout.saltedJoin(big, small, "k", salts = 8)
    assert(salted.columns.toSeq === plain.columns.toSeq)
    val p = plain.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))
    val sgot = salted.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))
    assert(sgot === p)
    // salts = 1 degenerates to the plain join too
    val one = Layout.saltedJoin(big, small, "k", salts = 1)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(one === p)
  }

  test("salted join spreads the hot key across salt partitions") {
    import spark.implicits._
    val big = (1 to 1000).map(i => ("hotkey", i.toLong)).toDF("k", "v")
    val small = Seq(("hotkey", "H")).toDF("k", "tag")
    val salted = Layout.saltedJoin(big, small, "k", salts = 8)
    // The physical join key must include the salt column: shuffling on
    // (k, salt) is the whole point.
    val planStr = salted.queryExecution.sparkPlan.toString
    assert(planStr.contains("__graft_salt"), planStr)
    // Deterministic: same salt assignment on rerun (xxhash64, not rand).
    val a = salted.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val b = salted.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(a === b && a.length === 1000)
  }

  test("path-store compaction merges a micro-batched store into one " +
    "file, keeps one row per key, and leaves no staging sibling") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val dir = java.nio.file.Files.createTempDirectory("compact")
      .resolve("t").toString
    // 12 one-row micro-batch records plus an at-least-once re-record
    for (i <- (1 to 12) :+ 1)
      D.recordHashes(Seq((i.toLong, s"row$i")).toDF("doc_id", "text"),
        "text", dir)
    def dataFiles = new java.io.File(dir).listFiles.toSeq
      .map(_.getName).filter(n => !n.startsWith("_") && !n.startsWith("."))
    def hashes = spark.read.parquet(dir).as[String].collect().toSeq
    val recorded = hashes.distinct.sorted
    assert(dataFiles.size === 13 && recorded.size === 12)
    assert(D.compactStore(spark, dir, 1L << 20) === ((13L, 1L)))
    assert(dataFiles.size === 1)
    assert(hashes.sorted === recorded, "compaction changed the key set")
    val parent = new java.io.File(dir).getParentFile.listFiles.map(_.getName)
    assert(!parent.exists(_.startsWith("t.compact-")), parent.toSeq)
    // a second pass rewrites the one file into one file, same keys
    assert(D.compactStore(spark, dir, 1L << 20) === ((1L, 1L)))
    assert(hashes.sorted === recorded)
  }

  test("date-partitioned fact scans prune to the filtered partition") {
    import spark.implicits._
    // the Warehouse fact layout (partitionBy date): a day-filtered read
    // must touch ONE partition's files, not scan-and-discard all days
    val dir = java.nio.file.Files.createTempDirectory("prune").toString
    Seq(("2025-01-01", 1L), ("2025-01-01", 2L), ("2025-01-02", 3L),
      ("2025-01-03", 4L))
      .toDF("sale_date", "v")
      .write.partitionBy("sale_date").parquet(s"$dir/fact")
    val q = spark.read.parquet(s"$dir/fact")
      .filter(col("sale_date") === "2025-01-02")
    // collect() drives q's OWN queryExecution, so the scan node below
    // carries the executed metrics (count() would plan separately)
    assert(q.collect().length === 1)
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata.getOrElse("PartitionFilters", "[]") != "[]",
      "date filter did not become a partition filter")
    assert(scan.metrics("numFiles").value === 1,
      s"read ${scan.metrics("numFiles").value} files; pruning lost")
  }

  test("IVF index at rest: a probed top-k reads ONLY the nprobe list " +
    "partitions and matches the unindexed plan's answer") {
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = e.filter(col("vec_id").between(1, 8))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    val query = e.filter(col("vec_id") === 0)
      .collect()(0).getSeq[Double](1).toArray
    val root = java.nio.file.Files.createTempDirectory("ivf").toString +
      "/index"
    graft.operators.AnnIndex.writeIndex(e, cents, root)
    val gen = graft.operators.AnnIndex.current(spark, root)
    val dir = gen.dir
    // every list directory exists on disk (8 centroids, corpus covers all)
    val lists = new java.io.File(dir).listFiles
      .filter(_.getName.startsWith("cid=")).map(_.getName).sorted
    assert(lists.length === 8, lists.toSeq)
    val q = graft.operators.AnnIndex.topK(spark, gen, query,
      k = 5, nprobe = 2)
    val got = q.collect().map(_.getLong(0)).toSeq
    assert(got.size === 5)
    // the unindexed reference: same assignment plan, filtered to the
    // same probed lists, same re-rank — the index must change WHERE the
    // bytes live, never the answer
    graft.functions.Functions.register(spark)
    val probes = graft.operators.AnnIndex.probeLists(query, cents, 2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(desc("csim"), col("cid"))
    import spark.implicits._
    val cdf = cents.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv")
    val expect = e.crossJoin(broadcast(cdf))
      .withColumn("csim", expr("cosine_sim(v, cv)"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1 && col("cid").isin(probes: _*))
      .withColumn("qv", typedLit(query.toSeq))
      .select(col("vec_id"), expr("cosine_sim(v, qv)").as("cosine"))
      .orderBy(desc("cosine"), col("vec_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(got === expect)
    // scan proof: cid filter became a PARTITION filter and the scan
    // opened only the two probed lists' files
    val scan = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata.getOrElse("PartitionFilters", "[]") != "[]",
      "cid filter did not prune partitions")
    val probedFiles = probes.map(c =>
      new java.io.File(s"$dir/cid=$c").listFiles
        .count(f => f.getName.endsWith(".parquet"))).sum
    assert(scan.metrics("numFiles").value === probedFiles,
      s"scan read ${scan.metrics("numFiles").value} files, " +
        s"probed lists hold $probedFiles")
    // top-k lowers to TakeOrderedAndProject, not a global sort
    assert(q.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("batch index serving: topKBatch equals one topK per query, from " +
    "a single scan over the union of probed lists") {
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = e.filter(col("vec_id").between(1, 8))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    val root = java.nio.file.Files.createTempDirectory("ivf-batch")
      .toString + "/index"
    graft.operators.AnnIndex.writeIndex(e, cents, root)
    val gen = graft.operators.AnnIndex.current(spark, root)
    val dir = gen.dir
    val queries = Seq(0L, 5L, 9L).map { id =>
      id -> e.filter(col("vec_id") === id)
        .collect()(0).getSeq[Double](1).toArray
    }
    val batch = graft.operators.AnnIndex
      .topKBatch(spark, gen, queries, k = 4, nprobe = 2)
    val got = batch.collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq }
    for ((qid, qv) <- queries) {
      val single = graft.operators.AnnIndex
        .topK(spark, gen, qv, k = 4, nprobe = 2)
        .collect().map(_.getLong(0)).toSeq
      assert(got(qid) === single, s"query $qid diverged from topK")
    }
    // one scan, pruned to the UNION of the probed lists
    val union = queries
      .flatMap(q => graft.operators.AnnIndex.probeLists(q._2, cents, 2))
      .distinct
    val scan = scansOf(batch.queryExecution.executedPlan).head
    val unionFiles = union.map(c =>
      new java.io.File(s"$dir/cid=$c").listFiles
        .count(_.getName.endsWith(".parquet"))).sum
    assert(scan.metrics("numFiles").value === unionFiles,
      s"scan read ${scan.metrics("numFiles").value}, union holds " +
        s"$unionFiles")
    // per-query prune rides WindowGroupLimit, like q84
    assert(batch.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"))
  }

  test("trainer-to-index composition: KMeans-trained centroids build a " +
    "probeable IVF index") {
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = graft.operators.KMeans.trainCollected(e, 1L to 8L,
      iters = 2)
    assert(cents.map(_._1) === (1 to 8), "a seed cluster vanished")
    assert(cents.forall(_._2.length === 64))
    val root = java.nio.file.Files.createTempDirectory("ivf-trained")
      .toString + "/index"
    graft.operators.AnnIndex.writeIndex(e, cents, root)
    val query = e.filter(col("vec_id") === 0)
      .collect()(0).getSeq[Double](1).toArray
    val hits = graft.operators.AnnIndex
      .topK(spark, graft.operators.AnnIndex.current(spark, root), query,
        k = 5, nprobe = 2)
      .collect()
    assert(hits.length === 5)
    // trained centroids partition the corpus non-degenerately: the top
    // hits come from the probed lists only
    val probed = graft.operators.AnnIndex.probeLists(query, cents, 2).toSet
    assert(hits.map(_.getInt(1)).toSet.subsetOf(probed))
  }

  test("path-store compaction crash-state law: staged but not moved, " +
    "half moved, and moved with inputs half deleted each answer every " +
    "probe as before without broadcasting a moved file, and the next " +
    "compactStore converges (exact, exact with a Bloom sidecar, and " +
    "span stores)") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join,
      LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    import org.apache.hadoop.fs.Path
    val D = graft.ingest.DedupStore
    val S = graft.ingest.SpanStore
    def text(i: Int) = (1 to 12).map(j => s"w${i * 31 + j}").mkString(" ")
    val docs = (1 to 30).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val gone = docs.filter(col("doc_id") <= 3L)
    val probe = docs.filter(col("doc_id") <= 6L || col("doc_id") > 27L)
      .union(Seq((99L, text(99))).toDF("doc_id", "text"))
    def ids(df: DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // the names of the files a plan scans under a broadcast join hint
    def broadcastFiles(df: DataFrame): Set[String] = {
      def scanned(p: LogicalPlan): Seq[String] = p.collect {
        case l: LogicalRelation => l.relation match {
          case r: HadoopFsRelation =>
            r.location.inputFiles.map(new Path(_).getName).toSeq
          case _ => Nil
        }
      }.flatten
      df.queryExecution.optimizedPlan.collect {
        case j: Join =>
          def forced(h: Option[org.apache.spark.sql.catalyst.plans.logical
            .HintInfo]) = h.exists(_.strategy.contains(BROADCAST))
          (if (forced(j.hint.leftHint)) scanned(j.left) else Nil) ++
            (if (forced(j.hint.rightHint)) scanned(j.right) else Nil)
      }.flatten.toSet
    }
    // (store, key column, with a sidecar, record, retract, probe)
    val exactProbe = (st: String) => D.newUnique(probe, "text", "doc_id", st)
    val stores: Seq[(String, String, Boolean, (DataFrame, String) => Unit,
        String => Unit, String => DataFrame)] = Seq(
      ("exact", "content_hash", false, D.recordHashes(_, "text", _),
        D.retract(gone, "text", _), exactProbe),
      ("exact with sidecar", "content_hash", true,
        D.recordHashes(_, "text", _), D.retract(gone, "text", _),
        exactProbe),
      ("span", "h", false, S.recordWindows(_, "text", "doc_id", _),
        S.retract(gone, "text", "doc_id", _),
        st => S.newSpanUnique(probe, "text", "doc_id", st)))
    for ((label, key, sidecar, record, retract, answer) <- stores;
         state <- Seq("staged", "half moved", "half deleted")) {
      val parent = java.nio.file.Files.createTempDirectory("compact-crash")
      val dir = parent.resolve("s").toString
      val store = new Path(dir)
      val fs = store.getFileSystem(spark.sessionState.newHadoopConf())
      def files(d: String) =
        graft.ingest.StoreLayout.storeDataFiles(fs, new Path(d))
      def keys(paths: Seq[Path]): DataFrame =
        spark.read.parquet(paths.map(_.toString): _*).select(key)
      def compact(target: Long) =
        if (key == "h") S.compactStore(spark, dir, target)
        else D.compactStore(spark, dir, target)
      // three appends, one of them an at-least-once re-record
      record(docs.filter(col("doc_id") <= 15L), dir)
      record(docs.filter(col("doc_id") > 15L), dir)
      record(docs.filter(col("doc_id") <= 10L), dir)
      if (sidecar) assert(D.buildBloomSidecar(spark, dir) > 0L)
      retract(dir)
      val before = ids(answer(dir))
      val inputs = files(dir)
      val tombs = files(dir + ".tombstones")
      assert(inputs.size >= 2 && tombs.nonEmpty)
      val want = keys(inputs).distinct()
        .join(keys(tombs), Seq(key), "left_anti")
        .collect().map(_.get(0).toString).sorted.toSeq
      // crash a real compaction right after its staged output commits,
      // one file per shuffle partition (no AQE coalescing, 1-byte target)
      val confs = Seq(
        "spark.sql.sources.commitProtocolClass" ->
          classOf[CrashAfterCompactionStage].getName,
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val crash = try intercept[Exception](compact(1L))
        finally prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      assert(Iterator.iterate[Throwable](crash)(_.getCause)
        .takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains(
          CrashAfterCompactionStage.Message)), crash)
      val stages = parent.toFile.list().filter(_.startsWith("s.compact-"))
      assert(stages.length === 1)
      val staged = files(parent.resolve(stages.head).toString)
      assert(staged.size >= 2, s"$label: staged $staged")
      def moveIn(ps: Seq[Path]): Unit = ps.foreach(p =>
        assert(fs.rename(p, new Path(store, p.getName))))
      state match {
        case "staged" => ()
        case "half moved" => moveIn(staged.take(staged.size / 2))
        case "half deleted" =>
          moveIn(staged)
          inputs.take(inputs.size / 2).foreach(fs.delete(_, false))
      }
      val moved = files(dir).map(_.getName).toSet --
        inputs.map(_.getName)
      val crashed = answer(dir)
      assert(ids(crashed) === before, s"$label/$state: a probe changed")
      assert((broadcastFiles(crashed) intersect moved).isEmpty,
        s"$label/$state: the probe broadcasts moved files")
      compact(1L << 20)
      val got = keys(files(dir)).collect().map(_.get(0).toString)
        .sorted.toSeq
      assert(got === want,
        s"$label/$state: not one row per key minus the applied tombstones")
      assert(files(dir + ".tombstones").isEmpty,
        s"$label/$state: the applied tombstones were not cleared")
      val left = parent.toFile.list().filter(_.startsWith("s.compact-"))
      assert(left.isEmpty, s"$label/$state: staging left: ${left.toSeq}")
      assert(ids(answer(dir)) === before,
        s"$label/$state: the compaction changed a probe")
    }
  }

  test("a path store an interrupted directory-swap compaction left " +
    "behind (its `.compact.old` sibling) is refused by probes, records " +
    "and compactions instead of reading as empty") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("swap-leftover")
      .resolve("s").toString
    D.recordHashes(docs, "text", dir)
    val old = new java.io.File(dir + ".compact.old")
    assert(new java.io.File(dir).renameTo(old))
    for (op <- Seq[() => Any](
        () => D.newUnique(docs, "text", "doc_id", dir).collect(),
        () => D.recordHashes(docs, "text", dir),
        () => D.compactStore(spark, dir))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(old.getName) &&
        e.getMessage.contains("rename it to"), e.getMessage)
    }
    assert(!new java.io.File(dir).exists, "a record created a fresh store")
    // the documented hand fix restores the store
    assert(old.renameTo(new java.io.File(dir)))
    assert(D.newUnique(docs, "text", "doc_id", dir).count() === 0L)
  }

  test("versioned IVF index: retrain swaps generations atomically " +
    "while an in-flight probe keeps serving the old one, and " +
    "distortion drops after retraining away from drifted centroids") {
    val A = graft.operators.AnnIndex
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val query = e.filter(col("vec_id") === 0)
      .collect()(0).getSeq[Double](1).toArray
    // DRIFTED initial centroids: two seeds only, so most lists are
    // mis-fit — the q91/q96 "retrain me" condition by construction
    val bad = e.filter(col("vec_id").between(1, 2)).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    val root = java.nio.file.Files.createTempDirectory("ivfgen")
      .toString + "/index"
    val g1 = A.writeIndex(e, bad, root)
    val h1 = A.current(spark, root)
    assert(h1.name === g1)
    assert(h1.centroids.map(_._1) === Seq(1, 2))
    // resolve a probe against g1 BEFORE the swap…
    val inflight = A.topK(spark, h1, query, k = 5, nprobe = 2)
    val before = inflight.collect().map(_.getLong(0)).toSeq
    def distortion(): Double = {
      val gen = A.current(spark, root)
      import spark.implicits._
      val cdf = gen.centroids.map { case (cid, cv) => (cid, cv.toSeq) }
        .toDF("cid", "cv")
      graft.operators.KMeans.assign(
        spark.read.parquet(gen.dir).select("vec_id", "v"), cdf)
        .agg(avg(col("dist_fp"))).collect()(0).getDouble(0)
    }
    val distBefore = distortion()
    // …retrain (new generation, atomic manifest swap, GC beyond the
    // predecessor)…
    val g2 = A.retrain(spark, root, iters = 3)
    assert(g2 !== g1)
    assert(A.current(spark, root).name === g2)
    // …the in-flight plan still answers — g1's files are RETAINED for
    // one cycle — and answers identically
    assert(inflight.collect().map(_.getLong(0)).toSeq === before,
      "in-flight probe changed answers across the generation swap")
    // …and so does a FRESH plan on the handle resolved before the swap:
    // a handle pins its generation; only a new resolve moves to g2
    assert(A.topK(spark, h1, query, k = 5, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq === before,
      "a plan on the pre-swap handle changed answers after the swap")
    val h2 = A.current(spark, root)
    assert(h2.name === g2)
    val h2Roots = scansOf(A.topK(spark, h2, query, k = 5, nprobe = 2)
        .queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(h2Roots.nonEmpty && h2Roots.forall(_.contains(g2)),
      s"a handle resolved after the swap must serve the new generation: " +
        s"$h2Roots")
    val gens = new java.io.File(root).listFiles
      .filter(_.getName.startsWith("gen-")).map(_.getName).toSet
    assert(gens === Set(g1, g2), s"GC kept the wrong generations: $gens")
    // Lloyd from the drifted seeds strictly improves fit
    val distAfter = distortion()
    assert(distAfter < distBefore,
      s"distortion did not drop: $distBefore -> $distAfter")
    // a second retrain GCs g1 (now two generations old)
    val g3 = A.retrain(spark, root, iters = 1)
    val gens2 = new java.io.File(root).listFiles
      .filter(_.getName.startsWith("gen-")).map(_.getName).toSet
    assert(gens2 === Set(g2, g3), s"predecessor GC wrong: $gens2")
  }

  test("ANN takedown law: post-retract topKCurrent never returns a " +
    "retracted id — immediately, after an appender re-adds it, across " +
    "retrain and vacuum swaps — and vacuum rewrites ONLY the affected " +
    "inverted lists") {
    val A = graft.operators.AnnIndex
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = e.filter(col("vec_id").between(1, 4)).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    val root = java.nio.file.Files.createTempDirectory("ivfretract")
      .toString + "/index"
    A.writeIndex(e, cents, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the self-query: vec X must be its own top hit before retraction
    val x = 7L
    val qx = e.filter(col("vec_id") === x)
      .collect()(0).getSeq[Double](1).toArray
    def served(): Seq[Long] = A.topK(spark, A.current(spark, root), qx, k = 5,
      nprobe = 4).collect().map(_.getLong(0)).toSeq
    assert(served().head === x)
    // phase 1: retract → masked from the NEXT query on, no rewrite ran
    A.retract(spark, root, Seq(x))
    assert(!served().contains(x), "retracted id still served")
    assert(!A.topKBatch(spark, A.current(spark, root), Seq((1L, qx)), k = 5,
        nprobe = 4).collect().map(_.getLong(1)).contains(x),
      "retracted id still served by the batch probe")
    // a (streaming-appender-shaped) re-append while the retraction is
    // pending stays masked — takedown needs no appender coordination
    A.assignByCosine(e.filter(col("vec_id") === x),
        A.current(spark, root).centroids)
      .write.mode("append").partitionBy("cid")
      .parquet(A.current(spark, root).dir)
    assert(!served().contains(x), "re-appended retracted id served")
    // phase 2a: retrain physically drops it and clears the applied set
    A.retrain(spark, root, iters = 1)
    assert(!served().contains(x), "retracted id back after retrain")
    assert(spark.read.parquet(A.current(spark, root).dir)
      .filter(col("vec_id") === x).count() === 0L,
      "retrain did not physically drop the retracted rows")
    assert(graft.ingest.StoreLayout.storeDataFiles(fs,
        A.retractedDir(root)).isEmpty,
      "applied retraction files not cleared by retrain")
    // phase 2b: vacuum — prompt physical drop, affected lists only
    val y = served().head // currently-served vector to take down next
    val genBefore = A.current(spark, root).name
    val dirBefore = A.current(spark, root).dir
    val yCid = spark.read.parquet(dirBefore)
      .filter(col("vec_id") === y).select("cid")
      .collect().map(_.get(0).toString.toInt).toSet
    def partFiles(dir: String, cid: Int): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/cid=$cid"))
        .filter(_.isFile).map(_.getPath.getName)
        .filterNot(_.startsWith("_")).toSet
    val untouchedCids = A.current(spark, root).centroids.map(_._1)
      .filterNot(yCid).filter(c => fs.exists(
        new org.apache.hadoop.fs.Path(s"$dirBefore/cid=$c")))
    val untouchedBefore = untouchedCids.map(c => c -> partFiles(dirBefore, c))
    A.retract(spark, root, Seq(y))
    val genAfter = A.vacuumRetracted(spark, root)
    assert(genAfter !== genBefore, "vacuum did not swap a generation")
    assert(A.current(spark, root).name === genAfter)
    val dirAfter = A.current(spark, root).dir
    assert(spark.read.parquet(dirAfter)
      .filter(col("vec_id") === y).count() === 0L,
      "vacuum did not physically drop the retracted rows")
    assert(!served().contains(y) && !served().contains(x))
    // untouched inverted lists were copied forward VERBATIM
    untouchedBefore.foreach { case (c, files) =>
      assert(partFiles(dirAfter, c) === files,
        s"vacuum rewrote untouched list cid=$c")
    }
    // predecessor retained for in-flight readers; applied set cleared
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$genBefore")),
      "vacuum GC'd the predecessor generation")
    assert(graft.ingest.StoreLayout.storeDataFiles(fs,
        A.retractedDir(root)).isEmpty,
      "applied retraction files not cleared by vacuum")
    // re-admission: with the set clear, a re-appended vector serves again
    A.assignByCosine(e.filter(col("vec_id") === x),
        A.current(spark, root).centroids)
      .write.mode("append").partitionBy("cid")
      .parquet(A.current(spark, root).dir)
    assert(served().contains(x),
      "re-admitted vector still masked after the set was cleared")
  }

  test("IndexStats: the index maintenance report flips exactly the " +
    "right signal at each lifecycle transition (build -> pq -> append " +
    "-> retract -> vacuum -> retrain -> rebuild), and stats() runs " +
    "ZERO Spark jobs") {
    val A = graft.operators.AnnIndex
    val IS = graft.operators.IndexStats
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val nVecs = e.count()
    val cents = e.filter(col("vec_id").between(1, 4)).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    val root = java.nio.file.Files.createTempDirectory("idxstats")
      .toString + "/index"
    val g1 = A.writeIndex(e, cents, root)
    // pure-metadata law: stats() spawns no Spark job
    val (s1, statsJobs) = jobsDuring(IS.stats(spark, root))
    assert(statsJobs.size === 0,
      s"stats() must run zero Spark jobs (saw ${statsJobs.size})")
    // 1: fresh build — data present, no sidecar, nothing retracted
    assert(s1.generation === g1 && s1.generationsOnDisk === 1 &&
      !s1.predecessorRetained)
    assert(s1.dataFiles > 0 && s1.dataBytes > 0L)
    assert(!s1.pqPresent && s1.pqCoveredFiles === 0 &&
      s1.pqResidualFiles === s1.dataFiles)
    assert(s1.sidecarRebuildDue,
      "a non-empty generation without codes must read due")
    assert(s1.retractedFiles === 0 && !s1.vacuumDue)
    assert(s1.manifestAgeMs >= 0L && s1.manifestAgeMs < 3600000L)
    // 2: sidecar built — fully covered, signal clears
    A.buildPqSidecar(spark, root, m = 8, k = 8, iters = 1)
    val s2 = IS.stats(spark, root)
    assert(s2.pqPresent && !s2.sidecarRebuildDue)
    assert(s2.pqCoveredFiles === s2.dataFiles && s2.pqResidualFiles === 0)
    // 3: comparable-size append (the streaming appender's shape):
    // residual share ~half — past the 25% ceiling, due again
    A.assignByCosine(
        e.withColumn("vec_id", col("vec_id") + 100000L), cents)
      .write.mode("append").partitionBy("cid")
      .parquet(A.current(spark, root).dir)
    val s3 = IS.stats(spark, root)
    assert(s3.pqResidualFiles > 0 && s3.pqResidualBytes > 0L)
    assert(s3.sidecarRebuildDue, "a ~50% residual share must read due")
    assert(s3.pqCoveredFiles === s2.pqCoveredFiles)
    // 4: retraction — backlog visible, under the default ceiling not
    // yet due; a lowered ceiling flips the vacuum-before-the-
    // broadcast-gate-falls-over signal
    A.retract(spark, root, Seq(1L, 2L))
    val s4 = IS.stats(spark, root)
    assert(s4.retractedFiles > 0 && s4.retractedBytes > 0L)
    assert(!s4.vacuumDue, "a takedown-list backlog under the default " +
      "ceiling must not demand a vacuum")
    spark.conf.set("graft.tombstone.broadcast.maxBytes", "2")
    val g2 =
      try {
        val s5 = IS.stats(spark, root)
        assert(s5.retractionCeilingBytes === 2L && s5.vacuumDue,
          "backlog past half the ceiling must demand a vacuum")
        // 5: vacuum — backlog cleared, fresh sidecar-less generation
        // installed, predecessor retained
        A.vacuumRetracted(spark, root)
      } finally spark.conf.unset("graft.tombstone.broadcast.maxBytes")
    assert(g2 !== g1)
    val s6 = IS.stats(spark, root)
    assert(s6.generation === g2 && s6.generationsOnDisk === 2 &&
      s6.predecessorRetained)
    assert(s6.retractedFiles === 0 && !s6.vacuumDue)
    assert(!s6.pqPresent && s6.sidecarRebuildDue,
      "a vacuumed generation starts sidecar-less and must read due")
    // 6: retrain then rebuild — due until the sidecar lands again
    val g3 = A.retrain(spark, root, iters = 1)
    assert(IS.stats(spark, root).sidecarRebuildDue)
    A.buildPqSidecar(spark, root, m = 8, k = 8, iters = 1)
    val s7 = IS.stats(spark, root)
    assert(s7.generation === g3 && s7.pqPresent && !s7.sidecarRebuildDue)
    // 7: the retrain-trigger leg (explicitly a Spark job): the
    // distortion report covers every surviving row, and retrainDue
    // brackets the worst list's mean
    val d = IS.listDistortion(spark, root).collect()
    assert(d.map(_.getAs[Long]("n_vectors")).sum === 2 * nVecs - 2,
      "distortion report must cover every surviving vector")
    val worst = d.map(_.getAs[Double]("mean_dist_fp")).max
    assert(IS.retrainDue(spark, root, worst - 1.0))
    assert(!IS.retrainDue(spark, root, worst + 1.0))
    // 8: the Lloyd-stats flag — which retrain form retrainDue should
    // schedule: this walk's generations carry no _lloyd frame; an
    // opt-in rebuild flips it
    assert(!s7.lloydStats,
      "a generation built without lloydStats must not report one")
    A.writeIndex(e, cents, root, lloydStats = true)
    assert(IS.stats(spark, root).lloydStats,
      "a stats-seeded generation must report the zero-rescan form")
  }

  test("IVF-PQ sidecar: ADC serving scans only probed code lists and " +
    "no float column, full-depth re-rank equals the exact plan, " +
    "retraction masks both passes, and a post-retrain generation " +
    "falls back to exact until the sidecar is rebuilt") {
    val A = graft.operators.AnnIndex
    val P = graft.operators.Pq
    graft.functions.Functions.register(spark)
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = e.filter(col("vec_id").between(1, 8)).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    val query = e.filter(col("vec_id") === 0)
      .collect()(0).getSeq[Double](1).toArray
    val root = java.nio.file.Files.createTempDirectory("ivfpq")
      .toString + "/index"
    A.writeIndex(e, cents, root)
    val exact = A.topK(spark, A.current(spark, root), query, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // no sidecar yet: the PQ entry point serves the exact plan
    assert(A.topKPq(spark, A.current(spark, root), query, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === exact, "missing-sidecar fallback diverged from exact")
    A.buildPqSidecar(spark, root, m = 8, k = 8, iters = 1)
    // full-depth re-rank = the exact answer by construction
    assert(A.topKPq(spark, A.current(spark, root), query, k = 5, nprobe = 2,
        rerank = 1000000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === exact, "full-depth re-rank diverged from the exact plan")
    // a query of the wrong dimension is refused by every literal-query
    // form (probeLists), shorter and longer alike, naming both lengths
    val gen = A.current(spark, root)
    for (bad <- Seq(query.take(32), query ++ query)) {
      val forms: Seq[(String, () => Any)] = Seq(
        "topK" -> (() => A.topK(spark, gen, bad, k = 5, nprobe = 2)),
        "topKBatch" -> (() =>
          A.topKBatch(spark, gen, Seq((1L, bad)), k = 5, nprobe = 2)),
        "topKPq" -> (() => A.topKPq(spark, gen, bad, k = 5, nprobe = 2)),
        "topKBatchPq" -> (() =>
          A.topKBatchPq(spark, gen, Seq((1L, bad)), k = 5, nprobe = 2)))
      for ((name, call) <- forms) {
        val err = intercept[IllegalArgumentException](call())
        assert(err.getMessage.contains(s"${bad.length} dimensions") &&
          err.getMessage.contains(s"centroids ${query.length}"),
          s"$name: ${err.getMessage}")
      }
    }
    // pure-ADC pass: equals the standalone Pq pipeline restricted to
    // the probed lists (ONE arithmetic, two spellings)
    val probes = A.probeLists(query, cents, 2)
    val probedVecs = A.assignByCosine(e, cents)
      .filter(col("cid").isin(probes: _*)).select("vec_id", "v")
    val seedIds = e.select("vec_id").orderBy("vec_id").limit(8)
      .collect().map(_.getLong(0)).toSeq
    val cb = P.train(e, seedIds, 8, 64, iters = 1)
    val want = P.adcTopK(P.encode(probedVecs, cb, 8, 64),
        P.adcLut(e.filter(col("vec_id") === 0L), cb, 8, 64), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adc = A.topKPq(spark, A.current(spark, root), query, k = 5, nprobe = 2)
    val got = adc.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want, "ADC serving diverged from the Pq pipeline")
    // scan proof: the ADC plan prunes to the probed _pq lists and its
    // read schema carries codes, never the float vector
    val scan = adc.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.metadata.getOrElse("PartitionFilters", "[]") != "[]",
      "cid filter did not prune the _pq partitions")
    val dir = A.current(spark, root).dir
    val probedFiles = probes.map(c =>
      new java.io.File(s"$dir/_pq/cid=$c").listFiles
        .count(f => f.getName.endsWith(".parquet"))).sum
    assert(scan.metrics("numFiles").value === probedFiles,
      s"ADC scan read ${scan.metrics("numFiles").value} files vs " +
        s"$probedFiles probed")
    assert(scan.schema.fieldNames.contains("codes") &&
      !scan.schema.fieldNames.contains("v"),
      s"ADC scan schema reads ${scan.schema.fieldNames.toSeq}")
    // r14 packed-codes pin: the at-rest codes column is BINARY of
    // exactly m bytes (one code rank per subspace) — the dominant
    // scan column of the serving path must never regress to the
    // array<bigint> form (m longs + per-element list overhead)
    assert(scan.schema("codes").dataType ===
      org.apache.spark.sql.types.BinaryType,
      s"_pq codes must be BinaryType, got ${scan.schema("codes").dataType}")
    val codeCells = spark.read.parquet(s"$dir/_pq")
      .select("codes").collect().map(_.getAs[Array[Byte]](0))
    assert(codeCells.nonEmpty && codeCells.forall(_.length === 8),
      "every packed codes cell must be exactly m = 8 bytes")
    // residual leg: a vector appended AFTER the sidecar build (the
    // streaming appender's shape) has no codes, but must still be
    // served — scored exactly and merged. The appended copy of the
    // query vector itself must come back as the top hit (its exact
    // distance is 0, below every quantized candidate).
    val freshId = 900001L
    import spark.implicits._
    val fresh = Seq((freshId, query.toSeq)).toDF("vec_id", "v")
    A.assignByCosine(fresh, cents)
      .write.mode("append").partitionBy("cid")
      .parquet(A.current(spark, root).dir)
    val withFresh = A.topKPq(spark, A.current(spark, root), query, k = 5,
      nprobe = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(withFresh.map(_._1).contains(freshId),
      "post-build append invisible to PQ serving (residual leg broken)")
    assert(withFresh.head === ((freshId, 0L)),
      s"appended query copy must rank first at distance 0: " +
        s"${withFresh.toSeq}")
    assert(A.topKPq(spark, A.current(spark, root), query, k = 5, nprobe = 2,
        rerank = 50)
      .collect().map(_.getLong(0)).contains(freshId),
      "post-build append invisible to the re-rank pass")
    // retraction masks the ADC pass and the re-ranked pass alike
    val top = got.head._1
    A.retract(spark, root, Seq(top))
    assert(!A.topKPq(spark, A.current(spark, root), query, k = 5, nprobe = 2)
      .collect().map(_.getLong(0)).contains(top),
      "retracted id served by ADC")
    assert(!A.topKPq(spark, A.current(spark, root), query, k = 5, nprobe = 2,
        rerank = 50)
      .collect().map(_.getLong(0)).contains(top),
      "retracted id served by the re-rank pass")
    // a retrain installs a fresh generation WITHOUT _pq: the entry
    // point falls back to exact (never a stale-codebook answer) until
    // the sidecar is rebuilt
    A.retrain(spark, root, iters = 1)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
        A.current(spark, root).dir + "/_pq")),
      "a fresh generation must not inherit the predecessor's codes")
    val exact2 = A.topK(spark, A.current(spark, root), query, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(A.topKPq(spark, A.current(spark, root), query, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === exact2)
    // rebuilt on the new generation: serving again, retraction still
    // honored (the root-level set applies to every generation)
    A.buildPqSidecar(spark, root, m = 8, k = 8, iters = 1)
    assert(!A.topKPq(spark, A.current(spark, root), query, k = 5, nprobe = 2)
      .collect().map(_.getLong(0)).contains(top))
    // batch PQ serving: per-query answers identical to one single-
    // query call each, from ONE code-list pass — including a query
    // whose probes overlap another's and the residual leg (append a
    // fresh vector first so the batch walks both legs)
    val e2 = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    import spark.implicits._
    val fresh2 = Seq((900002L, query.toSeq)).toDF("vec_id", "v")
    A.assignByCosine(fresh2, A.current(spark, root).centroids)
      .write.mode("append").partitionBy("cid")
      .parquet(A.current(spark, root).dir)
    val qs = Seq(0L, 3L, 11L).map { qid =>
      qid -> e2.filter(col("vec_id") === qid)
        .collect()(0).getSeq[Double](1).toArray
    }
    val batch = A.topKBatchPq(spark, A.current(spark, root), qs, k = 4,
        nprobe = 2)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getLong(3))
          .map(r => (r.getLong(1), r.getLong(2))).toSeq
      }
    for ((qid, qv) <- qs) {
      val single = A.topKPq(spark, A.current(spark, root), qv, k = 4,
        nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(batch(qid) === single,
        s"batch PQ serving diverged from the single call for $qid")
    }
  }

  test("semantic dedup probe (SemDeDup vs the serving index): an " +
    "indexed near-duplicate flags the incoming vector, a novel one is " +
    "kept, an id re-delivery is not its own duplicate, a retracted " +
    "vector cannot veto, and the index scan prunes to the probed lists") {
    import spark.implicits._
    val A = graft.operators.AnnIndex
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = e.filter(col("vec_id").between(1, 8)).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    val root = java.nio.file.Files.createTempDirectory("ivfsem")
      .toString + "/index"
    A.writeIndex(e, cents, root)
    val v7 = e.filter(col("vec_id") === 7)
      .collect()(0).getSeq[Double](1)
    // batch: an exact copy of indexed vec 7, a novel vector (the
    // negation — cosine −1 to vec 7, near-0 to the rest of the
    // near-orthogonal corpus), and a re-delivery of vec 7 UNDER ITS
    // OWN ID (same record, not a duplicate)
    val batch = Seq((99001L, v7), (99002L, v7.map(x => -x)), (7L, v7))
      .toDF("vec_id", "v")
    def probe(): Map[Long, org.apache.spark.sql.Row] =
      A.semanticDedupProbe(spark, A.current(spark, root), batch, tau = 0.9,
        nprobe = 2)
        .collect().map(r => r.getLong(0) -> r).toMap
    val out = probe()
    assert(out.size === 3)
    assert(out(99001L).getAs[Boolean]("is_dup"))
    assert(out(99001L).getAs[Long]("dup_of") === 7L)
    assert(out(99001L).getAs[Double]("dup_cosine") > 0.999999)
    assert(!out(99002L).getAs[Boolean]("is_dup"))
    assert(out(99002L).isNullAt(out(99002L).fieldIndex("dup_of")))
    assert(!out(7L).getAs[Boolean]("is_dup"),
      "an id self-match must read as the same record, not a duplicate")
    // plan law: the index side is a partition-pruned scan of the
    // probed cid= lists, never a full-index read
    val q = A.semanticDedupProbe(spark, A.current(spark, root), batch,
      tau = 0.9,
      nprobe = 2)
    q.collect()
    val idxScans = scansOf(q.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("ivfsem"))
    assert(idxScans.nonEmpty, "no file scan of the index found")
    idxScans.foreach { s =>
      assert(s.metadata.getOrElse("PartitionFilters", "[]") != "[]",
        "index scan not pruned to the probed lists")
    }
    // takedown law: a retracted vector can never veto an incoming one
    A.retract(spark, root, Seq(7L))
    val after = probe()
    assert(!after(99001L).getAs[Boolean]("is_dup"),
      "a retracted (taken-down) vector still vetoed the incoming copy")
  }
  test("PQ semantic dedup gate: audit-identical to the float probe, " +
    "candidate scan reads codes (never the float column), a " +
    "post-sidecar append vetoes through the residual leg, and " +
    "retraction clears the veto") {
    import spark.implicits._
    val A = graft.operators.AnnIndex
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = e.filter(col("vec_id").between(1, 8)).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    val root = java.nio.file.Files.createTempDirectory("ivfsempq")
      .toString + "/index"
    A.writeIndex(e, cents, root)
    A.buildPqSidecar(spark, root, m = 8, k = 8, iters = 1)
    val v7 = e.filter(col("vec_id") === 7)
      .collect()(0).getSeq[Double](1)
    val batch = Seq((99001L, v7), (99002L, v7.map(x => -x)), (7L, v7))
      .toDF("vec_id", "v")
    def audit(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
        .sortBy(_._1).toSeq
    val pq = audit(A.semanticDedupProbePq(spark, A.current(spark, root), batch,
      tau = 0.9, nprobe = 2))
    val flt = audit(A.semanticDedupProbe(spark, A.current(spark, root), batch,
      tau = 0.9, nprobe = 2))
    assert(pq.map(t => (t._1, t._2, t._3)) ===
      flt.map(t => (t._1, t._2, t._3)),
      s"PQ gate audit diverged from the float probe:\npq=$pq\nflt=$flt")
    assert(pq.find(_._1 == 99001L).get._2 && pq.find(_._1 == 99001L)
      .get._3 === 7L)
    // plan law: the candidate pass scans the _pq code lists and its
    // read schema never includes the float column
    val q = A.semanticDedupProbePq(spark, A.current(spark, root), batch,
      tau = 0.9,
      nprobe = 2)
    q.collect()
    val pqScans = scansOf(q.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("Location", "").contains("_pq"))
    assert(pqScans.nonEmpty, "no code-list scan found")
    pqScans.foreach { sc =>
      val fields = sc.schema.fieldNames.toSet
      assert(fields.contains("codes") && !fields.contains("v"),
        s"candidate scan reads $fields")
    }
    // residual leg: a vector appended AFTER the sidecar build (no
    // codes) must still veto a later copy of itself
    val novel2 = e.filter(col("vec_id") === 5)
      .collect()(0).getSeq[Double](1).map(x => -x)
    A.assignByCosine(Seq((88001L, novel2.toSeq)).toDF("vec_id", "v"),
        A.current(spark, root).centroids)
      .write.mode("append").partitionBy("cid")
      .parquet(A.current(spark, root).dir)
    val resid = audit(A.semanticDedupProbePq(spark, A.current(spark, root),
      Seq((88002L, novel2.toSeq)).toDF("vec_id", "v"),
      tau = 0.9, nprobe = 2))
    assert(resid.head._2 && resid.head._3 === 88001L,
      s"residual append did not veto its copy: $resid")
    // takedown law: retracting the duplicate clears the veto in the
    // PQ path too (code rows are retraction-subtracted)
    A.retract(spark, root, Seq(7L))
    val after = audit(A.semanticDedupProbePq(spark, A.current(spark, root),
      batch,
      tau = 0.9, nprobe = 2))
    assert(!after.find(_._1 == 99001L).get._2,
      "retracted vector still vetoed through the code path")
  }
}

/** A commit protocol that fails a store compaction's staged write right
  * after it commits: the crash between staging and the first move. Any
  * other write commits as usual.
  */
class CrashAfterCompactionStage(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources
      .SQLHadoopMapReduceCommitProtocol(jobId, path,
        dynamicPartitionOverwrite) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
      commits: Seq[org.apache.spark.internal.io.FileCommitProtocol
        .TaskCommitMessage]): Unit = {
    super.commitJob(job, commits)
    if (new org.apache.hadoop.fs.Path(path).getName.contains(".compact-"))
      throw new IllegalStateException(
        s"${CrashAfterCompactionStage.Message} $path")
  }
}

object CrashAfterCompactionStage {
  val Message = "crashed after staging"
}
