package graft.ingest

import org.apache.spark.sql.functions._
import graft.ingest.StoreLayout.Bucketed

/** The r13 maintenance-race fixes, pinned as laws:
  *
  *  1. [[graft.layout.Layout.rewriteInPlaceChecked]] truthfully
  *     reports whether the rewrite installed — the concurrent-appender
  *     abort returns `committed = false` with the directory untouched.
  *  2. A takedown is never silently undone: DedupStore's compaction
  *     clears its tombstone snapshot ONLY on a committed swap, so a
  *     retracted key keeps reporting never-seen across any interleaving
  *     of appends and compactions.
  *  3. A retraction landing DURING a bucketed compaction survives the
  *     swap's DROP (copied into the staging directory) instead of
  *     being destroyed unapplied.
  */
class StoreRetractionRaceSpec extends graft.SparkSuite {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  test("rewriteInPlaceChecked commit flag: clean pass true, " +
    "appender-race abort false (directory untouched), empty dir true") {
    import spark.implicits._
    val L = graft.layout.Layout
    val dir = tmpDir("rwc") + "/t"
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(4).write.parquet(dir)
    // clean pass installs
    val (b1, _, c1) = L.rewriteInPlaceChecked(spark, dir, 1L << 20)(
      _.dropDuplicates("id"))
    assert(b1 === 4 && c1, "clean rewrite must report committed")
    // a transform that side-effects an append into the directory lands
    // a file between the input listing and the post-write re-list —
    // the deterministic form of the appender race. The swap must abort
    // AND say so.
    val (_, _, c2) = L.rewriteInPlaceChecked(spark, dir, 1L << 20) { df =>
      Seq((9999L, "late")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir)
      df.dropDuplicates("id")
    }
    assert(!c2, "aborted swap must report committed=false")
    // nothing lost: the original rows AND the racing append survive
    assert(spark.read.parquet(dir).count() === 101L)
    // zero-data-file directory commits vacuously
    val empty = tmpDir("rwc-empty") + "/e"
    fsOf(empty).mkdirs(new org.apache.hadoop.fs.Path(empty))
    assert(L.rewriteInPlaceChecked(spark, empty, 1L << 20)(identity)
      === ((0, 0, true)))
  }

  test("takedown law under a racing appender (path DedupStore): no " +
    "interleaving of appends and compactions un-retracts a key") {
    import spark.implicits._
    val D = DedupStore
    for (trial <- 1 to 2) {
      val store = tmpDir(s"race-takedown-$trial") + "/hashes"
      val docs = (1 to 20000)
        .map(i => (i.toLong, s"trial$trial takedown doc $i"))
        .toDF("doc_id", "text")
      D.recordHashes(docs, "text", store)
      D.retract(Seq((0L, s"trial$trial takedown doc 1"))
        .toDF("doc_id", "text"), "text", store)
      val probe = Seq((9001L, s"trial$trial takedown doc 1"))
        .toDF("doc_id", "text")
      def retractedIsNew(): Boolean =
        D.newUnique(probe, "text", "doc_id", store).count() === 1L
      assert(retractedIsNew(), "tombstone must mask immediately")
      @volatile var stop = false
      val appender = new Thread(() => {
        var i = 0L
        while (!stop) {
          try D.recordHashes(
            Seq((100000L + i, s"trial$trial racer doc $i"))
              .toDF("doc_id", "text"), "text", store)
          catch { case _: Throwable => () }
          i += 1
        }
      })
      appender.start()
      try {
        Thread.sleep(30L * trial)
        // with the pre-fix code, an appender-aborted swap cleared the
        // snapshot anyway: rows stayed, masking gone, and the probe
        // below reported the retracted key as SEEN again
        D.compactStore(spark, store)
        assert(retractedIsNew(),
          s"trial $trial: compaction un-retracted a committed takedown")
      } finally {
        stop = true
        appender.join(60000)
      }
      // quiesced follow-up compaction applies whatever is still pending
      D.compactStore(spark, store)
      assert(retractedIsNew(),
        s"trial $trial: takedown lost after follow-up compaction")
    }
  }

  test("tombstone broadcast is size-gated: a backlog above the ceiling " +
    "falls back to a shuffle anti-join (no driver OOM path) with " +
    "identical answers; below the ceiling the hint stays") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val D = DedupStore
    val store = tmpDir("tomb-gate") + "/hashes"
    val docs = (1 to 200).map(i => (i.toLong, s"gate doc $i"))
      .toDF("doc_id", "text")
    D.recordHashes(docs, "text", store)
    D.retract(Seq((0L, "gate doc 1"), (0L, "gate doc 2"))
      .toDF("doc_id", "text"), "text", store)
    val probe = Seq((9001L, "gate doc 1"), (9002L, "fresh"))
      .toDF("doc_id", "text")
    def broadcasts(): Int =
      D.newUnique(probe, "text", "doc_id", store)
        .queryExecution.sparkPlan.collect {
          case e: BroadcastHashJoinExec => e
        }.size
    def ids(): Seq[Long] = D.newUnique(probe, "text", "doc_id", store)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // auto-broadcast off: any BroadcastExchange left is OUR hint
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(broadcasts() >= 1,
        "takedown-list-sized backlog lost its broadcast hint")
      assert(ids() === Seq(9001L, 9002L))
      // ceiling below the backlog's file bytes → plain shuffle anti-join
      spark.conf.set("graft.tombstone.broadcast.maxBytes", "1")
      assert(broadcasts() === 0,
        "over-ceiling backlog still rides a broadcast (driver OOM path)")
      assert(ids() === Seq(9001L, 9002L),
        "fallback join changed the probe's answers")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      spark.conf.unset("graft.tombstone.broadcast.maxBytes")
    }
  }

  test("bucketed compact preserves a retraction landing mid-swap: the " +
    "late tombstone survives the DROP unapplied and the next " +
    "compaction applies it") {
    import spark.implicits._
    val D = DedupStore
    val table = "late_tomb_t"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    try {
      val docs = (1 to 50).map(i => (i.toLong, s"latetomb doc $i"))
        .toDF("doc_id", "text")
      D.ensureStore(spark, Bucketed(table, 4))
      D.recordHashes(docs, "text", Bucketed(table))
      val probe = Seq((9001L, "latetomb doc 5")).toDF("doc_id", "text")
      def retractedIsNew(): Boolean =
        D.newUnique(probe, "text", "doc_id", Bucketed(table)).count() === 1L
      assert(!retractedIsNew(), "recorded doc must report seen")
      // the transform runs after compact's entry tombstone snapshot and
      // before the swap's DROP — the deterministic form of a retraction
      // racing the compaction. It does NOT apply the tombstone (the
      // frame passes through untouched), so only the rescue keeps it.
      val (before, after) = Bucketed(table).swap(spark,
        "content_hash") { df =>
          D.retract(Seq((0L, "latetomb doc 5"))
            .toDF("doc_id", "text"), "text", Bucketed(table))
          df
        }
      assert(before === 50L && after === 50L)
      // the late tombstone survived the swap and masks immediately
      val loc = Bucketed(table).dataDir(spark)
      assert(StoreLayout.storeDataFiles(fsOf(loc.toString),
        new org.apache.hadoop.fs.Path(loc, "_tombstones")).nonEmpty,
        "late tombstone destroyed by the compaction swap")
      assert(retractedIsNew(), "late tombstone not masking after swap")
      // the NEXT (quiesced) compaction applies and clears it
      val (b2, a2) = D.compactStore(spark, Bucketed(table))
      assert(b2 === 50L && a2 === 49L,
        s"follow-up compaction kept $a2 of $b2 — late tombstone not applied")
      assert(retractedIsNew(), "takedown lost after follow-up compaction")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    }
  }
}
