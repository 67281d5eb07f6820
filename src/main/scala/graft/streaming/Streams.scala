package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.Tables
import graft.ingest.{Ingest, Snapshots, StoreLayout, Warehouse}

/** Structured Streaming port of the reference's poll loop (reference:
  * etl/app.py:253-278, operator O1 in SURVEY.md §2.1) plus the event-time
  * windowed aggregation committed in SURVEY.md §2.3.
  *
  * Design (SURVEY.md §7.1): every transformation is the same pure
  * `DataFrame => DataFrame` code the batch path runs — streaming is only
  * the source (`readStream` file source) and the sink (`foreachBatch` →
  * `Warehouse.ingestStreamBatch`). `Trigger.AvailableNow` makes one poll
  * cycle = one bounded run over all unseen files (the faithful port of a
  * single `main()` loop iteration); `Trigger.ProcessingTime` would run
  * the loop forever at the reference's POLLING_INTERVAL.
  *
  * Scale posture: the file-source checkpoint (maxFilesPerTrigger
  * partitionable) replaces the reference's per-file metadata SELECTs;
  * state in the windowed aggregation is bounded by the watermark, so a
  * 1000-executor streaming job ages out old windows instead of growing
  * state forever.
  */
object Streams {

  /** Router glob per entity (O11, etl/app.py:238-243), CASE-INSENSITIVE
    * via per-letter bracket classes — the batch router lowercases the
    * basename, and a case-sensitive glob would silently never read
    * `Clients_mai.csv` (no stream, no status row, no signal). `~$…`
    * lock artifacts still match (a leading `[!~]` class would wrongly
    * consume the first letter of an unprefixed name), so O2 is enforced
    * by the row-level filename filter below.
    */
  /** `.csv` suffix is part of the glob: the streaming leg is a CSV file
    * source, and a bare `*token*` would also sweep up `.xlsx` deliveries
    * (first-class on the BATCH path via graft.ingest.Xlsx since r6) and
    * shred their zip bytes through the CSV parser. xlsx belongs on
    * `Warehouse.pollOnce`; Spark's file source cannot parse it.
    */
  private def ciGlob(token: String): String =
    "*" + token.map(c => s"[${c.toLower}${c.toUpper}]").mkString +
      "*.[cC][sS][vV]"
  private val entityGlob: Map[String, String] = Map(
    "clients" -> ciGlob("client"), "produits" -> ciGlob("produit"),
    "ventes" -> ciGlob("vente"))

  /** Raw (pre-coercion) schema: CSV files arrive untyped, like pandas'
    * permissive read (SURVEY.md §1.2) — declared strings, cast later by
    * `Ingest.coerceToContract`.
    */
  private def rawSchema(entity: String): StructType =
    StructType(Tables.requiredColumns(entity)
      .map(StructField(_, StringType)))

  /** O1 — unbounded directory source for one entity: file stream with
    * the router as a pathGlobFilter and the `~$` lock-file filter (O2)
    * applied on the per-row filename. Files matching a HIGHER-priority
    * entity token are excluded so a name like `clients_ventes.csv`
    * routes to exactly one stream — mirroring the batch router's
    * first-match if/else (Ingest.entityFor; reference
    * etl/app.py:238-243).
    *
    * Documented divergence from the batch path: a streaming CSV source
    * must use a DECLARED schema, which Spark maps to CSV columns
    * POSITIONALLY (enforceSchema) — the producer contract is
    * "contract-ordered columns". The batch path reads names from the
    * header and tolerates reordered/extra columns; header-reordered
    * files belong on that path.
    */
  def entityStream(spark: SparkSession, watchDir: String,
      entity: String): DataFrame = {
    // Batch-router parity: tokens earlier in the entityFor chain win.
    val higherPriority: Map[String, Seq[String]] = Map(
      "clients" -> Nil, "produits" -> Seq("client"),
      "ventes" -> Seq("client", "produit"))
    val base = element_at(split(input_file_name(), "/"), -1)
    val excluded = higherPriority(entity)
      .map(tok => lower(base).contains(tok))
      .foldLeft(lit(false))(_ || _)
    spark.readStream
      .format("csv")
      .option("header", "true")
      .option("enforceSchema", "true") // positional mapping, see scaladoc
      .option("pathGlobFilter", entityGlob(entity))
      .schema(rawSchema(entity))
      .load(watchDir)
      // Captured HERE because the hidden _metadata column resolves only
      // on the source relation — inside foreachBatch the micro-batch
      // DataFrame no longer exposes it. Warehouse.ingestStreamBatch uses
      // these for per-file status rows (O13) with real mtimes; the
      // coercion step drops them from the appended data.
      .withColumn("__source_file", input_file_name())
      .withColumn("__file_mtime", col("_metadata.file_modification_time"))
      .filter(!Ingest.isLockFile(input_file_name())) // O2
      .filter(!excluded) // O11 first-match routing
  }


  /** Wire one entity stream into the warehouse: every micro-batch runs
    * the shared validate→coerce→enrich→dedupe→FK-check→append pipeline.
    * One call = one poll cycle (AvailableNow drains all unseen files and
    * stops); the checkpoint is the incremental-processing state (O3).
    */
  def ingestQuery(wh: Warehouse, stream: DataFrame, entity: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .queryName(s"ingest_$entity")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        wh.ingestStreamBatch(entity, batch); ()
      }
      .start()

  /** One full poll cycle over a watch directory, dimensions before facts
    * (the FK ordering hazard, SURVEY.md §2.1): start + drain the three
    * entity streams sequentially.
    */
  def pollAvailableNow(spark: SparkSession, wh: Warehouse,
      watchDir: String, checkpointRoot: String): Unit =
    Seq("clients", "produits", "ventes").foreach { entity =>
      ingestQuery(wh, entityStream(spark, watchDir, entity), entity,
        s"$checkpointRoot/$entity").awaitTermination()
    }

  /** Streaming exact dedup — the streaming form of the O9/q27 dedup
    * family: state-store-backed `dropDuplicatesWithinWatermark` keeps
    * one state row per key only until the event-time watermark passes
    * it, so (unlike plain streaming dropDuplicates) state is bounded at
    * 100 TB/day ingest rates. Re-deliveries inside the watermark window
    * are dropped; later ones are the at-least-once tail the batch
    * anti-join (O9) catches downstream.
    */
  def streamingDedup(df: DataFrame, keys: Seq[String], eventTimeCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    df.withWatermark(eventTimeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming CONTENT dedup — keys on the winnowing fingerprint of the
    * whitespace/case-normalized text (the native `min_gram_md5` kernel:
    * signature kernels are stateless per-row expressions, so they run
    * unchanged inside a streaming plan), bounded by the watermark like
    * [[streamingDedup]]. Formatting variants of the same content
    * collapse to one row at ingest — the streaming edge of the q27/q36
    * dedup family. Documents shorter than one gram fall back to an
    * md5 of the normalized text (a NULL fingerprint key would collapse
    * ALL short docs into one, since dropDuplicates treats nulls as
    * equal). NULL text is normalized to the empty string FIRST —
    * deliberately: a null-text document has empty content, so all
    * null/empty-text rows are exact content duplicates of each other
    * and collapse to one keeper, same as any other identical-content
    * group (without the coalesce, lower(null) would propagate to a
    * null key and the collapse would happen silently via the
    * null-keys-are-equal quirk instead of by contract).
    */
  def streamingContentDedup(df: DataFrame, textCol: String,
      eventTimeCol: String,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    // The synthetic key is dropped from the output; a real column of
    // the same name would be silently destroyed — refuse instead (same
    // contract as Layout.saltedJoin's reserved column).
    // Case-insensitive: Spark's default resolver would let withColumn
    // REPLACE a differently-cased real column right past an exact-case
    // check.
    require(!df.columns.exists(_.equalsIgnoreCase("__content_fp")),
      "streamingContentDedup reserves the column name __content_fp")
    graft.functions.Functions.register(df.sparkSession)
    val norm =
      s"trim(regexp_replace(lower(coalesce($textCol, '')), '\\\\s+', ' '))"
    streamingDedup(
      df.withColumn("__content_fp", expr(
        s"coalesce(min_gram_md5($norm, 8), concat('short:', md5($norm)))")),
      Seq("__content_fp"), eventTimeCol, watermarkDelay)
      .drop("__content_fp")
  }

  /** Stream-stream interval join — the streaming form of the q23 as-of
    * attribution: each purchase joins signups of the same user within
    * the preceding `lookback`. Both sides carry watermarks and the join
    * condition bounds event time on BOTH ends, so Spark can age out
    * buffered state (unbounded stream-stream joins otherwise buffer
    * forever). Expects `left` with (user_id, ts, …) and `right` with
    * (user_id, ts, …); right columns come back `r_`-prefixed.
    */
  def intervalJoinStreams(left: DataFrame, right: DataFrame,
      lookback: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay)
    val r0 = right.columns.foldLeft(right) { (df, c) =>
      df.withColumnRenamed(c, s"r_$c")
    }
    val r = r0.withWatermark("r_ts", watermarkDelay)
    l.join(r, expr(
      s"user_id = r_user_id AND " +
        s"r_ts BETWEEN ts - INTERVAL $lookback AND ts"))
      .drop("r_user_id")
  }

  /** Stream-static dimension enrichment — the streaming form of the
    * fact⋈dim star join the reference's FK indexes exist for
    * (init-db/init.sql:58-59): every micro-batch of the fact stream
    * joins the static dimension snapshot. The dimension side is
    * stateless (re-planned per batch, so a refreshed dim path is picked
    * up on restart) and explicitly broadcast — per-batch join work is
    * map-side only, no shuffle of the stream and NO streaming state at
    * all (unlike a stream-stream join there is nothing to buffer).
    * Inner by default; left_outer keeps unmatched facts (the streaming
    * analog of the O10 orphan check routing them onward with null dim
    * columns instead of failing the batch).
    */
  def enrichStream(facts: DataFrame, dim: DataFrame, key: String,
      joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left_outer").contains(joinType),
      s"enrichStream: unsupported join type $joinType")
    facts.join(broadcast(dim), Seq(key), joinType)
  }

  /** Event-time tumbling-window aggregation with a watermark (SURVEY.md
    * §2.3 streaming commitment). Pure: in a streaming query the watermark
    * bounds state and admits late data up to `watermarkDelay`; in a batch
    * query `withWatermark` is a documented no-op and the result is
    * oracle-checkable (q38). total_value sums as DECIMAL then casts to
    * double so the result is order-independent (cross-engine exact).
    */
  /** Input/output rows for stateful sessionization. */
  final case class SessionEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp)
  final case class SessionAgg(startMs: Long, endMs: Long, n: Long)
  final case class UserSession(user_id: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long)

  /** Gap-based sessionization with CUSTOM state —
    * `flatMapGroupsWithState` over per-user `GroupState` (the stateful
    * operator the windowed-agg API can't express: sessions have dynamic,
    * data-dependent extents). A session closes when the next event is
    * > `gapSec` after the last, or when the event-time watermark passes
    * the open session's end + gap (EventTimeTimeout) — so state is
    * bounded: one small SessionAgg per ACTIVE user, aged out by the
    * watermark, never a growing buffer of events. Batch q22 computes the
    * same sessions via lag/sum windows; this is the streaming form.
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapSec: Long,
      watermarkDelay: String = "10 minutes"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapSec * 1000L

    def close(userId: Long, s: SessionAgg): UserSession =
      UserSession(userId, new java.sql.Timestamp(s.startMs),
        new java.sql.Timestamp(s.endMs), s.n)

    def fn(userId: Long, it: Iterator[SessionEvent],
        state: GroupState[SessionAgg]): Iterator[UserSession] = {
      if (state.hasTimedOut) {
        val out = Iterator(close(userId, state.get))
        state.remove()
        out
      } else {
        // Micro-batch delivery order is arbitrary: establish event time.
        val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        val out = scala.collection.mutable.ArrayBuffer.empty[UserSession]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur = cur match {
            case Some(s) if t - s.endMs <= gapMs =>
              Some(SessionAgg(s.startMs, math.max(s.endMs, t), s.n + 1))
            case Some(s) =>
              out += close(userId, s)
              Some(SessionAgg(t, t, 1))
            case None => Some(SessionAgg(t, t, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.endMs + gapMs)
        }
        out.iterator
      }
    }

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Input/output rows for the stateful streamed funnel. */
  final case class FunnelEvent(user_id: Long, event_type: String,
      ts: java.sql.Timestamp)
  final case class FunnelAgg(anchors: Seq[Long], buf: Seq[(String, Long)],
      lastMs: Long)
  final case class FunnelProgress(user_id: Long, reached: Long,
      anchors: Seq[java.sql.Timestamp])

  /** Streamed conversion FUNNEL — q134's windowed min-chain as custom
    * per-user `flatMapGroupsWithState` state, emitted when the user
    * goes quiet (`quietSec` of event time, aged by the watermark).
    * The chain is NOT cell-wise mergeable — an earlier step-1 event
    * arriving late can shift the window and invalidate an already-
    * chosen step-2 anchor — so per-batch snapshot merging (the sketch
    * loop) would be WRONG here; instead events BUFFER in state until
    * the watermark passes them (no earlier event can then arrive), at
    * which point they fold irreversibly into the anchor chain in
    * ascending event-time order (greedy first-qualifying ≡ the batch
    * min-chain) and leave the buffer. State per user is therefore
    * bounded by the watermark delay — anchors (≤ steps) + only the
    * not-yet-final events — never the user's history. Same contract
    * as [[sessionizeStream]]: events later than the watermark delay
    * are dropped by the watermark operator; a user who returns after
    * their timeout starts a fresh chain (append-mode, no retraction).
    * With every event inside the delay, the emitted anchors are
    * EXACTLY the batch q134 chain — the StreamingSpec parity law.
    */
  def funnelStream(events: Dataset[FunnelEvent], steps: Seq[String],
      windowSec: Long = 86400L, quietSec: Long = 3600L,
      watermarkDelay: String = "10 minutes"): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    val winUs = windowSec * 1000000L
    val stepArr = steps.toIndexedSeq
    val stepSet = steps.toSet

    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    // Greedy first-qualifying extension over ascending event time ≡ the
    // batch min-chain (each anchor is the MIN qualifying timestamp
    // because no earlier event can still qualify once time has passed).
    def fold(anchors: List[Long], evs: Seq[(String, Long)]): List[Long] = {
      var a = anchors
      evs.sortBy(e => (e._2, e._1)).foreach { case (tp, t) =>
        val k = a.length
        if (k < stepArr.length && tp == stepArr(k) &&
            (k == 0 || (t > a.last && t <= a.last + winUs)))
          a = a :+ t
      }
      a
    }
    def emit(userId: Long, s: FunnelAgg): FunnelProgress = {
      val a = fold(s.anchors.toList, s.buf)
      FunnelProgress(userId, a.length.toLong, a.map(toTs))
    }

    def fn(userId: Long, it: Iterator[FunnelEvent],
        state: GroupState[FunnelAgg]): Iterator[FunnelProgress] = {
      if (state.hasTimedOut) {
        val out = Iterator(emit(userId, state.get))
        state.remove()
        out
      } else {
        val fresh = it.filter(e => stepSet.contains(e.event_type))
          .map(e => (e.event_type, micros(e.ts))).toSeq
        if (fresh.isEmpty && state.getOption.isEmpty)
          return Iterator.empty // no funnel-step events: keep no state
        val prev = state.getOption.getOrElse(FunnelAgg(Nil, Nil, 0L))
        val wmUs = state.getCurrentWatermarkMs() * 1000L
        val (fin, pending) = (prev.buf ++ fresh).partition(_._2 < wmUs)
        val anchors = fold(prev.anchors.toList, fin)
        val lastMs = math.max(prev.lastMs,
          if (fresh.isEmpty) 0L else fresh.map(_._2).max / 1000L)
        state.update(FunnelAgg(anchors, pending, lastMs))
        // never behind the watermark (Spark rejects a stale timeout)
        state.setTimeoutTimestamp(math.max(lastMs + quietSec * 1000L,
          state.getCurrentWatermarkMs() + 1L))
        Iterator.empty
      }
    }

    // non-step events can never anchor: drop them between the watermark
    // and the shuffle — every event still advances the clock (a stream
    // of only non-step traffic keeps aging state out), but only step
    // rows pay the exchange
    events.withWatermark("ts", watermarkDelay)
      .filter(e => stepSet.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Incrementally-maintained FUNNEL progress — [[funnelStream]]'s
    * emitted chains folded into a per-user snapshot on the versioned
    * loop, so the funnel family gains the maintained form retention
    * (q135) already has. The composition is sound because emissions
    * are FINAL at emission (the watermark argument: a chain leaves
    * state only once no earlier event can still arrive), so the
    * snapshot merge needs no retraction — per user, MAX(reached)
    * across emissions, which is idempotent (replay no-op) and
    * monotone. A user who returns after their quiet timeout starts a
    * fresh chain ([[funnelStream]]'s documented append contract); the
    * snapshot then carries their DEEPEST chain, which matches the
    * batch q134/q139 single-chain answer exactly when each user's
    * events fall in one quiet period (the StreamingSpec parity law) —
    * the one-shot-vs-maintained contract of every maintainer here.
    * State is one row per funnel-active user — never events.
    */
  def maintainFunnelProgress(events: Dataset[FunnelEvent],
      steps: Seq[String], path: String, checkpointDir: String,
      windowSec: Long = 86400L, quietSec: Long = 3600L,
      watermarkDelay: String = "10 minutes"): StreamingQuery =
    maintainMergedSnapshot(
      funnelStream(events, steps, windowSec, quietSec, watermarkDelay)
        .toDF().select(col("user_id"), col("reached")),
      path, checkpointDir, "funnel_progress")(
      batch => batch.groupBy("user_id")
        .agg(max("reached").as("reached")),
      (prev, cur) => prev.unionByName(cur)
        .groupBy("user_id").agg(max("reached").as("reached")))

  /** q139's funnel-by-segment derived from the latest
    * [[maintainFunnelProgress]] snapshot — the dimensional breakdown
    * at READ time against a broadcast dimension (the
    * [[retentionFromSnapshot]] pattern: cohorting/segmenting is never
    * frozen into the maintained state, so a corrected dimension row
    * re-segments every user on the next read). `dim` carries
    * (`user_id`, `segmentCol`); counts and conversion percentages are
    * q139's expressions verbatim. Segments none of whose users ever
    * produced a funnel-step event have no emissions in the snapshot —
    * the left join back to the dimension's distinct segment values
    * coalesces them to all-zero rows, so the snapshot's row set
    * matches what a consumer diffing against a batch-style report
    * over the full dimension expects (both frames enumerate every
    * segment).
    */
  def funnelSegmentsFromSnapshot(spark: SparkSession, path: String,
      dim: DataFrame, segmentCol: String): DataFrame = {
    val snap = readMergedSnapshot(spark, path, "funnel progress")
    val counts = snap.join(broadcast(dim), "user_id")
      .groupBy(segmentCol)
      .agg(
        sum(when(col("reached") >= 1L, 1L).otherwise(0L)).as("n_step1"),
        sum(when(col("reached") >= 2L, 1L).otherwise(0L)).as("n_step2"),
        sum(when(col("reached") >= 3L, 1L).otherwise(0L)).as("n_step3"))
    // null-safe enumeration join (the family convention): a NULL
    // segment is one identity — a plain using-column join would never
    // match NULL to NULL and silently zero out that group's real counts
    val segs = dim.select(col(segmentCol)).distinct()
    segs
      .join(counts.withColumnRenamed(segmentCol, "__seg"),
        segs(segmentCol) <=> col("__seg"), "left_outer")
      .select(segs(segmentCol),
        coalesce(col("n_step1"), lit(0L)).as("n_step1"),
        coalesce(col("n_step2"), lit(0L)).as("n_step2"),
        coalesce(col("n_step3"), lit(0L)).as("n_step3"))
      // an enumerated segment with no step-1 population has no defined
      // conversion rate: NULL, never a DIV 0 (ANSI) or NaN
      .withColumn("conv2_pct",
        when(col("n_step1") > 0L,
          (col("n_step2") * 100)
            .cast(org.apache.spark.sql.types.DoubleType) /
            col("n_step1").cast(org.apache.spark.sql.types.DoubleType)))
      .withColumn("conv3_pct",
        when(col("n_step1") > 0L,
          (col("n_step3") * 100)
            .cast(org.apache.spark.sql.types.DoubleType) /
            col("n_step1").cast(org.apache.spark.sql.types.DoubleType)))
      .orderBy(segmentCol)
  }

  /** Incrementally-maintained RFM inputs — q144's per-customer facts
    * on the versioned-snapshot loop: all three sufficient statistics
    * are cell-wise mergeable (last order = MAX of event-time micros,
    * frequency = SUM of counts, monetary = SUM of per-batch exact
    * DECIMAL-cent sums — longs add exactly under any batch split), so
    * the facts ride the retention pattern. Quintile CUTS are never
    * frozen into state: [[rfmFromSnapshot]] re-derives them from the
    * maintained facts at read time — a new whale re-scores everyone's
    * m_score on the next read, exactly as batch q144 would.
    */
  def maintainRfmInputs(orders: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(orders, path, checkpointDir, "rfm_inputs")(
      batch => batch.groupBy(col("o_custkey").as("user_id"))
        .agg(max(unix_micros(col("o_orderdate"))).as("last_us"),
          count(lit(1)).as("freq"),
          (sum(col("o_totalprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
            .cast(org.apache.spark.sql.types.LongType).as("cents")),
      (prev, cur) => prev.unionByName(cur)
        .groupBy("user_id")
        .agg(max("last_us").as("last_us"), sum("freq").as("freq"),
          sum("cents").as("cents")))

  /** q144's RFM segmentation derived from the latest
    * [[maintainRfmInputs]] snapshot — bit-identical to the batch query
    * over every order fed so far (StreamingSpec law): the recency
    * anchor is the snapshot's own max order time (≡ the corpus max),
    * and the scoring is q144's OWN definition
    * ([[graft.queries.CoreAnalytics.scoreRfm]] — one set of quintile
    * rules for batch and stream).
    */
  def rfmFromSnapshot(spark: SparkSession, path: String): DataFrame = {
    val snap = readMergedSnapshot(spark, path, "rfm inputs")
    val mx = snap.agg(max("last_us").as("mx_us"))
    val rfm = snap.crossJoin(broadcast(mx))
      .select(col("user_id").as("c_custkey"),
        datediff(to_date(timestamp_micros(col("mx_us"))),
          to_date(timestamp_micros(col("last_us"))))
          .cast(org.apache.spark.sql.types.LongType).as("recency_days"),
        col("freq").as("frequency"),
        col("cents").as("monetary_cents"))
      .transform(graft.operators.Exec.materialize)
    graft.queries.CoreAnalytics.scoreRfm(rfm)
  }

  /** Incrementally-maintained RETENTION inputs — q135's cohort matrix
    * kept fresh at ingest. The contrast with [[funnelStream]] is the
    * point: the funnel min-chain is not mergeable, but retention's
    * sufficient statistics ARE — per-user first signup (a MIN: stored
    * negated so the whole table merges under one MAX) and per-(user,
    * purchase-week) latest purchase timestamp (a MAX that witnesses
    * "∃ purchase in this week at/after any signup time resolved
    * LATER") — so it rides the versioned-snapshot loop with cell-wise
    * max-merge and the derived matrix is EXACT under ANY batch split
    * or arrival order, no watermark caveat: a late-arriving earlier
    * signup re-cohorts the user at read time because cohorting is
    * derived from the maintained minimum, never frozen per batch.
    * Table rows: (user_id, kind 'su'|'pw', wk = µs of the purchase
    * week start | 0, v = −signup-µs | max purchase µs). State is one
    * row per user plus one per active (user, week) — ≪ events.
    */
  def maintainRetentionInputs(events: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(events, path, checkpointDir,
      "retention_inputs")(
      batch => {
        val su = batch.filter(col("event_type") === "signup")
          .select(col("user_id"), lit("su").as("kind"),
            lit(0L).as("wk"), (-unix_micros(col("ts"))).as("v"))
        val pw = batch.filter(col("event_type") === "purchase")
          .select(col("user_id"), lit("pw").as("kind"),
            unix_micros(date_trunc("week", col("ts"))).as("wk"),
            unix_micros(col("ts")).as("v"))
        su.unionByName(pw)
          .groupBy("user_id", "kind", "wk").agg(max("v").as("v"))
      },
      (prev, cur) => prev.unionByName(cur)
        .groupBy("user_id", "kind", "wk").agg(max("v").as("v")))

  /** q135's retention matrix derived from the latest
    * [[maintainRetentionInputs]] snapshot — bit-identical to running
    * the batch query over every event fed so far (StreamingSpec law).
    * Week offsets divide exactly: UTC week starts are 7·86400 s apart.
    */
  def retentionFromSnapshot(spark: SparkSession, path: String): DataFrame = {
    val snap = readMergedSnapshot(spark, path, "retention inputs")
    val su = snap.filter(col("kind") === "su")
      .select(col("user_id"), (-col("v")).as("fs_us"))
      .withColumn("cohort_us", unix_micros(
        date_trunc("week", timestamp_micros(col("fs_us")))))
    val cells = snap.filter(col("kind") === "pw")
      .select(col("user_id"), col("wk"), col("v"))
      .join(su, "user_id")
      .filter(col("v") >= col("fs_us"))
      .groupBy(col("cohort_us"),
        ((col("wk") - col("cohort_us")) / lit(604800000000L))
          .cast(org.apache.spark.sql.types.LongType).as("week_offset"))
      .agg(count(lit(1)).as("active_users"))
    val sz = su.groupBy("cohort_us")
      .agg(count(lit(1)).as("cohort_users"))
    cells.join(broadcast(sz), "cohort_us")
      .withColumn("retention_pct",
        (col("active_users") * 100)
          .cast(org.apache.spark.sql.types.DoubleType) /
          col("cohort_users")
            .cast(org.apache.spark.sql.types.DoubleType))
      .select(timestamp_micros(col("cohort_us")).as("cohort_week"),
        col("week_offset"), col("active_users"), col("cohort_users"),
        col("retention_pct"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Incrementally-maintained hourly event counts — q138's input kept
    * fresh at ingest, completing the analytics-maintenance triptych:
    * the funnel chain is non-mergeable (buffered watermark fold), the
    * retention inputs merge under MIN/MAX, and these counts merge under
    * plain ADDITION — the file source's exactly-once batch tracking
    * means each event lands in exactly one batch, so per-batch hour
    * counts sum. Table rows: (event_type, hour_us, n_events); KB-scale
    * at any corpus size (types × hours).
    */
  def maintainHourlyCounts(events: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(events, path, checkpointDir,
      "hourly_counts")(
      batch => batch
        .groupBy(col("event_type"),
          unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
        .agg(count(lit(1)).as("n_events")),
      (prev, cur) => prev.unionByName(cur)
        .groupBy("event_type", "hour_us")
        .agg(sum("n_events").as("n_events")))

  /** q138's anomaly report derived from the latest
    * [[maintainHourlyCounts]] snapshot — bit-identical to the batch
    * query over every event fed so far (StreamingSpec law). ONE shared
    * rule: the trailing-median spike test lives here and q138 delegates
    * to it, so the streamed and batch forms cannot drift.
    */
  def anomaliesFromSnapshot(spark: SparkSession, path: String): DataFrame =
    hourlyAnomalies(readMergedSnapshot(spark, path, "hourly counts")
      .select(col("event_type"),
        timestamp_micros(col("hour_us")).as("hour_ts"),
        col("n_events")))

  /** The q138 spike rule over a (event_type, hour_ts, n_events) frame:
    * exact median of the previous 24 observed hours, ≥ 2× flags,
    * cold-start withheld. The window runs on the KB-scale aggregate.
    */
  def hourlyAnomalies(hourly: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_ts")
      .rowsBetween(-24, -1)
    hourly
      .withColumn("med_prev", expr("percentile(n_events, 0.5D)").over(w))
      .withColumn("n_prev", count(lit(1)).over(w))
      .filter(col("n_prev") === 24L &&
        col("n_events").cast(org.apache.spark.sql.types.DoubleType)
          >= lit(2.0) * col("med_prev"))
      .withColumn("spike_ratio",
        col("n_events").cast(org.apache.spark.sql.types.DoubleType) /
          col("med_prev"))
      .select("event_type", "hour_ts", "n_events", "med_prev",
        "spike_ratio")
      .orderBy("event_type", "hour_ts")
  }

  /** The SEASONAL spike rule over the same hourly-counts shape —
    * q145's flank of [[hourlyAnomalies]]: the trailing-24h median
    * flags a Monday 9am surge on a site whose Mondays always surge,
    * so each hour is judged against the exact median of its own
    * HOUR-OF-WEEK slot's previous 2 observations instead (the weekly
    * seasonality every traffic series carries; a 2-deep lookback
    * because the driver corpus spans ~4 weeks — the frame constant is
    * the only thing to widen on a longer series). The slot is epoch
    * arithmetic — (µs DIV 3600000000) % 168 — NOT a calendar dow/hod
    * pair, so both engines agree without touching locale/week
    * conventions. Cold-start slots (< 2 prior weeks) are withheld.
    * Still runs on the KB-scale (type × hour) aggregate; partitions =
    * type × 168 slots — corpus-size-independent. Serves identically
    * from the [[maintainHourlyCounts]] snapshot
    * ([[seasonalAnomaliesFromSnapshot]]).
    */
  def seasonalAnomalies(hourly: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("slot")).orderBy("hour_ts")
      .rowsBetween(-2, -1)
    hourly
      .withColumn("slot",
        expr("(unix_micros(hour_ts) div 3600000000) % 168"))
      .withColumn("med_seasonal",
        expr("percentile(n_events, 0.5D)").over(w))
      .withColumn("n_prev", count(lit(1)).over(w))
      .filter(col("n_prev") === 2L &&
        col("n_events").cast(org.apache.spark.sql.types.DoubleType)
          >= lit(2.0) * col("med_seasonal"))
      .withColumn("spike_ratio",
        col("n_events").cast(org.apache.spark.sql.types.DoubleType) /
          col("med_seasonal"))
      .select("event_type", "hour_ts", "n_events", "slot",
        "med_seasonal", "spike_ratio")
      .orderBy("event_type", "hour_ts")
  }

  /** q145 served from the latest [[maintainHourlyCounts]] snapshot —
    * same shared rule, so the stream cannot drift from the batch
    * query (the anomaliesFromSnapshot pattern).
    */
  def seasonalAnomaliesFromSnapshot(spark: SparkSession,
      path: String): DataFrame =
    seasonalAnomalies(
      readMergedSnapshot(spark, path, "hourly counts")
        .select(col("event_type"),
          timestamp_micros(col("hour_us")).as("hour_ts"),
          col("n_events")))

  /** Incrementally-maintained NEAR-DUP SIGNATURES — q60's clustering
    * input kept fresh at ingest: each micro-batch runs the minhash
    * kernel ONCE over its documents (the expensive text pass) and the
    * (doc_id, sig, band-key) rows merge under DISTINCT UNION
    * (idempotent — re-delivered documents and full replays are free).
    * CLUSTER LABELS are deliberately NOT maintained incrementally:
    * like PageRank ([[maintainEdges]]), connected components is a
    * global fixed point — a single new document can merge two old
    * clusters, so any frozen per-batch label is retroactively wrong;
    * the serving pattern is the retrain one — fold signatures cheaply
    * forever, derive labels on a schedule from the snapshot
    * ([[nearDupClustersFromSnapshot]]: band equi-join + signature
    * verify + the checkpointed CC loop, all over the maintained
    * 16-long signatures — the corpus text is never re-read).
    */
  def maintainNearDupSignatures(docs: DataFrame, textCol: String,
      idCol: String, path: String,
      checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(docs, path, checkpointDir, "neardup_sigs")(
      batch => {
        graft.functions.Functions.register(batch.sparkSession)
        graft.queries.LlmPipeline.minhashedOf(
          batch.select(col(idCol).as("doc_id"), col(textCol).as("text")))
          .select("doc_id", "sig", "bk")
      },
      (prev, cur) => prev.unionByName(cur).distinct())

  /** q60's near-dup cluster report derived from the latest
    * [[maintainNearDupSignatures]] snapshot — bit-identical to the
    * batch query over every document fed so far (StreamingSpec law;
    * q28's band join, verify rule, and CC epilogue are the SAME
    * definitions — `minhashPairsFromSignatures` / `nearDupClustersOf`
    * — so the maintained form can never drift from the query it
    * serves).
    */
  def nearDupClustersFromSnapshot(spark: SparkSession,
      path: String): DataFrame =
    graft.queries.LlmPipeline.nearDupClustersOf(
      graft.queries.LlmPipeline.minhashPairsFromSignatures(
        readMergedSnapshot(spark, path, "near-dup signatures")))

  /** Incrementally-maintained LINK-GRAPH edge table — the input of
    * [[graft.operators.LinkRank]] kept fresh at ingest: per-batch
    * (src, dst) pairs merge under DISTINCT UNION (idempotent, so
    * at-least-once replay and re-crawled duplicate edges are free).
    * Ranks are NOT maintained incrementally — PageRank is a global
    * fixed point, so the serving pattern is the retrain one (the
    * AnnIndex doctrine): fold edges cheaply forever, re-run
    * [[linkRankFromSnapshot]] on a schedule. Edge rows ≪ events at any
    * scale that has a crawl graph worth ranking.
    */
  def maintainEdges(edges: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(edges, path, checkpointDir, "link_edges")(
      batch => batch.select(col("src"), col("dst")).distinct(),
      (prev, cur) => prev.unionByName(cur).distinct())

  /** [[graft.operators.LinkRank]] over the latest [[maintainEdges]]
    * snapshot (nodes = every edge endpoint) — bit-identical to a
    * one-shot train over all edges ever fed, however they were
    * micro-batched (StreamingSpec law; the trainer is deterministic
    * and the edge set is order-free).
    */
  def linkRankFromSnapshot(spark: SparkSession, path: String,
      iters: Int, dampingPct: Int = 85): DataFrame =
    linkRankFromSnapshotConverged(spark, path, maxIters = iters,
      tolFp = 0L, dampingPct = dampingPct)._1

  /** [[linkRankFromSnapshot]] with the CONVERGENCE stop — the form a
    * scheduled production retrain actually runs (a fixed iteration
    * budget either wastes rounds after the fixed point or stops short
    * on a deep graph; `LinkRank.trainConverged` stops when the
    * largest per-node movement drops below `tolFp`, capped at
    * `maxIters`). Returns (ranks, rounds run, converged) so the
    * retrain log can record how hard the graph was — and, when the
    * cap was hit, whether the chain had actually settled there or the
    * iteration budget needs raising (the flag is evaluated on the
    * final round too).
    */
  def linkRankFromSnapshotConverged(spark: SparkSession, path: String,
      maxIters: Int, tolFp: Long,
      dampingPct: Int = 85): (DataFrame, Int, Boolean) = {
    val e = readMergedSnapshot(spark, path, "link edges")
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    graft.operators.LinkRank.trainConverged(nodes, e, maxIters, tolFp,
      dampingPct)
  }

  /** Incrementally-maintained (term, document-frequency) stats table —
    * the side input of the lexical-search ranking (LlmPipeline q61),
    * kept fresh AT INGEST instead of recomputed from the corpus per
    * query. Each micro-batch counts each term's distinct documents
    * WITHIN the batch and merges additively; the file source's
    * exactly-once tracking means an appended document belongs to
    * exactly one batch, so per-batch df values add. Tokenization is
    * LlmPipeline.toksE — the SAME expression q61 ranks with, shared so
    * the stats can never drift from their consumer.
    *
    * Durability contract (foreachBatch is at-least-once, and a plain
    * overwrite would have a delete-then-rewrite crash window):
    * each merge commits to a fresh `batch=<id>` subdirectory — the
    * previous version is untouched until the new one has its _SUCCESS
    * marker, and only then are older versions pruned. A REPLAYED batch
    * id (restart before the streaming commit log recorded it) finds
    * its own committed directory, or recomputes the merge from the
    * still-present previous version — never a double count, never a
    * reset. Readers take [[readTermStats]] = latest committed version.
    * One maintaining query per statsPath (same single-writer contract
    * as the warehouse control table).
    *
    * Scale: the merge shuffles only the vocabulary (≪ corpus), written
    * with normal parallelism — no single-task coalesce.
    */
  def maintainTermStats(docs: DataFrame, statsPath: String,
      checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(docs, statsPath, checkpointDir, "term_stats")(
      batch => {
        graft.functions.Functions.register(batch.sparkSession)
        batch
        .select(col("doc_id"),
          explode(expr(graft.queries.LlmPipeline.toksE)).as("term"))
        .distinct() // df counts documents, not occurrences
        .groupBy("term").agg(count(lit(1)).as("df"))
      },
      (prev, cur) => prev.unionByName(cur)
        .groupBy("term").agg(sum(col("df")).as("df")))

  /** Incrementally-maintained [[graft.operators.CountMin]] sketch —
    * the streaming face of the q114 heavy-hitter path: each
    * micro-batch folds into the committed cell grid by CELL-WISE
    * ADDITION (the sketch's defining mergeability), so the live
    * frequency answer is one broadcast-sized read away at any corpus
    * size and the corpus is never re-scanned. Same versioned
    * `batch=<id>` commit protocol and replay idempotence as the
    * (term, df) store; read the current sketch with [[readTermStats]]
    * (the snapshot-resolution rule is shared).
    */
  def maintainCountMin(keys: DataFrame, keyCol: String,
      sketchPath: String, checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(keys, sketchPath, checkpointDir, "count_min")(
      batch => graft.operators.CountMin.build(batch, keyCol),
      (prev, cur) => graft.operators.CountMin.merge(prev, cur))

  /** Incrementally-maintained [[graft.operators.QuantileSketch]]
    * histogram — the streaming face of the q115 percentile path:
    * micro-batches fold into the committed per-group histogram by
    * cell-wise addition, so live p50/p90/p99 (or any ntile cut) read
    * off a KB-scale snapshot at any corpus size — the streaming
    * replacement for every global percentile window. Same commit
    * protocol as the other maintained snapshots; read with
    * [[readTermStats]] and answer with `QuantileSketch.quantiles`.
    */
  def maintainQuantileHistogram(values: DataFrame, valueCol: String,
      groupCols: Seq[String], histPath: String,
      checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(values, histPath, checkpointDir,
      "quantile_histogram")(
      batch => graft.operators.QuantileSketch
        .build(batch, valueCol, groupCols),
      (prev, cur) => graft.operators.QuantileSketch
        .merge(prev, cur, groupCols))

  /** Incrementally-maintained term OCCURRENCE counts — the flank of
    * [[maintainTermStats]] (which keeps DOCUMENT frequency) that the
    * drift monitor consumes: (term, n) merged across micro-batches by
    * cell-wise addition on the shared versioned-snapshot loop. Two
    * such snapshots — two crawl dates, two sources, two pipelines —
    * feed [[termDriftBetween]].
    */
  def maintainTermCounts(docs: DataFrame, statsPath: String,
      checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(docs, statsPath, checkpointDir,
      "term_counts")(
      batch => {
        graft.functions.Functions.register(batch.sparkSession)
        batch
          .select(explode(expr(graft.queries.LlmPipeline.toksE))
            .as("term"))
          .groupBy("term").agg(count(lit(1)).as("n"))
      },
      (prev, cur) => prev.unionByName(cur)
        .groupBy("term").agg(sum(col("n")).as("n")))

  /** Unigram-LM vocabulary trained from the latest
    * [[maintainTermCounts]] snapshot — the maintainer→serving loop
    * closed for the SECOND tokenizer family ([[graft.operators.Ulm]];
    * the same posture as the quality model's snapshot form): a
    * scheduled tokenizer retrain reads the KB-scale (term, n)
    * snapshot, never the corpus, and lands BIT-IDENTICAL to batch-
    * training over everything the maintainer has seen, because every
    * Ulm step (seed, ilog2 scores, Viterbi-EM) is a pure function of
    * the word-frequency table and the snapshot IS that table —
    * [[maintainTermCounts]]'s tokenization is `LlmPipeline.toksE`,
    * the same `\w+` lowercase rule [[graft.operators.Bpe.wordFreq]]
    * applies (StreamingSpec pins the equality).
    */
  def ulmVocabFromSnapshot(spark: SparkSession, statsPath: String,
      maxLen: Int = 4, maxVocab: Int = 256,
      emRounds: Int = 2): Seq[(String, Long)] =
    graft.operators.Ulm.trainFromWordFreq(
      readTermStats(spark, statsPath)
        .select(col("term").as("word"), col("n").as("freq")),
      maxLen, maxVocab, emRounds)

  /** Term-frequency drift between two MAINTAINED snapshots — the form
    * q117's docstring promises ("two snapshot dates in production"):
    * the per-term two-sample χ² in 1e-6 fixed point, q117's arithmetic
    * VERBATIM (pinned IEEE chain, exact floor, ≥ 20-occurrence rare-
    * term guard, empty-cohort filter), over the latest committed
    * versions of two [[maintainTermCounts]] paths. When the two
    * snapshots were maintained over q117's even/odd doc cohorts, the
    * report is BIT-IDENTICAL to the registry query — StreamingSpec
    * pins the law. Totals broadcast; top-20 lowers to
    * TakeOrderedAndProject; the snapshots are vocabulary-sized, so
    * the whole report reads KBs-to-MBs at any corpus size.
    */
  def termDriftBetween(spark: SparkSession, pathA: String,
      pathB: String): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    // no q61 barrier here: the double reference re-reads two
    // VOCABULARY-SIZED snapshot files, not a corpus plan — cheaper
    // than barrier bookkeeping
    val counts = readTermStats(spark, pathA)
      .select(col("term"), col("n").as("n_a"))
      .join(readTermStats(spark, pathB)
        .select(col("term"), col("n").as("n_b")), Seq("term"),
        "full_outer")
      .select(col("term"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tot = counts.agg(sum(col("n_a")).as("tot_a"),
      sum(col("n_b")).as("tot_b"))
    val nT = (col("n_a") + col("n_b")).cast(DoubleType)
    val bigN = (col("tot_a") + col("tot_b")).cast(DoubleType)
    val ea = nT * col("tot_a").cast(DoubleType) / bigN
    val eb = nT * col("tot_b").cast(DoubleType) / bigN
    val da = col("n_a").cast(DoubleType) - ea
    val db = col("n_b").cast(DoubleType) - eb
    counts.crossJoin(broadcast(tot))
      .filter(col("tot_a") > 0L && col("tot_b") > 0L)
      .filter(col("n_a") + col("n_b") >= 20L)
      .select(col("term"), col("n_a"), col("n_b"),
        floor((da * da / ea + db * db / eb) * lit(1000000d))
          .as("chi2_fp"))
      .orderBy(desc("chi2_fp"), col("term"))
      .limit(20)
  }

  /** Incrementally-maintained bigram-LM count table — the streaming
    * face of q113's TRAINING half, closing the last registry family
    * without a streaming form: a count-based LM is its (w1, w2, c2)
    * bigram-occurrence table, which merges across micro-batches by
    * cell-wise ADDITION exactly like the count-min/quantile sketches,
    * so the quality model trains continuously and the corpus is never
    * re-scanned. History counts c1 and the vocabulary both DERIVE from
    * the snapshot (c1 = the w1 marginal; vocab = |w1 ∪ w2| — the q113
    * derivations verbatim), so the snapshot alone is the whole model.
    * Same versioned `batch=<id>` commit protocol and replay idempotence
    * as the sibling snapshots; score against it with [[scoreLm]].
    */
  def maintainBigramLm(docs: DataFrame, statsPath: String,
      checkpointDir: String): StreamingQuery =
    maintainMergedSnapshot(docs, statsPath, checkpointDir, "bigram_lm")(
      batch => bigramCounts(batch),
      (prev, cur) => prev.unionByName(cur)
        .groupBy("w1", "w2").agg(sum(col("c2")).as("c2")))

  /** (w1, w2, c2) bigram-occurrence counts of a document frame — the
    * q113 derivation (shared `\w+` lowercase tokenization, adjacent
    * pairs via one zip_with, map-side-combined count).
    */
  private def bigramCounts(docs: DataFrame): DataFrame = {
    // r21: per-doc counts via the native tok_bigram_counts kernel
    // (the q113 form) — the exchange now carries per-doc bigram TYPES
    // (pre-counted in-row) instead of every occurrence; Σ of per-doc
    // counts ≡ the occurrence count, bit-for-bit.
    graft.functions.Functions.register(docs.sparkSession)
    docs
      .select(expr(graft.queries.LlmPipeline.toksE).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr("tok_bigram_counts(toks)")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"),
        col("bg.n_occ").as("n_occ"))
      .groupBy("w1", "w2").agg(sum(col("n_occ")).as("c2"))
  }

  /** Score documents against the latest committed bigram-LM snapshot —
    * q113's exact arithmetic (integer ilog2 scores, 1e-6 fixed-point
    * floor-mean) with the MODEL read from [[maintainBigramLm]]'s
    * snapshot instead of trained in-query: when the snapshot was
    * maintained over the same corpus, the output is BIT-IDENTICAL to
    * q113's (doc_id, n_bigrams, ll_sum, ll_mean_fp) — StreamingSpec
    * pins the law, the streaming analog of the q113 oracle. Bigrams
    * absent from the snapshot (possible when scoring unseen documents)
    * drop from the mean — the standard open-vocabulary trade; score
    * the training corpus itself for the exact form.
    */
  def scoreLm(docs: DataFrame, statsPath: String): DataFrame =
    scoreLmAgainst(docs, readTermStats(docs.sparkSession, statsPath))

  /** [[scoreLm]] against an explicit (w1, w2, c2) frame. */
  def scoreLmAgainst(docs: DataFrame, c2: DataFrame): DataFrame = {
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val voc = c2.select(col("w1").as("w"))
      .union(c2.select(col("w2")))
      .agg(countDistinct(col("w")).as("vocab"))
    def ilog2(c: org.apache.spark.sql.Column) = length(bin(c)) - lit(1)
    val sc = c2.join(c1, "w1").crossJoin(broadcast(voc))
      .select(col("w1"), col("w2"),
        (ilog2(col("c2") + lit(1L)) -
          ilog2(col("c1") + col("vocab"))).cast("long").as("score"))
    // r21: map-only per-doc bigram counting via tok_bigram_counts —
    // same rows as the explode + (doc_id, w1, w2) hash aggregate
    // (the q113 change, mirrored so the streamed-≡-batch law holds
    // by construction)
    graft.functions.Functions.register(docs.sparkSession)
    val bgc = docs
      .select(col("doc_id"), expr(graft.queries.LlmPipeline.toksE)
        .as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(expr("tok_bigram_counts(toks)")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"),
        col("bg.w2").as("w2"), col("bg.n_occ").as("n_occ"))
    bgc.join(sc, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(col("n_occ") * col("score")).as("ll_sum"),
        sum(col("n_occ")).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("ll_sum"),
        floor((col("ll_sum") * lit(1000000L)).cast("double") /
          col("n_bigrams").cast("double")).as("ll_mean_fp"))
  }

  /** Incrementally-maintained model-based QUALITY CLASSIFIER — the
    * streaming face of q110's training half, closing the last trained
    * artifact without a maintainer: the model's sufficient statistics
    * are per-feature integer class counts plus the class doc totals
    * ([[graft.operators.QualityModel.countsOf]] — ≤ dims+1 rows, KBs),
    * which merge across micro-batches by CELL-WISE ADDITION exactly
    * like the count-min/quantile/bigram snapshots, so the classifier
    * retrains continuously and the corpus is never re-scanned. Labels
    * are the stateless per-row Gopher rule (q54/q110's weak
    * supervisor, one shared definition), so a batch's labels equal the
    * one-shot corpus labels by construction. Weights DERIVE from the
    * snapshot ([[qualityWeights]]) — bit-identical to batch training
    * on the union corpus (StreamingSpec pins the law). Same versioned
    * `batch=<id>` commit protocol and replay idempotence as the
    * sibling snapshots.
    */
  def maintainQualityModel(docs: DataFrame, statsPath: String,
      checkpointDir: String,
      dims: Int = graft.queries.LlmPipeline.QualityDims): StreamingQuery =
    maintainMergedSnapshot(docs, statsPath, checkpointDir,
      "quality_model")(
      batch => graft.operators.QualityModel.countsOf(
        graft.queries.LlmPipeline.qualityLabeledOf(batch), "toks", "y",
        dims),
      (prev, cur) => graft.operators.QualityModel.mergeCounts(prev, cur))

  /** The fitted weights of the latest committed
    * [[maintainQualityModel]] snapshot — (fid, n_pos, n_neg,
    * weight_fp), BIT-IDENTICAL to `QualityModel.train` over every
    * document the stream has committed (the stats are the model; the
    * weight map is closed-form). No barrier: the double reference
    * inside `weightsOf` re-reads a KB-scale snapshot file, not a
    * corpus plan (the termDriftBetween rationale).
    */
  def qualityWeights(spark: SparkSession, statsPath: String): DataFrame =
    graft.operators.QualityModel.weightsOf(
      readTermStats(spark, statsPath))

  /** Score documents with the streamed quality model — q111's exact
    * arithmetic (floor-mean of distinct-feature weights, learned
    * class-centroid-midpoint threshold) with the WEIGHTS read from the
    * [[maintainQualityModel]] snapshot instead of trained in-query;
    * the threshold calibrates on the scoring frame's own heuristic
    * labels (q111's own posture — it thresholds the frame it scores).
    * Scoring the corpus the stream was fed is BIT-IDENTICAL to q111 —
    * StreamingSpec pins the law. For the literal-model serving /
    * gating form, collect the snapshot weights
    * (`QualityModel.collectWeights(qualityWeights(…), dims)`) into
    * [[qualityGate]], or use [[qualityGateFromSnapshot]].
    */
  def scoreQuality(docs: DataFrame, statsPath: String,
      dims: Int = graft.queries.LlmPipeline.QualityDims): DataFrame = {
    import graft.operators.QualityModel
    val labeled = graft.queries.LlmPipeline.qualityLabeledOf(docs)
    val w = qualityWeights(docs.sparkSession, statsPath)
    QualityModel.scoreWithThreshold(labeled, "toks", w,
      QualityModel.threshold(labeled, "toks", "y", w, dims), dims)
  }

  /** Streamed training-mix export — the WRITE half of
    * [[graft.operators.CorpusExport]] for a continuously-fed corpus:
    * every micro-batch runs through the SAME deterministic per-million
    * keep-thresholds and disjoint-hash shard assignment
    * ([[graft.operators.CorpusExport.selectAndShard]], shared
    * verbatim), lands exactly-once in `outDir/data/batch=<id>/shard=N/`
    * ([[graft.ingest.Snapshots.writeBatch]], as in [[curationFeed]] —
    * committed batches skip on replay), and
    * the per-group manifest accumulates in
    * `outDir/_export_manifest/batch=<id>` via the versioned-snapshot
    * commit of [[maintainTermStats]]
    * ([[graft.ingest.Snapshots.commit]]; merged from the COMMITTED data
    * read-back, previous version retained for concurrent readers).
    * Because selection is per-row content-addressed, the streamed
    * export over ANY micro-batching of a corpus selects exactly the
    * one-shot
    * [[graft.operators.CorpusExport.materialize]] document set into
    * the same shards — including the nested-sample property: raising a
    * threshold later keeps every already-exported row eligible. Read
    * the manifest with [[readExportManifest]].
    */
  def exportMixStream(docs: DataFrame, groupCol: String, idCol: String,
      thresholds: Seq[(String, Long)], outDir: String,
      checkpointDir: String, numShards: Int = 16): StreamingQuery =
    exportStreamWith(docs, groupCol, thresholds, outDir, checkpointDir,
      "corpus_export")(
      batch => graft.operators.CorpusExport
        .selectAndShard(batch, groupCol, idCol, thresholds, numShards))

  /** [[exportMixStream]] with
    * [[graft.operators.CorpusExport.selectAndShardWeighted]]'s
    * per-document quality/authority/dedup-weight scaling — the same
    * batching-invariance argument holds verbatim (selection is
    * per-row deterministic in (id, group, weight, thresholds), so any
    * micro-batching lands the batch operator's exact document set;
    * StreamingSpec pins it), and the manifest protocol is shared.
    */
  def exportMixStreamWeighted(docs: DataFrame, groupCol: String,
      idCol: String, weightPpmCol: String,
      thresholds: Seq[(String, Long)], outDir: String,
      checkpointDir: String, numShards: Int = 16): StreamingQuery =
    // own query name: a session can run a plain and a weighted export
    // concurrently without a duplicate-active-query-name failure
    exportStreamWith(docs, groupCol, thresholds, outDir, checkpointDir,
      "corpus_export_weighted")(
      batch => graft.operators.CorpusExport.selectAndShardWeighted(
        batch, groupCol, idCol, weightPpmCol, thresholds, numShards))

  private def exportStreamWith(docs: DataFrame, groupCol: String,
      thresholds: Seq[(String, Long)], outDir: String,
      checkpointDir: String, queryName: String)(
      select: DataFrame => DataFrame): StreamingQuery =
    docs.writeStream
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val data = new org.apache.hadoop.fs.Path(s"$outDir/data")
        Snapshots.writeBatch(spark, data, batchId) { dir =>
          select(batch)
            .repartition(col("shard"))
            .write.partitionBy("shard").parquet(dir.toString)
        }
        val dataDir = Snapshots.batchDir(data, batchId)
        // manifest: accumulated from the COMMITTED read-back (what
        // landed, not what the plan promised)
        Snapshots.commit(spark, new org.apache.hadoop.fs.Path(
            s"$outDir/_export_manifest"), batchId) { prev =>
          val th = thresholds.toDF("group", "threshold_ppm")
          // explicit schema: a zero-survivor batch commits a
          // data-file-less directory schema inference cannot read
          val landed = spark.read
            .schema(batch.schema.add("shard",
              org.apache.spark.sql.types.LongType))
            .parquet(dataDir.toString)
            .groupBy(col(groupCol).cast("string").as("group"))
            .agg(count(lit(1)).as("n_selected"))
            .join(broadcast(th), Seq("group"), "right_outer")
            .select(col("group"), col("threshold_ppm"),
              coalesce(col("n_selected"), lit(0L)).as("n_selected"))
          prev.fold(landed)(p => landed.unionByName(p)
              .groupBy("group", "threshold_ppm")
              .agg(sum(col("n_selected")).as("n_selected")))
            .coalesce(1)
        }
        ()
      }
      .start()

  /** Latest committed (group, threshold_ppm, n_selected) manifest of a
    * streamed export — cumulative over every committed batch.
    */
  def readExportManifest(spark: SparkSession,
      outDir: String): DataFrame =
    readMergedSnapshot(spark, s"$outDir/_export_manifest", "export manifest")

  /** The shared versioned-snapshot maintenance loop behind
    * [[maintainTermStats]], [[maintainCountMin]], and
    * [[maintainQuantileHistogram]]: per batch,
    * aggregate the micro-batch (`perBatch`), merge it with the latest
    * snapshot committed BEFORE this batch (`mergeWith`), and commit
    * it through [[graft.ingest.Snapshots.commit]] — the step the
    * streamed export's manifest shares. Replayed already-committed
    * batches skip the snapshot write — exactly-once snapshots on an
    * at-least-once stream — but the batch is still
    * CONSUMED (an empty foreachPartition pass): a maintainer whose
    * streaming plan carries a stateful operator (the funnel fold)
    * must commit its state stores on EVERY micro-batch, and Spark
    * validates exactly that; for stateless sources the extra pass
    * costs one scan of an already-bounded micro-batch.
    */
  private def maintainMergedSnapshot(src: DataFrame, path: String,
      checkpointDir: String, name: String)(
      perBatch: DataFrame => DataFrame,
      mergeWith: (DataFrame, DataFrame) => DataFrame): StreamingQuery =
    src.writeStream
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val root = new org.apache.hadoop.fs.Path(path)
        val wrote = Snapshots.commit(spark, root, batchId) { prev =>
          val batchDf = perBatch(batch)
          prev.fold(batchDf)(mergeWith(_, batchDf))
        }
        // a replayed committed batch skips the write but DRAINS the
        // batch: a stateful upstream commits its state stores only when
        // every partition's iterator is exhausted, even on a replay
        if (!wrote)
          batch.foreachPartition((it: Iterator[Row]) => it.foreach(_ => ()))
        ()
      }
      .start()

  /** Latest committed (term, df) snapshot maintained by
    * [[maintainTermStats]]; empty schema-less read errors are the
    * caller's signal that no batch has committed yet.
    */
  def readTermStats(spark: SparkSession, statsPath: String): DataFrame =
    readMergedSnapshot(spark, statsPath, "term stats")

  /** Latest committed `batch=<id>` snapshot under `path` (the
    * [[maintainMergedSnapshot]] layout); errors when nothing committed.
    */
  private def readMergedSnapshot(spark: SparkSession, path: String,
      what: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val latest = Snapshots.latest(
      root.getFileSystem(spark.sessionState.newHadoopConf()), root)
      .getOrElse(throw new IllegalArgumentException(
        s"no committed $what under $path"))
    spark.read.parquet(latest.toString)
  }

  /** One step of a [[curationFeed]] micro-batch. `check` narrows the
    * batch: a gate drops rejects, a store probe drops what its history
    * already holds, a fingerprint stage joins hash columns onto the
    * row. `record` writes the committed survivors into the stage's
    * store, `maintain` runs the store's inline upkeep, and
    * `addedColumns` are the columns `check` appends to the row (the
    * committed read-back declares them: a zero-survivor batch commits
    * a data-file-less directory that schema inference cannot read).
    * `label` names the stage in the observed yield frames — q150's
    * [[graft.operators.CurationOutcome]] vocabulary where the stage has
    * a q150 counterpart.
    */
  final case class Stage(label: String, check: DataFrame => DataFrame,
      record: DataFrame => Unit = _ => (),
      maintain: SparkSession => Unit = _ => (),
      addedColumns: Seq[StructField] = Nil)

  /** The streamed CURATION FEED: every micro-batch runs `stages` in
    * order — each stage's check sees only what the earlier stages kept,
    * so cheap and history-independent gates go first and a gate's
    * rejects never price, or poison, a later store — persists the
    * survivors into their own `batch=<id>` subdirectory of `outDir`
    * (readable as one table; Spark exposes `batch` as a partition
    * column), then records every stage's store from the committed
    * read-back.
    *
    * Delivery semantics, per crash window (foreachBatch replays are
    * at-least-once):
    *  - survivors in `outDir` are EXACTLY-ONCE
    *    ([[graft.ingest.Snapshots.writeBatch]]): a replayed batch id
    *    that already has its `_SUCCESS` marker is not rewritten (a
    *    replay AFTER the stores recorded would recompute an EMPTY
    *    survivor set and overwrite data with nothing), and a
    *    half-written directory (no marker) is cleared and recomputed
    *    from the unchanged stores. A replayed committed
    *    batch skips every check, so gates and yields run once per
    *    batch id;
    *  - store records are AT-LEAST-ONCE: recorded from the committed
    *    survivor directory (the persisted read-back the store contract
    *    asks for), re-recorded on replay — never lost, duplicates
    *    reclaimed by compaction.
    * Within-batch exact copies collapse at the exact stage (one keeper
    * per hash); within-batch NEAR copies are the q28/q60 pipeline's
    * job. `outDir` + `checkpointDir` are ONE unit (batch ids name the
    * subdirectories): reset both or neither — a fresh checkpoint
    * against a populated outDir sees old batch directories as
    * committed, which is what makes a full-history replay a no-op
    * instead of a data loss.
    *
    * `maintenanceEvery` > 0 runs every stage's `maintain` every N
    * batches, after the record step (so the just-recorded batch counts
    * toward the StoreStats signals): the appender IS the stores' single
    * writer, so compacting between its own batches never races an
    * append, and a year-long feed self-maintains without an external
    * scheduler. A store under the planner's broadcast threshold is
    * compacted when due but keeps no Bloom sidecar
    * ([[graft.ingest.KeyStore.maintain]]), so a small store's batch
    * neither rebuilds one nor splits its probe.
    *
    * Each batch runs as ONE composed plan. `yieldDir` turns on per-stage
    * observability instead ([[observedStageRun]]): per-batch
    * (outcome, n_docs) yield frames, plus with `rejectSampleSlots` > 0
    * a content-addressed sample of each stage's rejects, keyed by
    * `idCol` and showing `textCol`; [[readCurationYields]] is the
    * cumulative report.
    */
  def curationFeed(docs: DataFrame, stages: Seq[Stage], outDir: String,
      checkpointDir: String, maintenanceEvery: Int = 0,
      yieldDir: Option[String] = None, rejectSampleSlots: Int = 0,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery = {
    val pendingRelease = scala.collection.mutable.ArrayBuffer[DataFrame]()
    docs.writeStream
      .queryName(stages.map(_.label).mkString("curation_feed:", ",", ""))
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val root = new org.apache.hadoop.fs.Path(outDir)
        Snapshots.writeBatch(spark, root, batchId) { dir =>
          yieldDir match {
            // the observed run returns its final barrier, already
            // materialized; it releases at the next batch
            case Some(yd) => observedStageRun(stages, idCol, textCol, yd,
              rejectSampleSlots, pendingRelease)(batch, batchId)
              .write.parquet(dir.toString)
            case None =>
              // one evaluation feeds the write
              val fresh = graft.operators.Exec.materialize(
                stages.foldLeft(batch)((d, s) => s.check(d)))
              try fresh.write.parquet(dir.toString)
              finally graft.operators.Exec.release(fresh)
          }
        }
        val target = Snapshots.batchDir(root, batchId)
        val committed = spark.read
          .schema(StructType(batch.schema ++ stages.flatMap(_.addedColumns)))
          .parquet(target.toString)
        stages.foreach(_.record(committed))
        // a replayed committed batch reaches here too: maintenance is
        // idempotent (the signals re-check)
        if (maintenanceEvery > 0 && (batchId + 1) % maintenanceEvery == 0)
          stages.foreach(_.maintain(spark))
        ()
      }
      .start()
  }

  /** The FULL production curation stack as ONE streamed feed — every
    * gate and store staged in the order a production pretraining
    * pipeline runs them (CCNet's order; the q150 decision-log order):
    *
    *   blocklist → language → contamination → quality → lm_score →
    *   exact → near → span
    *
    * [[curationFeed]] over [[fullStackStages]] with the three dedup
    * stores at path layouts; see there for the staging rationale and
    * [[curationFeed]] for delivery, maintenance and the `yieldDir`
    * observability leg.
    */
  def fullStackCurationFeed(docs: DataFrame, textCol: String,
      idCol: String, keyCol: String, blocklistStorePath: String,
      lidModels: Seq[(String, Seq[Long])], lidDims: Int,
      keepLangSet: Set[String], contamStorePath: String,
      denseWeights: Seq[Long], thFp: Long, dims: Int,
      ulmVocab: Seq[(String, Long)], minLlMeanFp: Long,
      exactStorePath: String, nearStorePath: String,
      spanStorePath: String, outDir: String, checkpointDir: String,
      maintenanceEvery: Int = 0, minSharedGrams: Int = 1,
      ulmMaxLen: Int = 4,
      extractMainContent: Boolean = false,
      yieldDir: Option[String] = None,
      rejectSampleSlots: Int = 0): StreamingQuery =
    curationFeed(docs,
      fullStackStages(textCol, idCol, keyCol, blocklistStorePath,
        lidModels, lidDims, keepLangSet, contamStorePath, denseWeights,
        thFp, dims, ulmVocab, minLlMeanFp, StoreLayout.Path(exactStorePath),
        StoreLayout.Path(nearStorePath), StoreLayout.Path(spanStorePath),
        minSharedGrams,
        ulmMaxLen, extractMainContent),
      outDir, checkpointDir, maintenanceEvery, yieldDir,
      rejectSampleSlots, idCol, textCol)

  /** The full-stack stage list, labelled with q150's outcome vocabulary.
    * Staging rationale: the blocklist membership probe is the cheapest
    * check (one broadcast-scale anti-join on the domain key) and
    * history-INDEPENDENT, so it runs first; the learned LANGUAGE gate
    * is next (CCNet's stage #2: bucket the crawl by LID before any
    * content work); the contamination gate follows (per-row gram kernel
    * + a Bloom-pruned broadcast semi-join against the KB–GB benchmark
    * store), also history-independent; the literal-model quality gate
    * and the ULM LM-score gate are stateless per-row plan literals
    * pinned at stream start (deriving a cut per batch would make
    * admission depend on batch boundaries); then the three dedup
    * stores in increasing per-document cost. The blocklist and
    * contamination stores stay on their PATH stores at any scale — both
    * are broadcast-scale by design — so only the three ever-growing
    * dedup stores take a [[StoreLayout]]. `extractMainContent` runs
    * [[graft.operators.MainContent.extract]] right after the (text-free)
    * domain gate — the web-pipeline position: every later gate and
    * store judges the MAIN content, so two pages differing only in
    * nav/footer dedup as exact copies. Extraction drops no rows, so it
    * folds into the blocklist stage for yield accounting.
    */
  def fullStackStages(textCol: String, idCol: String, keyCol: String,
      blocklistStorePath: String, lidModels: Seq[(String, Seq[Long])],
      lidDims: Int, keepLangSet: Set[String], contamStorePath: String,
      denseWeights: Seq[Long], thFp: Long, dims: Int,
      ulmVocab: Seq[(String, Long)], minLlMeanFp: Long,
      exact: StoreLayout, near: StoreLayout, span: StoreLayout,
      minSharedGrams: Int = 1, ulmMaxLen: Int = 4,
      extractMainContent: Boolean = false): Seq[Stage] = {
    val blocked = blocklistGate(keyCol, blocklistStorePath)
    Seq(
      if (extractMainContent)
        blocked.copy(check = blocked.check andThen mainContent(textCol).check)
      else blocked,
      languageGate(textCol, lidModels, lidDims, keepLangSet),
      contaminationGate(textCol, idCol, contamStorePath, minSharedGrams),
      qualityGate(textCol, denseWeights, thFp, dims),
      ulmGate(textCol, idCol, ulmVocab, minLlMeanFp, ulmMaxLen),
      exactDedup(exact, textCol, idCol),
      nearDedup(near, textCol, idCol),
      spanDedup(span, textCol, idCol))
  }

  /** A store as a stage: `check` probes it, `record` marks the
    * committed survivors seen, and `maintain` is the store's own
    * [[graft.ingest.KeyStore.maintain]]. The store is ensured now (a
    * bucketed table at its requested size).
    */
  private def storeStage[L <: StoreLayout](label: String,
      store: graft.ingest.KeyStore[L], layout: L)(
      check: DataFrame => DataFrame, record: DataFrame => Unit = _ => (),
      addedColumns: Seq[StructField] = Nil): Stage = {
    store.ensureStore(SparkSession.active, layout)
    Stage(label, check, record, store.maintain(_, layout), addedColumns)
  }

  /** Cross-run EXACT dedup ([[graft.ingest.DedupStore]]) keyed on
    * `keyCol`'s normalized content hash: formatting variants of
    * anything ever recorded drop, within-batch copies collapse to the
    * min-id keeper. Survivors carry the store's `content_hash`, typed
    * by the store's persisted hash form, which the record step reuses.
    * The store is hash-agnostic: a media feed keys it on a fingerprint
    * column (`__phash`, `__vhash`).
    */
  def exactDedup(layout: StoreLayout, keyCol: String,
      idCol: String): Stage = {
    val D = graft.ingest.DedupStore
    storeStage(graft.operators.CurationOutcome.ExactDup, D, layout)(
      D.newUnique(_, keyCol, idCol, layout), D.recordHashes(_, keyCol, layout),
      D.schemaOf(SparkSession.active, layout).fields.toSeq)
  }

  /** Cross-run NEAR dedup ([[graft.ingest.NearDupStore]]): documents
    * that near-duplicate ANY recorded document (band-key equi-join +
    * ≥8/16 signature verification) drop. Adds no column.
    */
  def nearDedup(layout: StoreLayout, textCol: String,
      idCol: String): Stage = {
    val N = graft.ingest.NearDupStore
    storeStage(graft.operators.CurationOutcome.NearDup, N, layout)(
      N.newNearUnique(_, textCol, idCol, layout),
      N.recordSignatures(_, textCol, idCol, layout))
  }

  /** Cross-run SPAN dedup ([[graft.ingest.SpanStore]]): documents whose
    * recycled-window share against ALL recorded text reaches
    * `maxDupShare` drop — the passage mashup the exact and near stages
    * both miss. Adds no column.
    */
  def spanDedup(layout: StoreLayout, textCol: String, idCol: String,
      maxDupShare: Double = 0.5): Stage = {
    val S = graft.ingest.SpanStore
    storeStage(graft.operators.CurationOutcome.SpanDup, S, layout)(
      S.newSpanUnique(_, textCol, idCol, layout, maxDupShare),
      S.recordWindows(_, textCol, idCol, layout))
  }

  /** Cross-run CDC-CHUNK dedup ([[graft.ingest.CdcChunkStore]]): the
    * insertion-robust form of [[spanDedup]] — an edited re-submission
    * still matches history chunk-for-chunk past the edit, at ~1 store
    * row per 16 tokens instead of ~1 per character. Adds no column.
    */
  def chunkDedup(layout: StoreLayout, textCol: String, idCol: String,
      maxDupShare: Double = 0.5): Stage = {
    val C = graft.ingest.CdcChunkStore
    storeStage("chunk_dup", C, layout)(
      C.newChunkUnique(_, textCol, idCol, layout, maxDupShare),
      C.recordChunks(_, textCol, idCol, layout))
  }

  /** Cross-run PERCEPTUAL NEAR dedup ([[graft.ingest.MediaNearStore]])
    * over the `band0..band3` columns a fingerprint stage put on the row:
    * media within Hamming ≤ 3 of ANY recorded hash drop (band candidate
    * join + exact bitwise verify), and the record step reads the
    * committed row's own bands (no re-decode).
    */
  def mediaNearDedup(layout: StoreLayout, idCol: String): Stage = {
    val M = graft.ingest.MediaNearStore
    def bands(df: DataFrame): DataFrame =
      df.select(col(idCol).as("media_id") +: bandCols.map(col): _*)
    storeStage(graft.operators.CurationOutcome.NearDup, M, layout)(
      b => M.newNearUnique(b, idCol, bands(b), layout),
      c => M.recordHashes(bands(c), layout))
  }

  /** The URL/DOMAIN BLOCKLIST gate — stage #1 of every production
    * web-curation pipeline: rows whose `keyCol` (the extracted domain)
    * is on the blocklist store drop, via the multiplicity-preserving
    * membership probe [[graft.ingest.DedupStore.newUnseen]] (a
    * blocklist is a content-hash store whose keys are domains:
    * case-insensitive matching, bloom pruning, retraction =
    * un-listing). History-INDEPENDENT and read-only here (listing is
    * offline; a mid-stream listing takes effect next batch); `maintain`
    * compacts it on the feed's schedule.
    */
  def blocklistGate(keyCol: String, storePath: String): Stage = {
    val (d, store) = (graft.ingest.DedupStore, StoreLayout.Path(storePath))
    storeStage(graft.operators.CurationOutcome.Blocklisted, d, store)(
      d.newUnseen(_, keyCol, store))
  }

  /** The BENCHMARK-CONTAMINATION gate: documents sharing ≥
    * `minSharedGrams` distinct 3-word shingles with the registered
    * benchmark set ([[graft.ingest.ContaminationStore]], q53's gram
    * rule) drop. Its verdict is history-INDEPENDENT — a contaminated
    * document drops on every run, even one that has admitted nothing —
    * and the store is read-only here (registration is offline; a
    * retraction reopens the gate); `maintain` compacts the retraction
    * backlog on the feed's schedule.
    */
  def contaminationGate(textCol: String, idCol: String,
      storePath: String, minSharedGrams: Int = 1): Stage = {
    val (c, store) =
      (graft.ingest.ContaminationStore, StoreLayout.Path(storePath))
    storeStage(graft.operators.CurationOutcome.Contaminated, c, store)(
      c.newClean(_, textCol, idCol, store, minSharedGrams))
  }

  /** The learned LANGUAGE-ID gate (CCNet's stage #2): documents whose
    * [[graft.operators.LangId.predictLiteral]] language falls outside
    * `keepLangs` drop, as do documents with no features. Models train
    * offline and pin as plan literals (rotation = restart).
    */
  def languageGate(textCol: String, models: Seq[(String, Seq[Long])],
      dims: Int, keepLangs: Set[String]): Stage =
    Stage(graft.operators.CurationOutcome.Language,
      graft.operators.LangId.keepLangs(_, textCol, models, dims, keepLangs))

  /** The literal-model QUALITY gate ([[graft.operators.QualityModel]]
    * `keepGood`: weights and threshold as plan literals, a stateless
    * per-row projection). Trained offline, pinned for the stream's
    * life.
    */
  def qualityGate(textCol: String, denseWeights: Seq[Long], thFp: Long,
      dims: Int): Stage =
    Stage(graft.operators.CurationOutcome.Quality,
      graft.operators.QualityModel.keepGood(_, textCol, denseWeights, thFp,
        dims))

  /** [[qualityGate]] with the MODEL resolved from the latest committed
    * [[maintainQualityModel]] snapshot now — the maintainer→serving
    * loop closed: weights derive from the snapshot (bit-identical to
    * batch training on everything the maintainer has seen), the
    * threshold calibrates on `calibration` against those weights (the
    * q111 posture), and both pin as plan literals (rotation = restart).
    */
  def qualityGateFromSnapshot(textCol: String, statsPath: String,
      calibration: DataFrame,
      dims: Int = graft.queries.LlmPipeline.QualityDims): Stage = {
    val QM = graft.operators.QualityModel
    // no barrier: both references re-read a KB-scale snapshot file,
    // not a corpus plan (the termDriftBetween rationale)
    val w = qualityWeights(calibration.sparkSession, statsPath)
    val thFp = QM.threshold(
        graft.queries.LlmPipeline.qualityLabeledOf(calibration), "toks",
        "y", w, dims)
      .collect()(0).getLong(0)
    qualityGate(textCol, QM.collectWeights(w, dims), thFp, dims)
  }

  /** The streamed BIGRAM-LM gate (the CCNet composition): documents
    * whose [[scoreLm]] fixed-point mean falls below `minLlMeanFp` drop;
    * documents with fewer than two tokens are unscorable and drop too.
    * The model is the latest [[maintainBigramLm]] snapshot, pinned now
    * as ONE materialized barrier. The refresh leg:
    * `modelRefreshEvery` > 0 re-resolves the latest committed snapshot
    * every N checked batches ([[refreshPinnedModel]]), so a year-long
    * feed tracks a concurrently-maintained LM without restarts;
    * replayed committed batches skip the check and do not count. The
    * returned thunk releases the current pin after the stream ends.
    */
  def bigramLmGate(textCol: String, idCol: String, statsPath: String,
      minLlMeanFp: Long, modelRefreshEvery: Int = 0): (Stage, () => Unit) = {
    val model = new java.util.concurrent.atomic.AtomicReference[DataFrame](
      graft.operators.Exec.materialize(
        readTermStats(SparkSession.active, statsPath)))
    val checked = new java.util.concurrent.atomic.AtomicLong(0L)
    (Stage(graft.operators.CurationOutcome.LmScore, batch => {
      refreshPinnedModel(model, batch.sparkSession, statsPath,
        checked.getAndIncrement(), modelRefreshEvery)
      val kept = scoreLmAgainst(
          batch.select(col(idCol).as("doc_id"), col(textCol).as("text")),
          model.get())
        .filter(col("ll_mean_fp") >= minLlMeanFp)
        .select(col("doc_id").as("__lm_keep_id"))
      batch.join(kept, batch(idCol) <=> kept("__lm_keep_id"), "left_semi")
    }), () => graft.operators.Exec.release(model.get()))
  }

  /** The ULM perplexity gate: keep rows whose
    * [[graft.operators.Ulm.scoreDocs]] 1e-6 fixed-point mean Viterbi
    * log-likelihood per piece clears `minLlMeanFp`; zero-token rows are
    * unscorable and drop. The vocab rides as plan literals (the Viterbi
    * fold's map literal) — the one join is the id-keyed semi against
    * the row's own score.
    */
  def ulmGate(textCol: String, idCol: String, vocab: Seq[(String, Long)],
      minLlMeanFp: Long, maxLen: Int = 4): Stage =
    Stage(graft.operators.CurationOutcome.LmScore, batch => {
      val kept = graft.operators.Ulm.scoreDocs(
          batch.select(col(idCol).as("doc_id"), col(textCol).as("text")),
          "text", vocab, maxLen)
        .filter(col("ll_mean_fp") >= minLlMeanFp)
        .select(col("doc_id").as("__ulm_keep_id"))
      batch.join(kept, batch(idCol) <=> kept("__ulm_keep_id"), "left_semi")
    })

  /** [[ulmGate]] with the vocab trained now from the latest
    * [[maintainTermCounts]] snapshot ([[ulmVocabFromSnapshot]]: the
    * retrain reads the KB-scale (term, n) snapshot, never the corpus).
    * The refresh leg: `modelRefreshEvery` > 0 re-trains from the latest
    * committed snapshot every N checked batches and swaps the vocab —
    * plain driver-side literals, so no barrier to manage.
    */
  def ulmGateFromSnapshot(textCol: String, idCol: String,
      statsPath: String, minLlMeanFp: Long, modelRefreshEvery: Int = 0,
      maxLen: Int = 4, maxVocab: Int = 256, emRounds: Int = 2): Stage = {
    def train(spark: SparkSession) =
      ulmVocabFromSnapshot(spark, statsPath, maxLen, maxVocab, emRounds)
    val vocab = new java.util.concurrent.atomic.AtomicReference(
      train(SparkSession.active))
    val checked = new java.util.concurrent.atomic.AtomicLong(0L)
    Stage(graft.operators.CurationOutcome.LmScore, batch => {
      val n = checked.getAndIncrement()
      if (modelRefreshEvery > 0 && n > 0 && n % modelRefreshEvery == 0)
        vocab.set(train(batch.sparkSession))
      ulmGate(textCol, idCol, vocab.get(), minLlMeanFp, maxLen).check(batch)
    })
  }

  /** The CROSS-MODAL alignment gate — the CLIP-score filter: each row
    * carries both modality vectors (the caller's pairing join), and
    * rows whose caption↔image cosine falls below `minAlignment` drop,
    * as do pairs with an undefined score (NULL or NaN)
    * ([[graft.multimodal.CrossModal.keepAligned]]).
    */
  def crossModalGate(captionVecCol: String, imageVecCol: String,
      minAlignment: Double): Stage =
    Stage("misaligned", graft.multimodal.CrossModal.keepAligned(_,
      captionVecCol, imageVecCol, minAlignment))

  /** Boilerplate removal ([[graft.operators.MainContent.extract]]):
    * `textCol` becomes the page's main content, so every later stage
    * judges — and every store records — the content, not the nav and
    * footer. Drops no rows.
    */
  def mainContent(textCol: String): Stage =
    Stage("main_content", graft.operators.MainContent.extract(_, textCol))

  private val bandCols = Seq("band0", "band1", "band2", "band3")

  /** The shared media fingerprint step: `hashOf` maps (media_id,
    * content) to (media_id, band0..band3[, quality facts]), ONE pass
    * per payload — at 100 TB the decode is the cost and must not run per
    * stage. The bands ride the row from here on, hex-packed into
    * `__phash` as well (band3 high — the canonical 16-hex-digit
    * spelling) for [[exactDedup]]; `gate` filters on the quality facts
    * and drops them. Payloads that cannot be fingerprinted drop at the
    * join (audit by anti-joining survivors against the feed).
    */
  private def mediaStage(label: String, idCol: String,
      gate: DataFrame => DataFrame = identity)(
      hashOf: DataFrame => DataFrame): Stage =
    Stage(label, batch => {
      val hs = hashOf(batch.select(col(idCol).as("media_id"), col("content")))
        .withColumnRenamed("media_id", "__hid")
        .withColumn("__phash", concat(bandCols.reverse.map(b =>
          lpad(hex(col(b)), 4, "0")): _*))
      gate(batch.join(hs, batch(idCol) <=> hs("__hid")).drop("__hid"))
    }, addedColumns = bandCols.map(StructField(_, IntegerType)) :+
      StructField("__phash", StringType))

  /** Image perceptual fingerprint
    * ([[graft.multimodal.Multimodal.aHash64]] over the production
    * decode): a re-encoded, block-upscaled or sub-bit-brightness copy
    * hashes identical (exact stage) or within a few bits (near stage).
    */
  def imageFingerprint(idCol: String): Stage =
    mediaStage("undecodable", idCol)(b => graft.multimodal.Multimodal
      .aHash64(graft.multimodal.Multimodal.decodeImages(b)))

  /** Audio fingerprint ([[graft.multimodal.Multimodal.audioHash64]], the
    * loudness-invariant energy-profile hash).
    */
  def audioFingerprint(idCol: String): Stage =
    mediaStage("undecodable", idCol)(graft.multimodal.Multimodal.audioHash64)

  /** Video fingerprint ([[graft.multimodal.Multimodal.videoHash64]]: a
    * KB-scale stsz box walk, no bitstream decode) — a re-muxed copy
    * hashes identical, a one-frame re-edit within a bit or three.
    */
  def videoFingerprint(idCol: String): Stage =
    mediaStage("undecodable", idCol)(graft.multimodal.Multimodal.videoHash64)

  /** [[imageFingerprint]] with q129's QUALITY GATE off the same pass
    * ([[graft.multimodal.Multimodal.imageProfile]]: hash bands and
    * quality facts from a single plane walk). Rejects drop before any
    * store probe and are never recorded (a resubmission under relaxed
    * thresholds is judged afresh). Thresholds default to q129's.
    */
  def imageQualityGate(idCol: String, minDim: Int = 8,
      maxAspectFp: Long = 4000000L, minBrightFp: Long = 100000L,
      maxBrightFp: Long = 900000L, minDistinct: Long = 16L): Stage =
    mediaStage(graft.operators.CurationOutcome.Quality, idCol,
      _.filter(
          least(col("width"), col("height")) >= minDim &&
            expr("(greatest(width, height) * 1000000L) div " +
              "least(width, height)") <= maxAspectFp &&
            expr("(px_sum * 1000000L) div (255L * width * height)")
              .between(minBrightFp, maxBrightFp) &&
            col("n_distinct") >= minDistinct)
        .drop("width", "height", "px_sum", "n_distinct"))(
      b => graft.multimodal.Multimodal.imageProfile(
        graft.multimodal.Multimodal.decodeImages(b)))

  /** [[audioFingerprint]] with q130's gate (duration, clip ratio,
    * silence floor) off one [[graft.multimodal.Multimodal.audioProfile]]
    * PCM walk.
    */
  def audioQualityGate(idCol: String, minDurationMs: Long = 100L,
      maxClipFp: Long = 10000L, minMeanEnergy: Long = 10000L): Stage =
    mediaStage(graft.operators.CurationOutcome.Quality, idCol,
      _.filter(
          expr("(n_samples * 1000L) div sample_rate") >= minDurationMs &&
            expr("(n_clipped * 1000000L) div n_samples") <= maxClipFp &&
            expr("energy div n_samples") >= minMeanEnergy)
        .drop("sample_rate", "n_samples", "n_clipped", "energy"))(
      graft.multimodal.Multimodal.audioProfile)

  /** q132's container rule (duration window, min dim, max aspect) over
    * parsed video metadata; drops the metadata columns. The aspect is
    * guarded against zero dims (ANSI division) exactly like the
    * registry query — an audio-only track's tkhd carries width =
    * height = 0, and a reordered conjunct must never divide by it.
    */
  private def videoRule(minDurationMs: Long, maxDurationMs: Long,
      minDim: Int, maxAspectFp: Long)(df: DataFrame): DataFrame =
    df.withColumn("__aspect_fp",
        when(col("width") > 0 && col("height") > 0,
          expr("(greatest(width, height) * 1000000L) div " +
            "least(width, height)")).otherwise(lit(-1L)))
      .filter(col("duration_ms").between(minDurationMs, maxDurationMs) &&
        least(col("width"), col("height")) >= minDim &&
        col("__aspect_fp").between(0L, maxAspectFp))
      .drop("timescale", "duration_ms", "width", "height", "__aspect_fp")

  /** [[videoFingerprint]] with q132's quality gate off ONE
    * [[graft.multimodal.Multimodal.videoProfile]] pass (two KB-scale
    * box walks per payload; unparseable containers drop at the
    * profile join).
    */
  def videoQualityGate(idCol: String, minDurationMs: Long = 1000L,
      maxDurationMs: Long = 14400000L, minDim: Int = 64,
      maxAspectFp: Long = 4000000L): Stage =
    mediaStage(graft.operators.CurationOutcome.Quality, idCol,
      videoRule(minDurationMs, maxDurationMs, minDim, maxAspectFp))(
      graft.multimodal.Multimodal.videoProfile)

  /** The BYTE-EXACT video gate: q132's container rule over
    * [[graft.multimodal.Multimodal.parseVideoMeta]] (unparseable,
    * too-short, absurd-duration, tiny and extreme-aspect containers
    * drop), then the md5 of the payload in `__vhash` for an
    * [[exactDedup]] keyed on it — for deployments that want
    * byte-identical re-uploads, not re-muxes, to collapse.
    */
  def videoContainerGate(idCol: String, minDurationMs: Long = 1000L,
      maxDurationMs: Long = 14400000L, minDim: Int = 64,
      maxAspectFp: Long = 4000000L): Stage =
    Stage(graft.operators.CurationOutcome.Quality, batch => {
      val meta = graft.multimodal.Multimodal
        .parseVideoMeta(batch.select(col(idCol).as("media_id"),
          col("content")))
        .toDF().withColumnRenamed("media_id", "__mid")
      videoRule(minDurationMs, maxDurationMs, minDim, maxAspectFp)(
          batch.join(meta, batch(idCol) <=> col("__mid"))
            .filter(col("timescale") > 0))
        .drop("__mid", "duration")
        .withColumn("__vhash", md5(col("content")))
    }, addedColumns = Seq(StructField("__vhash", StringType)))

  /** The q46 content-addressed sampling slot in [0, 100) keyed on the
    * id column — md5, NOT rand(): the sampled reject log is stable
    * across reruns, partitionings, and replays.
    */
  private def sampleSlotExpr(idCol: String): Column =
    expr(s"cast(conv(substring(md5(cast($idCol as string)), 1, 15), " +
      "16, 10) as bigint) % 100")

  /** Per-batch OBSERVED run of a [[curationFeed]] stage list — the feed's
    * per-stage yield observability (the StoreStats posture: a small
    * metadata frame beside the data, never a re-run of the batch
    * audit over the corpus): fold the stages with a materialization
    * barrier per stage, count each boundary, and write beside the
    * commit
    *
    *   `yieldDir/yields/batch=<id>`  — (batch_id, outcome, n_docs):
    *     one row per stage label with the documents that stage
    *     dropped this batch, plus the
    *     `kept` row with the batch's survivors — so cumulative
    *     streamed yields are the same GROUP BY outcome report as the
    *     batch q150 decision log (StreamingSpec pins the equality);
    *   `yieldDir/rejects/batch=<id>` — (doc_id, stage, text): the
    *     content-addressed sample of each stage's rejects
    *     (`rejectSampleSlots` of 100 q46 md5 slots, never rand()),
    *     written only when sampling is on — the "show me example
    *     documents the language gate dropped today" answer.
    *
    * Exactly-once per batch id with replay-no-op, inherited from the
    * cycle: this runs only on UNCOMMITTED batches (a replayed
    * committed batch skips check entirely, so yields are neither
    * recomputed nor double-counted), and a crash between the yield
    * write and the data commit replays into an identical overwrite —
    * the stages are deterministic and the crashed attempt recorded
    * nothing, so the store state they judge against is unchanged.
    * Cost: one materialization barrier per stage on the MICRO-BATCH
    * (not the corpus), whose job also yields the stage's row count
    * through an observed metric — the observed form trades the
    * single fused plan for per-stage visibility; leave `yieldDir`
    * unset to keep today's one-plan path. Barrier lifecycle: every
    * intermediate barrier releases before returning; the FINAL
    * barrier is the frame the cycle commits, so it parks in
    * `pending` (one per stream) and releases at the NEXT call — a
    * one-micro-batch-deep deferral, so barrier storage is bounded by
    * one batch however long the stream runs.
    */
  private def observedStageRun(
      stages: Seq[Stage],
      idCol: String, textCol: String, yieldDir: String,
      rejectSampleSlots: Int,
      pending: scala.collection.mutable.ArrayBuffer[DataFrame])(
      batch: DataFrame, batchId: Long): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    pending.foreach(graft.operators.Exec.release)
    pending.clear()
    val barriers = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // the barrier and its row count in ONE job: the count is observed
    // on the frame the barrier materializes (in either checkpoint mode
    // the barrier computes that frame exactly once)
    def counted(df: DataFrame): (DataFrame, Long) = {
      val rows = org.apache.spark.sql.Observation()
      val barrier = graft.operators.Exec.materialize(
        df.observe(rows, count(lit(1)).as("n")))
      (barrier, rows.get("n").asInstanceOf[Long])
    }
    var (cur, curN) = counted(batch)
    barriers += cur
    val yields = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val rejectParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (stage <- stages) {
      val (next, nextN) = counted(stage.check(cur))
      yields += ((batchId, stage.label, curN - nextN))
      if (rejectSampleSlots > 0 && nextN != curN)
        rejectParts += cur
          .join(next.select(col(idCol)), Seq(idCol), "left_anti")
          .filter(sampleSlotExpr(idCol) < rejectSampleSlots)
          .select(col(idCol).as("doc_id"), lit(stage.label).as("stage"),
            col(textCol).cast(org.apache.spark.sql.types.StringType)
              .as("text"))
      barriers += next
      cur = next
      curN = nextN
    }
    yields += ((batchId, graft.operators.CurationOutcome.Kept, curN))
    yields.toSeq.toDF("batch_id", "outcome", "n_docs")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$yieldDir/yields/batch=$batchId")
    if (rejectSampleSlots > 0)
      rejectParts.reduceOption(_.union(_))
        .map(_.coalesce(1))
        // an all-kept batch still writes a READABLE empty frame
        // (repartition(1) forces one part file carrying the schema)
        .getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              batch.schema(idCol).dataType),
            org.apache.spark.sql.types.StructField("stage",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))))
          .repartition(1))
        .write.mode("overwrite")
        .parquet(s"$yieldDir/rejects/batch=$batchId")
    // every intermediate barrier is consumed (counts + reject writes
    // above); the survivors frame returns to the cycle's commit and
    // releases at the next call (see the lifecycle note above)
    barriers.dropRight(1).foreach(graft.operators.Exec.release)
    pending += cur
    cur
  }

  /** Read back a feed's cumulative yield frame — one row per
    * [[graft.operators.CurationOutcome]] label with total documents
    * across all observed batches (the `GROUP BY outcome` report the
    * batch q150 log answers corpus-wide, here from the per-batch
    * metadata alone).
    */
  def readCurationYields(spark: SparkSession,
      yieldDir: String): DataFrame =
    spark.read.parquet(s"$yieldDir/yields")
      .groupBy("outcome")
      .agg(org.apache.spark.sql.functions.sum("n_docs").as("n_docs"))

  /** The model-refresh policy of [[bigramLmGate]], extracted so
    * the adoption semantics are directly testable: when due (`every`
    * > 0, n > 0, n % every == 0), re-resolve the LATEST COMMITTED
    * snapshot under `statsPath`, materialize it, swap it into the pin,
    * and release the previous barrier — one live barrier at any time
    * (the loop-release discipline of Exec.materialize's scaladoc). Not
    * due → the pin is untouched.
    */
  private[graft] def refreshPinnedModel(
      model: java.util.concurrent.atomic.AtomicReference[DataFrame],
      spark: SparkSession, statsPath: String, n: Long,
      every: Int): Unit =
    if (every > 0 && n > 0 && n % every == 0) {
      val fresh = graft.operators.Exec.materialize(
        readTermStats(spark, statsPath))
      graft.operators.Exec.release(model.getAndSet(fresh))
    }

  /** Streaming IVF-index maintenance — the freshness leg of the
    * trainer → index → serve lifecycle ([[graft.operators.KMeans]] →
    * [[graft.operators.AnnIndex]]) against a VERSIONED index root
    * ([[graft.operators.AnnIndex.writeIndex]]): each micro-batch of new
    * embeddings (`vec_id`, `v` array<double>) pins the CURRENT
    * generation ([[graft.operators.AnnIndex.current]] — its name and
    * ITS stored centroids, one handle), is assigned to its nearest
    * centroid and APPENDED into that generation's `cid=<n>` partition
    * directories, so queries running
    * [[graft.operators.AnnIndex.topK]] see new vectors as soon as their
    * batch commits — no rebuild, no read-side change, the probe's
    * partition pruning is untouched. The stream keeps feeding
    * whichever generation a retrain has installed, with assignment
    * always consistent with the centroids that define the
    * generation's lists (the pair can never mix). Centroids stay fixed
    * between retrains (standard IVF operation).
    *
    * Appends are idempotent per Spark's streaming-sink contract only at
    * the file level — a replayed batch re-appends its rows, each equal
    * in `(vec_id, v)` to its first copy. Every
    * [[graft.operators.AnnIndex.retrain]] (or `retrainFromStats`)
    * rebuilds the generation from one row per `(vec_id, v)`, so the
    * retrain schedule is the reclaim schedule.
    *
    * Strand guard: a retrain concurrent with an IN-FLIGHT batch would
    * leave that batch's rows in the predecessor generation (the
    * retrain snapshotted vectors before they landed) — and once the
    * NEXT retrain GC'd that generation the rows would vanish
    * permanently, with nothing ever noticing. So after the append the
    * batch RE-READS the manifest and FAILS if the generation changed
    * mid-batch: the checkpoint never commits, the restart replays the
    * batch against the newly-installed generation, and the stranded
    * predecessor copy is GC'd with its generation (it was never
    * served — only the current generation is). Appending twice is the
    * family's at-least-once posture; q40/q85-style probes dedup
    * nothing because the replayed rows land in the SAME (vec_id, v)
    * identity the next retrain drops. An install landing after this
    * check but before the checkpoint commit can still strand
    * (vanishingly narrow window);
    * production deployments additionally quiesce the appender around
    * retrains — the family's single-maintenance-writer posture.
    *
    * Lloyd-stats leg: when the generation was built with
    * `lloydStats = true`, each batch also folds the
    * [[graft.operators.KMeans.statsOf]] cells of the rows it appended
    * into the generation's maintained `_lloyd` frame
    * ([[graft.operators.AnnIndex.foldLloydStats]] — exactly-once per
    * batch id), so the distortion-triggered retrain can take
    * [[graft.operators.AnnIndex.retrainFromStats]] and skip the
    * update step's corpus scans entirely. A generation without seeded
    * stats makes the fold a no-op — the lifecycle is opt-in.
    */
  def indexIngestStreamVersioned(embeddings: DataFrame, root: String,
      checkpointDir: String,
      maintenanceEvery: Int = 0): StreamingQuery =
    indexIngest(embeddings, "ivf_index_ingest_versioned", root,
      checkpointDir, None, maintenanceEvery)

  /** [[indexIngestStreamVersioned]] with a SEMANTIC DEDUP GATE — the
    * streaming form of SemDeDup (q112) against the serving index:
    * each micro-batch is probed against the pinned generation
    * ([[graft.operators.AnnIndex.semanticDedupProbePq]], cosine ≥
    * `tau` within `nprobe` lists, from the PQ codes when the
    * generation has a sidecar) and only vectors with NO live
    * indexed near-duplicate are appended. Within-batch copies are
    * resolved FIRST by the q112 rule (lower vec_id wins at ≥ `tau`),
    * paired over the UNION of each vector's top-`nprobe` lists — the
    * same probe window as the cross-run gate, so two near-duplicates
    * arriving in one micro-batch that straddle a centroid boundary
    * are still paired (r13 paired top-1 lists only, which the r13
    * advice flagged: a boundary-straddling pair could both append).
    * The residual recall gap is the gate's own documented one: a true
    * pair sharing NO list within `nprobe` — the same trade the
    * cross-run probe makes. Gate and append both run against the
    * generation pinned at batch start, and the batch cycle is
    * [[indexIngestStreamVersioned]]'s: the strand guard fails the
    * batch if a retrain swapped mid-batch, so replay re-gates against
    * the installed generation — survivors exactly-once, drops
    * at-least-once, like every other streamed dedup cycle here — and
    * the Lloyd-stats fold covers exactly the survivors appended.
    */
  def semanticDedupIngestStream(embeddings: DataFrame, root: String,
      checkpointDir: String, tau: Double, nprobe: Int = 2,
      rerankC: Int = 8, maintenanceEvery: Int = 0): StreamingQuery =
    indexIngest(embeddings, "ivf_index_ingest_semantic_dedup", root,
      checkpointDir, Some(SemanticGate(tau, nprobe, rerankC)),
      maintenanceEvery)

  /** The semantic gate's parameters (see [[semanticDedupIngestStream]]). */
  private[graft] final case class SemanticGate(tau: Double, nprobe: Int,
      rerankC: Int)

  private def indexIngest(embeddings: DataFrame, name: String,
      root: String, checkpointDir: String, gate: Option[SemanticGate],
      maintenanceEvery: Int): StreamingQuery =
    embeddings.writeStream
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendVersionedBatch(batch, root, batchId, gate)
        if (maintenanceEvery > 0 &&
            (batchId + 1) % maintenanceEvery == 0)
          maintainIndexIfDue(batch.sparkSession, root)
      }
      .start()

  /** Inline self-maintenance for the versioned-index appenders — the
    * [[graft.operators.IndexStats]] signals consumed the way the
    * store stages consume StoreStats (see [[graft.ingest.KeyStore.maintain]]):
    * `vacuumDue` → [[graft.operators.AnnIndex.vacuumRetracted]] (the
    * retraction backlog is approaching the broadcast ceiling —
    * physically drop it BEFORE probes fall off the broadcast plan),
    * then `sidecarRebuildDue` re-checked on the POST-vacuum state →
    * [[graft.operators.AnnIndex.buildPqSidecar]] (a vacuum installs a
    * sidecar-less generation; a growing residual erodes the codes-only
    * serving path the same way a stale bloom erodes the store probe).
    * Runs AFTER the batch's append + strand guard, on the appender's
    * own thread — the single-writer argument of the store cycles. The
    * distortion-triggered RETRAIN stays operator-scheduled
    * ([[graft.operators.IndexStats.retrainDue]] with an
    * operator-chosen threshold): it refits the whole index and has no
    * universal "due" constant to self-trigger on — though with the
    * maintained Lloyd stats its update step is a KB-scale read
    * ([[graft.operators.AnnIndex.retrainFromStats]]), so "whole
    * index" now prices as the rebuild pass alone. The sidecar rebuild
    * only fires when the generation ever had one (or a vacuum just
    * dropped one): a deliberately float-only index must not sprout a
    * PQ sidecar because a maintenance pass ran.
    */
  private def maintainIndexIfDue(spark: SparkSession,
      root: String): Unit = {
    val IS = graft.operators.IndexStats
    val A = graft.operators.AnnIndex
    val s0 = IS.stats(spark, root)
    val vacuumed = s0.vacuumDue
    if (vacuumed) A.vacuumRetracted(spark, root)
    val s1 = if (vacuumed) IS.stats(spark, root) else s0
    // rebuild when due AND the pq path is in use: the current
    // generation has (or the pre-vacuum one had) a committed sidecar
    if (s1.sidecarRebuildDue && (s1.pqPresent || s0.pqPresent))
      A.buildPqSidecar(spark, root)
  }

  /** One micro-batch of the versioned appenders — the ONE batch cycle
    * behind [[indexIngestStreamVersioned]] and
    * [[semanticDedupIngestStream]], factored out so the strand guard
    * is testable: pin the generation handle ONCE, run the optional
    * semantic gate against it, assign with ITS centroids, append under
    * it, re-read the manifest and fail if a swap landed mid-batch (the
    * scaladoc above), then fold the Lloyd stats of the rows actually
    * appended — AFTER the guard, so stats only ever fold into the
    * generation the rows serve from. `postWriteProbe` is a test seam —
    * it runs inside the guard's detection window (after the append,
    * before the re-check), where a deterministic spec can inject the
    * racing retrain.
    */
  private[graft] def appendVersionedBatch(batch: DataFrame, root: String,
      batchId: Long = -1L, gate: Option[SemanticGate] = None,
      postWriteProbe: () => Unit = () => ()): Unit = {
    val A = graft.operators.AnnIndex
    val spark = batch.sparkSession
    val gen = A.current(spark, root)
    // the gate's per-batch barriers release together in the one
    // finally — the Exec loop contract (barriers must not accumulate
    // across micro-batches)
    val barriers = scala.collection.mutable.ListBuffer[DataFrame]()
    def barrier(df: DataFrame): DataFrame = {
      val m = df.transform(graft.operators.Exec.materialize)
      barriers += m; m
    }
    try {
      val appended = gate.fold(batch.select("vec_id", "v"))(g =>
        semanticallyNovel(batch, gen, g, barrier))
      A.assignByCosine(appended, gen.centroids)
        .write.mode("append").partitionBy("cid").parquet(gen.dir)
      postWriteProbe()
      val now = graft.ingest.Generations.current(A.fsOf(spark, root),
        new org.apache.hadoop.fs.Path(root))
      if (now != Some(gen.name))
        throw new IllegalStateException(
          s"index generation swapped mid-batch (${gen.name} -> " +
            s"${now.getOrElse("<none>")}): failing the batch so the " +
            "replay re-gates and re-appends against the installed " +
            "generation")
      // exactly-once per batch id; no-op for generations built without
      // lloydStats (opt-in)
      A.foldLloydStats(spark, gen, batchId, appended)
    } finally {
      barriers.foreach(graft.operators.Exec.release)
    }
  }

  /** The semantic gate of [[appendVersionedBatch]]: the (vec_id, v)
    * rows of `batch` with no near-duplicate — within the batch or
    * among the pinned generation's live vectors — and no id already
    * in the generation. Three passes over the micro-batch
    * (within-batch pairing, index probe, assignment append) —
    * batch-scale work; the index side is read once, pruned to the
    * probed `cid=` partitions.
    */
  private def semanticallyNovel(batch: DataFrame,
      gen: graft.operators.AnnIndex.Generation, g: SemanticGate,
      barrier: DataFrame => DataFrame): DataFrame = {
    val A = graft.operators.AnnIndex
    val spark = batch.sparkSession
    // within-batch first: q112's rule — the lower id wins at ≥ tau —
    // paired over the UNION of each vector's top-nprobe lists (the
    // cross-run probe's own window; top-1-only pairing missed
    // boundary-straddling pairs, the r13 advice gap). Materialized
    // for the batch's lifetime: the pair join references it twice and
    // the probed-cid collect below walks it once more.
    val probed = barrier(
      A.probeByCosine(batch.select("vec_id", "v"), gen.centroids, g.nprobe))
    val a = probed.select(col("vec_id").as("vec_a"), col("cid"),
      col("v").as("v_a"))
    val b = probed.select(col("vec_id").as("vec_b"), col("cid"),
      col("v").as("v_b"))
    val inBatchDups = a.join(b, "cid")
      .filter(col("vec_a") < col("vec_b"))
      .filter(expr("cosine_sim(v_a, v_b)") >= g.tau)
      .select(col("vec_b").as("vec_id")).distinct()
    // the batch's probed lists — ≤ k rows by construction (the
    // vacuumRetracted collect-bound argument); a re-delivered id
    // lands in its ARGMAX list (deterministic assignment), which the
    // probed set contains (rn = 1 ⊆ rn ≤ nprobe), so the id guard
    // below may prune its scan to these partitions
    val batchCids = probed.select("cid").distinct()
      .collect().map(_.getInt(0)).toSeq
    // id-level replay guard: the probe reads an id self-match as
    // re-delivery (not a duplicate), which is right for AUDITING but
    // would let an at-least-once re-delivery (wiped checkpoint, crash
    // between the parquet append and the streaming commit) append the
    // same vec_id twice. Ids already in the pinned generation never
    // re-append — the anti-join reads one column of the PROBED `cid=`
    // partitions only (partition prune + columnar prune; r13 scanned
    // the whole generation's id column, a per-batch cost that grew
    // with index size — the r13 advice item. A DedupStore-backed id
    // set is the same structure with a bloom sidecar when even the
    // pruned scan is too much). MATERIALIZED for the batch's lifetime
    // and RELEASED after the append (the Exec loop contract): the
    // gate and the survivor join reference this frame several times,
    // and its plan carries the two anti-joins above.
    val batchSurvivors = barrier(batch.select("vec_id", "v")
      .join(inBatchDups, Seq("vec_id"), "left_anti")
      .join(spark.read.parquet(gen.dir)
          .filter(col("cid").isin(batchCids: _*)).select("vec_id"),
        Seq("vec_id"), "left_anti"))
    // then the cross-run gate against the pinned generation — served
    // from the PQ codes when the generation has a sidecar
    // (candidates never read the float column; exact re-rank bounds
    // the float reads), falling back to the float probe otherwise
    val kept = A.semanticDedupProbePq(spark, gen, batchSurvivors, g.tau,
        g.nprobe, g.rerankC)
      .filter(!col("is_dup")).select("vec_id")
    batchSurvivors.join(kept, "vec_id")
  }

  def windowedEventCounts(events: DataFrame,
      watermarkDelay: String = "30 minutes",
      windowWidth: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowWidth), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType)
          .as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("total_value"))
}
