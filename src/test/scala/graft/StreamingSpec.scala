package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ingest.Warehouse
import graft.streaming.Streams
import graft.ingest.StoreLayout.{Bucketed, Path}
import graft.streaming.Streams.curationFeed

/** Structured Streaming mode: the readStream→foreachBatch port of the
  * reference's poll loop (etl/app.py:253-278) and the event-time windowed
  * aggregation (SURVEY.md §2.3). Streaming results can't hash-match a
  * batch DuckDB oracle, so this suite is the gate (VERDICT r1 item 6);
  * the windowed agg itself is additionally oracle-checked in batch as
  * q38.
  */
class StreamingSpec extends SparkSuite {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeFile(dir: String, name: String, content: String): Unit =
    Files.writeString(java.nio.file.Paths.get(dir, name), content)

  /** Spark jobs started per micro-batch while `body` runs, keyed by
    * (query id, batch id) — the local properties every job of a
    * micro-batch carries (counted by [[SparkSuite.jobsDuring]]).
    */
  private def jobsPerBatch(body: => Unit): Map[(String, Long), Int] =
    jobsDuring(body)._2.flatMap { j =>
      val p = Option(j.properties).getOrElse(new java.util.Properties)
      for (q <- Option(p.getProperty("sql.streaming.queryId"));
           b <- Option(p.getProperty("streaming.sql.batchId")))
        yield (q, b.toLong)
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  private val clientsCsv =
    """client_id,nom,prenom,email,telephone,adresse
      |CLI001,Dupont,Jean,jean.dupont@email.com,612345678,"1 rue de Paris"
      |CLI002,Martin,Sophie,s.martin@email.com,723456789,"2 avenue Lyon"
      |""".stripMargin

  test("O1 streaming: AvailableNow micro-batch ingests a clients file " +
    "through the shared pipeline") {
    val watch = tmpDir("stream-watch")
    val whRoot = tmpDir("stream-wh")
    val ckpt = tmpDir("stream-ckpt")
    writeFile(watch, "clients_2025.csv", clientsCsv)
    writeFile(watch, "~$clients_lock.csv", clientsCsv) // O2: must be skipped
    val wh = new Warehouse(spark, whRoot)
    Streams.pollAvailableNow(spark, wh, watch, ckpt)
    val table = wh.table("clients").get
    assert(table.count() === 2)
    val cols = table.columns.toSet
    assert(cols.contains("source_file") && cols.contains("imported_at"))
    assert(table.filter(col("source_file") === "clients_2025.csv").count() === 2)
  }

  test("O3 streaming: checkpoint skips seen files; new files ingest " +
    "incrementally; O9 dedup drops re-delivered keys") {
    val watch = tmpDir("stream-watch2")
    val whRoot = tmpDir("stream-wh2")
    val ckpt = tmpDir("stream-ckpt2")
    writeFile(watch, "clients_a.csv", clientsCsv)
    val wh = new Warehouse(spark, whRoot)
    Streams.pollAvailableNow(spark, wh, watch, ckpt)
    assert(wh.table("clients").get.count() === 2)

    // Second cycle, same checkpoint: nothing new → no change.
    Streams.pollAvailableNow(spark, wh, watch, ckpt)
    assert(wh.table("clients").get.count() === 2)

    // New file re-delivering CLI002 plus a new key: dedup keeps only CLI003.
    writeFile(watch, "clients_b.csv",
      """client_id,nom,prenom,email,telephone,adresse
        |CLI002,Martin,Sophie,s.martin@email.com,723456789,"2 avenue Lyon"
        |CLI003,Durand,Luc,l.durand@email.com,634567890,"3 rue Centrale"
        |""".stripMargin)
    Streams.pollAvailableNow(spark, wh, watch, ckpt)
    val table = wh.table("clients").get
    assert(table.count() === 3)
    assert(table.select("client_id").distinct().count() === 3)
  }

  test("O11 streaming router: ambiguous filename routes to exactly one " +
    "entity (first-match parity with the batch router); failed batch " +
    "recorded as error status") {
    val watch = tmpDir("route-watch")
    val whRoot = tmpDir("route-wh")
    val ckpt = tmpDir("route-ckpt")
    // Name matches both *client* and *vente*; batch router picks clients.
    writeFile(watch, "clients_ventes.csv", clientsCsv)
    // Mixed case must still route (batch router lowercases; the stream
    // glob is case-insensitive via bracket classes).
    writeFile(watch, "Clients_Mai.csv",
      """client_id,nom,prenom,email,telephone,adresse
        |CLI009,Upper,Case,u@c.fr,9,"9 rue Haute"
        |""".stripMargin)
    val wh = new Warehouse(spark, whRoot)
    Streams.pollAvailableNow(spark, wh, watch, ckpt)
    assert(wh.table("clients").get.count() === 3)
    assert(wh.table("clients").get
      .filter(col("client_id") === "CLI009").count() === 1)
    assert(wh.table("ventes").isEmpty) // NOT double-ingested
    // A ventes-only file whose rows orphan the FK check -> error status
    // recorded (O13 parity), batch checkpointed but audited.
    writeFile(watch, "ventes_x.csv",
      """vente_id,client_id,produit_id,quantite,prix_total,date_vente
        |VNT001,NOPE,MISSING,1,5,2025-05-10 14:30:00
        |""".stripMargin)
    Streams.pollAvailableNow(spark, wh, watch, ckpt)
    assert(wh.table("ventes").isEmpty)
    val status = wh.metadata.collect()
      .map(r => r.getAs[String]("filename") -> r.getAs[String]("status"))
      .toMap
    assert(status("ventes_x.csv") === "error")
    assert(status("clients_ventes.csv") === "success")
  }

  test("streaming dedup: re-delivered keys within the watermark dropped " +
    "across micro-batches") {
    import spark.implicits._
    val srcDir = tmpDir("stream-dedup")
    def rows(ps: (Long, String)*) = ps.toSeq
      .toDF("event_id", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    rows((1L, "2025-01-01 10:00:00"), (2L, "2025-01-01 10:00:10"))
      .coalesce(1).write.parquet(s"$srcDir/b1.parquet")
    // second batch re-delivers event 2 and adds event 3
    rows((2L, "2025-01-01 10:00:10"), (3L, "2025-01-01 10:00:20"))
      .coalesce(1).write.parquet(s"$srcDir/b2.parquet")
    val schema = spark.read.parquet(s"$srcDir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*.parquet")
    val q = graft.streaming.Streams
      .streamingDedup(stream, Seq("event_id"), "ts")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L)) // each key exactly once
  }

  test("streaming corpus feed composes with the cross-run dedup store " +
    "across micro-batches (foreachBatch two-phase)") {
    import spark.implicits._
    val srcDir = tmpDir("stream-corpus")
    val store = tmpDir("stream-corpus-store") + "/hashes"
    val outDir = tmpDir("stream-corpus-out") + "/docs"
    def docs(ps: (Long, String)*) = ps.toSeq.toDF("doc_id", "text")
    docs((1L, "alpha beta"), (2L, "gamma")) // batch 1
      .coalesce(1).write.parquet(s"$srcDir/b1.parquet")
    docs((3L, "ALPHA  beta"), (4L, "delta")) // batch 2: 3 dups 1 cross-run
      .coalesce(1).write.parquet(s"$srcDir/b2.parquet")
    val schema = spark.read.parquet(s"$srcDir/b1.parquet").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*.parquet")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("stream-corpus-ckpt"))
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // production shape: persist survivors FIRST, then record
        val fresh = graft.ingest.DedupStore
          .newUnique(batch, "text", "doc_id", store)
          .localCheckpoint(true)
        fresh.drop("content_hash")
          .write.mode("append").parquet(outDir)
        graft.ingest.DedupStore.recordHashes(fresh, "text", store)
        ()
      }
      .start()
    q.awaitTermination()
    // doc 3 (formatting variant of doc 1 from the PREVIOUS micro-batch)
    // is suppressed by the store, not by streaming state
    val kept = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 2L, 4L))
  }

  test("stream-static enrichment: micro-batched facts join the dim " +
    "snapshot; left_outer keeps orphans; streaming == batch") {
    import spark.implicits._
    val srcDir = tmpDir("stream-enrich")
    def facts(ps: (Long, Long, Double)*) = ps.toSeq
      .toDF("order_id", "cust_id", "amount")
    facts((1L, 10L, 5.0), (2L, 11L, 7.0))
      .coalesce(1).write.parquet(s"$srcDir/b1.parquet")
    facts((3L, 12L, 9.0)) // cust 12 missing from the dim → orphan
      .coalesce(1).write.parquet(s"$srcDir/b2.parquet")
    val dim = Seq((10L, "BUILDING"), (11L, "AUTO"))
      .toDF("cust_id", "segment")
    val schema = spark.read.parquet(s"$srcDir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*.parquet")
    val q = Streams.enrichStream(stream, dim, "cust_id", "left_outer")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("enrich_out")
      .select("order_id", "segment")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)))
      .sortBy(_._1).toSeq
    assert(got === Seq(1L -> Some("BUILDING"), 2L -> Some("AUTO"),
      3L -> None))
    // the same pure function over the batch read gives the same rows
    val batch = Streams.enrichStream(
      spark.read.parquet(s"$srcDir/*.parquet"), dim, "cust_id",
      "left_outer")
      .select("order_id", "segment")
      .collect().map(r => r.getLong(0) -> Option(r.getString(1)))
      .sortBy(_._1).toSeq
    assert(batch === got)
    intercept[IllegalArgumentException] {
      Streams.enrichStream(stream, dim, "cust_id", "full_outer")
    }
  }

  test("streaming content dedup: formatting variants of one document " +
    "collapse across micro-batches; short docs keep distinct keys") {
    import spark.implicits._
    val srcDir = tmpDir("stream-content-dedup")
    def rows(ps: (Long, String, String)*) = ps.toSeq
      .toDF("doc_id", "text", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    rows(
      (1L, "Hello   World from Spark", "2025-01-01 10:00:00"),
      (2L, "a completely different document", "2025-01-01 10:00:05"),
      (5L, "tiny", "2025-01-01 10:00:06")) // < 8 chars: md5 fallback
      .coalesce(1).write.parquet(s"$srcDir/b1.parquet")
    // batch 2: doc 3 is doc 1 re-formatted (case + whitespace), doc 4
    // is new, doc 6 is a DIFFERENT short doc (must NOT collapse with 5)
    rows(
      (3L, "hello world  FROM   spark", "2025-01-01 10:00:10"),
      (4L, "yet another novel text body", "2025-01-01 10:00:15"),
      (6L, "wee", "2025-01-01 10:00:16"))
      .coalesce(1).write.parquet(s"$srcDir/b2.parquet")
    val schema = spark.read.parquet(s"$srcDir/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*.parquet")
    val q = graft.streaming.Streams
      .streamingContentDedup(stream, "text", "ts")
      .writeStream.format("memory").queryName("content_dedup_out")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("content_dedup_out")
    assert(out.columns.toSeq === Seq("doc_id", "text", "ts")) // fp dropped
    val ids = out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 2L, 4L, 5L, 6L),
      "doc 3 (reformatted doc 1) must dedup; both short docs survive")
  }

  test("stream-stream interval join: purchases attribute to signups " +
    "within the lookback, watermarked on both sides") {
    import spark.implicits._
    val dir = tmpDir("stream-ssj")
    val purchases = Seq(
      (1L, 101L, "2025-01-01 10:30:00"), // 30 min after signup -> match
      (2L, 102L, "2025-01-01 12:00:00")) // no signup in window -> dropped
      .toDF("user_id", "purchase_id", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val signups = Seq(
      (1L, 201L, "2025-01-01 10:00:00"),
      (2L, 202L, "2025-01-01 09:00:00")) // 3h before purchase -> outside
      .toDF("user_id", "signup_id", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    purchases.coalesce(1).write.parquet(s"$dir/purchases")
    signups.coalesce(1).write.parquet(s"$dir/signups")

    val pStream = spark.readStream.schema(purchases.schema)
      .parquet(s"$dir/purchases")
    val sStream = spark.readStream.schema(signups.schema)
      .parquet(s"$dir/signups")
    val q = graft.streaming.Streams
      .intervalJoinStreams(pStream, sStream, lookback = "1 hour")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("attrib")
      .select("user_id", "purchase_id", "r_signup_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 101L, 201L)))
  }

  test("flatMapGroupsWithState sessionization: cross-batch state, " +
    "gap-closed sessions emitted") {
    import spark.implicits._
    import graft.streaming.Streams.SessionEvent
    def ev(id: Long, user: Long, ts: String) =
      SessionEvent(user, id, java.sql.Timestamp.valueOf(ts))
    val srcDir = tmpDir("stream-sess")
    // Batch 1: user 1 has two events 5 min apart (one open session);
    // user 2 has one event.
    Seq(ev(1, 1, "2025-01-01 10:00:00"), ev(2, 1, "2025-01-01 10:05:00"),
      ev(3, 2, "2025-01-01 10:10:00"))
      .toDF().coalesce(1).write.parquet(s"$srcDir/b1.parquet")
    // Batch 2 (same run — AvailableNow reads both files, but state must
    // span users/files): user 1 returns 85 min later -> closes session A.
    Seq(ev(4, 1, "2025-01-01 11:30:00"))
      .toDF().coalesce(1).write.parquet(s"$srcDir/b2.parquet")

    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[SessionEvent]].schema)
      .option("maxFilesPerTrigger", "1") // force one file per micro-batch
      .parquet(s"$srcDir/*.parquet")
      .as[SessionEvent]
    val q = graft.streaming.Streams.sessionizeStream(stream, gapSec = 1800)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val closed = spark.table("sessions")
      .collect().map(r => (r.getLong(0),
        r.getTimestamp(1).toString, r.getTimestamp(2).toString,
        r.getLong(3)))
    // Session A (user 1, 10:00-10:05, 2 events) must be closed by the
    // 11:30 event arriving in a later micro-batch. The 11:30 session and
    // user 2's singleton may stay open in state — that's correct.
    assert(closed.contains(
      (1L, "2025-01-01 10:00:00.0", "2025-01-01 10:05:00.0", 2L)))
    assert(!closed.exists(_._1 == 2L) ||
      closed.count(_._1 == 2L) <= 1) // user 2 at most its timeout close
  }

  test("stateful streamed funnel: anchors fold only once final, quiet " +
    "users emit their chain, and the emitted chains equal the batch " +
    "q134 min-chain recomputed over the fed events") {
    import spark.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    // the real sf events (µs-normalized by Tables.load), time-sorted and
    // split into two micro-batches, then two watermark-advancing pokes
    // far past everyone's quiet horizon (distinct sentinel users)
    val rows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      .sortBy(r => (micros(r._3), r._2))
    val srcDir = tmpDir("funnel-src")
    val (h1, h2) = rows.splitAt(rows.length / 2)
    h1.toSeq.toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b1.parquet")
    h2.toSeq.toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b2.parquet")
    val maxMs = rows.map(_._3.getTime).max
    Seq((-1L, "view", new java.sql.Timestamp(maxMs + 10L * 86400000L)))
      .toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b3.parquet")
    Seq((-2L, "view", new java.sql.Timestamp(maxMs + 20L * 86400000L)))
      .toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b4.parquet")
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[
        graft.streaming.Streams.FunnelEvent]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*.parquet")
      .as[graft.streaming.Streams.FunnelEvent]
    val steps = Seq("view", "click", "purchase")
    val q = graft.streaming.Streams.funnelStream(stream, steps,
      windowSec = 86400L, quietSec = 3600L, watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("funnel_progress")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("funnel_progress").collect()
      .filter(_.getLong(0) >= 0L)
      .map(r => r.getLong(0) -> (r.getLong(1),
        r.getSeq[java.sql.Timestamp](2).map(micros).toList)).toMap
    // driver-side batch min-chain (the q134 semantics) per user
    val winUs = 86400L * 1000000L
    val want = rows.filter(r => steps.contains(r._2)).groupBy(_._1)
      .map { case (u, g) =>
        var a = List.empty[Long]
        g.map(x => (x._2, micros(x._3))).sortBy(e => (e._2, e._1))
          .foreach { case (tp, t) =>
            val k = a.length
            if (k < steps.length && tp == steps(k) &&
                (k == 0 || (t > a.last && t <= a.last + winUs)))
              a = a :+ t
          }
        u -> (a.length.toLong, a)
      }
    assert(got === want,
      "streamed funnel diverged from the batch min-chain")
    // the fixture must actually discriminate (some users stop mid-chain)
    assert(want.values.map(_._1).toSet.size >= 2,
      "fixture lost discrimination")
  }

  test("maintained funnel progress: the snapshot-derived segment " +
    "breakdown equals batch q139 over the fed events; replay after " +
    "checkpoint loss is a no-op") {
    import spark.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    // the q134 parity harness: time-sorted real events in two
    // micro-batches, then two watermark-advancing sentinel pokes
    val rows = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      .sortBy(r => (micros(r._3), r._2))
    val srcDir = tmpDir("funnelseg-src")
    val path = tmpDir("funnelseg-snap") + "/progress"
    val ckpt = tmpDir("funnelseg-ckpt")
    val (h1, h2) = rows.splitAt(rows.length / 2)
    h1.toSeq.toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b1.parquet")
    h2.toSeq.toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b2.parquet")
    val maxMs = rows.map(_._3.getTime).max
    Seq((-1L, "view", new java.sql.Timestamp(maxMs + 10L * 86400000L)))
      .toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b3.parquet")
    Seq((-2L, "view", new java.sql.Timestamp(maxMs + 20L * 86400000L)))
      .toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b4.parquet")
    def drain(checkpoint: String = ckpt): Unit =
      graft.streaming.Streams.maintainFunnelProgress(
        spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[
            graft.streaming.Streams.FunnelEvent]].schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$srcDir/*.parquet")
          .as[graft.streaming.Streams.FunnelEvent],
        Seq("view", "click", "purchase"), path, checkpoint,
        watermarkDelay = "1 second").awaitTermination()
    drain()
    val dim = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    type SegRow = (Long, Long, Long, Option[Double], Option[Double])
    def segments(): Map[String, SegRow] =
      graft.streaming.Streams
        .funnelSegmentsFromSnapshot(spark, path, dim, "c_mktsegment")
        .collect().map(r => r.getString(0) -> ((r.getLong(1),
          r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]),
          Option(r.get(5)).map(_.asInstanceOf[Double]))))
        .toMap
    val batch: Map[String, SegRow] = graft.queries.CoreAnalytics
      .queries("q139_funnel_segments")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    // the snapshot form ENUMERATES the dimension: a segment none of
    // whose users ever emitted a funnel event shows as an all-zero row
    // with undefined (NULL) conversion — batch q139's inner join has
    // no row for it; everywhere batch HAS a row the two must agree
    val allSegs = dim.select("c_mktsegment").distinct()
      .collect().map(_.getString(0)).toSet
    val want: Map[String, SegRow] = allSegs.map(s =>
      s -> batch.getOrElse(s, (0L, 0L, 0L, None, None))).toMap
    assert(segments() === want,
      "snapshot segments diverged from batch q139 over the same events")
    assert(batch.keySet.subsetOf(allSegs) && batch.size < allSegs.size,
      "fixture lost its event-less segment (the enumeration case)")
    // the fixture must discriminate: some segment converts partially
    assert(want.values.exists(v => v._2 > 0 && v._2 < v._1),
      "fixture lost discrimination")
    // replay after checkpoint loss: committed batches skip, the
    // snapshot is unchanged
    drain(tmpDir("funnelseg-ckpt2"))
    assert(segments() === want, "full-history replay must be a no-op")
  }

  test("maintained RFM inputs: snapshot-derived segmentation equals " +
    "batch q144 over the fed orders (any split), and replay after " +
    "checkpoint loss is a no-op") {
    import spark.implicits._
    val S = graft.streaming.Streams
    val srcDir = tmpDir("rfm-src")
    val path = tmpDir("rfm-snap") + "/inputs"
    val ckpt = tmpDir("rfm-ckpt")
    // the real sf orders split by orderkey parity — deliberately NOT
    // time-ordered, the mergeable facts must not care
    val rows = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2), r.getDouble(3)))
    def deliver(name: String,
        rs: Seq[(Long, java.sql.Timestamp, Double)]): Unit =
      rs.toDF("o_custkey", "o_orderdate", "o_totalprice").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/$name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_custkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderdate",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    def drain(checkpoint: String = ckpt): Unit =
      S.maintainRfmInputs(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        path, checkpoint).awaitTermination()
    def seg(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    deliver("b1", rows.filter(_._1 % 2 == 0L).map(r => (r._2, r._3, r._4)))
    drain()
    deliver("b2", rows.filter(_._1 % 2 == 1L).map(r => (r._2, r._3, r._4)))
    drain()
    val batch = seg(graft.queries.CoreAnalytics
      .queries("q144_rfm_segments")(spark, sf))
    assert(seg(S.rfmFromSnapshot(spark, path)) === batch,
      "streamed RFM diverged from batch q144 over the same orders")
    // the law must discriminate: scores spread across the range
    assert(batch.values.map(_._4).toSet.size === 5,
      "fixture lost quintile discrimination")
    // replay after checkpoint loss: committed batch dirs are skipped
    drain(tmpDir("rfm-ckpt2"))
    assert(seg(S.rfmFromSnapshot(spark, path)) === batch,
      "full-history replay must be a no-op")
  }

  test("incrementally-maintained retention: the snapshot-derived matrix " +
    "equals batch q135 over the fed events (any split), a late earlier " +
    "signup re-cohorts at read time, and replay is idempotent") {
    import spark.implicits._
    val S = graft.streaming.Streams
    val srcDir = tmpDir("retention-src")
    val path = tmpDir("retention-snap") + "/inputs"
    val ckpt = tmpDir("retention-ckpt")
    // the real sf events split by event_id parity — deliberately NOT
    // time-ordered, the mergeable form must not care
    val rows = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3)))
    def deliver(name: String,
        rs: Seq[(Long, String, java.sql.Timestamp)]): Unit =
      rs.toDF("user_id", "event_type", "ts").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/$name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    def drain(checkpoint: String = ckpt): Unit =
      S.maintainRetentionInputs(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        path, checkpoint).awaitTermination()
    def matrix(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    deliver("b1", rows.filter(_._1 % 2 == 0L).map(r => (r._2, r._3, r._4)))
    drain()
    deliver("b2", rows.filter(_._1 % 2 == 1L).map(r => (r._2, r._3, r._4)))
    drain()
    val batch = matrix(graft.queries.CoreAnalytics
      .queries("q135_retention_cohorts")(spark, sf))
    assert(matrix(S.retentionFromSnapshot(spark, path)) === batch,
      "streamed retention diverged from batch q135")
    // late re-cohort: a signup EARLIER than user 0's current first
    // signup arrives in a third batch — the user must move cohorts at
    // read time (min-merge), not stay frozen in the batch-1 cohort
    val u = rows.filter(_._3 == "signup").map(_._2).head
    val early = new java.sql.Timestamp(
      rows.map(_._4.getTime).min - 14L * 86400000L)
    deliver("b3", Seq((u, "signup", early), (u, "purchase",
      new java.sql.Timestamp(early.getTime + 3600000L))))
    drain()
    val after = matrix(S.retentionFromSnapshot(spark, path))
    assert(after !== batch, "the late signup must move the matrix")
    assert(after.keySet.map(_._1).min < batch.keySet.map(_._1).min,
      "the re-cohorted user must surface an earlier cohort week")
    // replay after checkpoint loss: committed batch dirs are skipped
    drain(tmpDir("retention-ckpt2"))
    assert(matrix(S.retentionFromSnapshot(spark, path)) === after,
      "full-history replay must be a no-op")
  }

  test("incrementally-maintained hourly counts: the snapshot-derived " +
    "anomaly report equals batch q138 over the fed events; replay " +
    "after checkpoint loss is idempotent") {
    import spark.implicits._
    val S = graft.streaming.Streams
    val srcDir = tmpDir("hourly-src")
    val path = tmpDir("hourly-snap") + "/counts"
    val ckpt = tmpDir("hourly-ckpt")
    val rows = Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    def drain(checkpoint: String = ckpt): Unit =
      S.maintainHourlyCounts(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        path, checkpoint).awaitTermination()
    def report(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // split mid-HOUR (by event id), so per-batch counts for the same
    // (type, hour) cell must ADD, not overwrite
    rows.filter(_._1 % 2 == 0L).map(r => (r._2, r._3, r._4)).toSeq
      .toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b1")
    drain()
    rows.filter(_._1 % 2 == 1L).map(r => (r._2, r._3, r._4)).toSeq
      .toDF("user_id", "event_type", "ts").coalesce(1)
      .write.parquet(s"$srcDir/b2")
    drain()
    val batch = report(graft.queries.CoreAnalytics
      .queries("q138_hourly_anomalies")(spark, sf))
    assert(report(S.anomaliesFromSnapshot(spark, path)) === batch,
      "streamed anomaly report diverged from batch q138")
    assert(batch.nonEmpty, "fixture produced no spikes")
    // the SEASONAL flank serves from the SAME snapshot: ≡ batch q145
    def sreport(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val sbatch = sreport(graft.queries.CoreAnalytics
      .queries("q145_seasonal_anomalies")(spark, sf))
    assert(sreport(S.seasonalAnomaliesFromSnapshot(spark, path))
      === sbatch, "streamed seasonal report diverged from batch q145")
    assert(sbatch.nonEmpty, "fixture produced no seasonal spikes")
    // replay after checkpoint loss: committed batch dirs are skipped
    drain(tmpDir("hourly-ckpt2"))
    assert(report(S.anomaliesFromSnapshot(spark, path)) === batch,
      "full-history replay must be a no-op")
  }

  test("incrementally-maintained link edges: ranks from the snapshot " +
    "equal a one-shot train over all edges fed, duplicate re-crawled " +
    "edges are free, and replay is idempotent") {
    import spark.implicits._
    val S = graft.streaming.Streams
    val srcDir = tmpDir("edges-src")
    val path = tmpDir("edges-snap") + "/edges"
    val ckpt = tmpDir("edges-ckpt")
    // a small deterministic graph, delivered in two batches with one
    // edge RE-CRAWLED in both (distinct-union must not double it)
    val all = (0L until 40L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 40), (i, (i * 11 + 5) % 40)))
      .filter { case (a, b) => a != b }.distinct
    val (e1, e2) = all.splitAt(all.length / 2)
    def deliver(name: String, es: Seq[(Long, Long)]): Unit =
      es.toDF("src", "dst").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("dst",
        org.apache.spark.sql.types.LongType)))
    def drain(checkpoint: String = ckpt): Unit =
      S.maintainEdges(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        path, checkpoint).awaitTermination()
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    deliver("b1", e1 :+ e2.head) // e2.head re-crawled later
    drain()
    deliver("b2", e2)
    drain()
    val nodes = (all.map(_._1) ++ all.map(_._2)).distinct
      .toDF("node")
    val oneShot = ranks(graft.operators.LinkRank
      .train(nodes, all.toDF("src", "dst"), iters = 3))
    assert(ranks(S.linkRankFromSnapshot(spark, path, iters = 3))
      === oneShot, "snapshot ranks diverged from the one-shot train")
    // replay after checkpoint loss: committed batch dirs are skipped
    drain(tmpDir("edges-ckpt2"))
    assert(ranks(S.linkRankFromSnapshot(spark, path, iters = 3))
      === oneShot, "full-history replay must be a no-op")
    // the converged retrain form: stops at an exact integer fixed
    // point of the SAME chain (folding more rounds changes nothing)
    val (rdf, rounds, conv) = S.linkRankFromSnapshotConverged(spark, path,
      maxIters = 100, tolFp = 1L)
    assert(rounds < 100, s"never converged within the cap ($rounds)")
    assert(conv, "converged flag must be set when the stop fired")
    val fixed = ranks(rdf)
    assert(fixed === ranks(graft.operators.LinkRank
        .train(nodes, all.toDF("src", "dst"), iters = rounds)),
      "converged ranks must equal the fixed-count chain at that depth")
    assert(fixed === ranks(graft.operators.LinkRank
        .train(nodes, all.toDF("src", "dst"), iters = rounds + 3)),
      "stop fired before the chain reached its fixed point")
  }

  test("maintained near-dup signatures: snapshot-derived clusters " +
    "equal batch q60 over the fed documents (any split), and replay " +
    "after checkpoint loss is a no-op") {
    import spark.implicits._
    val S = graft.streaming.Streams
    val srcDir = tmpDir("ndsig-src")
    val path = tmpDir("ndsig-snap") + "/sigs"
    val ckpt = tmpDir("ndsig-ckpt")
    val rows = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    def deliver(name: String, rs: Seq[(Long, String)]): Unit =
      rs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/$name")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def drain(checkpoint: String = ckpt): Unit =
      S.maintainNearDupSignatures(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        "text", "doc_id", path, checkpoint).awaitTermination()
    def clusters(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // split by parity — a near-dup pair can straddle the batches, the
    // snapshot-derived band join must still find it
    deliver("b1", rows.filter(_._1 % 2 == 0L).toSeq)
    drain()
    deliver("b2", rows.filter(_._1 % 2 == 1L).toSeq)
    drain()
    val batch = clusters(graft.queries.LlmPipeline
      .queries("q60_neardup_clusters")(spark, sf))
    assert(clusters(S.nearDupClustersFromSnapshot(spark, path))
      === batch, "snapshot clusters diverged from batch q60")
    assert(batch.values.exists(_._2 > 1L),
      "fixture lost discrimination (no multi-doc cluster)")
    // replay after checkpoint loss: distinct-union absorbs it
    drain(tmpDir("ndsig-ckpt2"))
    assert(clusters(S.nearDupClustersFromSnapshot(spark, path))
      === batch, "full-history replay must be a no-op")
  }

  test("incremental (term, df) stats: streamed batches equal one recompute; replay is idempotent") {
    import spark.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("docs-src").toString
    val statsPath = java.nio.file.Files
      .createTempDirectory("term-stats").toString + "/stats"
    val ckpt = java.nio.file.Files.createTempDirectory("stats-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(checkpoint: String = ckpt): Unit =
      graft.streaming.Streams.maintainTermStats(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        statsPath, checkpoint).awaitTermination()
    def stats(): Map[String, Long] =
      graft.streaming.Streams.readTermStats(spark, statsPath)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch1 = Seq((1L, "spark shuffle sort"), (2L, "spark spark join"))
    val batch2 = Seq((3L, "sort merge JOIN"), (4L, "Spark"))
    deliver("b1", batch1)
    drain()
    deliver("b2", batch2)
    drain() // second AvailableNow pass sees only the new files
    val got = stats()
    // batch recompute over ALL docs: df = distinct docs containing term
    val expected = (batch1 ++ batch2)
      .flatMap { case (id, tx) =>
        tx.toLowerCase.split("\\W+").filter(_.nonEmpty).distinct.map(_ -> id)
      }
      .groupBy(_._1).map { case (term, xs) => term -> xs.map(_._2).distinct.size.toLong }
    assert(got === expected)
    assert(got("spark") === 3L && got("join") === 2L && got("sort") === 2L)
    // at-least-once replay: wipe the checkpoint so the NEXT run replays
    // the same files under an already-committed batch id — the merge
    // must skip it (no double counting), not add it again
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(stats() === got, "replayed batch must not double-count")
  }

  test("inline self-maintenance: a feed whose takedown backlog crosses " +
    "the tombstone half-ceiling triggers compaction MID-STREAM (the " +
    "appender is the scheduler), rebuilds the sidecar, and returns " +
    "probes to the broadcast plan") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val D = graft.ingest.DedupStore
    val SS = graft.ingest.StoreStats
    val probe = Seq((9001L, "seed doc 5"), (9002L, "brand new"))
      .toDF("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // one law, two stage lists over the backlogged exact store: the
    // exact stage alone, and the exact → near feed (every stage list
    // self-maintains, and every exact stage probes bloom-aware)
    val inputs: Seq[(String, String => Seq[Streams.Stage])] = Seq(
      "exact" -> (store =>
        Seq(Streams.exactDedup(Path(store), "text", "doc_id"))),
      "exact+near" -> (store => Seq(
        Streams.exactDedup(Path(store), "text", "doc_id"),
        Streams.nearDedup(Path(tmpDir("sm-near") + "/bands"), "text",
          "doc_id"))))
    for ((tag, stagesOf) <- inputs) {
      val srcDir = tmpDir("sm-src")
      val outDir = tmpDir("sm-out") + "/out"
      val ckpt = tmpDir("sm-ckpt")
      val store = tmpDir("sm-store") + "/hashes"
      // history + a pending takedown backlog
      D.recordHashes((1 to 50).map(i => (i.toLong, s"seed doc $i"))
        .toDF("doc_id", "text"), "text", store)
      D.retract(Seq((0L, "seed doc 1"), (0L, "seed doc 2"))
        .toDF("doc_id", "text"), "text", store)
      assert(SS.of(spark, store).tombstoneBytes > 0L)
      def broadcasts(): Int =
        D.newUnique(probe, "text", "doc_id", store)
          .queryExecution.sparkPlan.collect {
            case e: BroadcastHashJoinExec => e
          }.size
      Seq((101L, "fresh alpha"), (102L, "fresh beta"),
        (5L, "seed doc 5"))
        .toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/b1")
      val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        // any BroadcastExchange left is OUR gatedHint hint
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        // ceiling under the backlog: the probe has DEGRADED to the
        // shuffle fallback — the state self-maintenance exists to fix
        spark.conf.set("graft.tombstone.broadcast.maxBytes", "2")
        assert(broadcasts() === 0,
          s"$tag: over-ceiling backlog should ride the shuffle fallback")
        assert(SS.of(spark, store).compactionDue)
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          stagesOf(store), outDir, ckpt,
          maintenanceEvery = 1).awaitTermination()
        // maintenance ran INSIDE the stream: backlog compacted away,
        // sidecar rebuilt over the rewritten files
        val s = SS.of(spark, store)
        assert(s.tombstoneBytes === 0L,
          s"$tag: the mid-stream compaction must have cleared the backlog")
        assert(!s.compactionDue, tag)
        assert(s.sidecarPresent && !s.sidecarStale,
          s"$tag: compaction voids sidecar coverage — maintenance must " +
            "rebuild")
        // delivery semantics untouched: dup of history dropped, fresh kept
        val survivors = spark.read
          .schema(schema.add("content_hash",
            org.apache.spark.sql.types.StringType))
          .parquet(outDir).select("doc_id")
          .collect().map(_.getLong(0)).toSet
        assert(survivors === Set(101L, 102L), tag)
        // a NEW takedown-list-sized backlog probes on the broadcast plan
        // again under the DEFAULT ceiling — the gate is healthy
        spark.conf.unset("graft.tombstone.broadcast.maxBytes")
        D.retract(Seq((0L, "fresh alpha")).toDF("doc_id", "text"),
          "text", store)
        assert(broadcasts() >= 1,
          s"$tag: post-maintenance probes must be back on the broadcast " +
            "plan")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
        spark.conf.unset("graft.tombstone.broadcast.maxBytes")
      }
    }
  }

  test("ULM vocab from the maintained term-counts snapshot equals " +
    "batch training over the same corpus bit-for-bit (the tokenizer " +
    "retrain never reads the corpus)") {
    val docs = Tables.load(spark, sf, "documents")
    val src = tmpDir("ulm-snap-src")
    val path = tmpDir("ulm-snap") + "/counts"
    val ckpt = tmpDir("ulm-snap-ckpt")
    // two micro-batches so the snapshot's cell-wise merge is real
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val half = ids.sorted.apply(ids.length / 2)
    def drain(): Unit = graft.streaming.Streams.maintainTermCounts(
      spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true").parquet(src),
      path, ckpt).awaitTermination()
    docs.filter(col("doc_id") < half).coalesce(1).write
      .mode("overwrite").parquet(s"$src/b1")
    drain()
    docs.filter(col("doc_id") >= half).coalesce(1).write
      .mode("overwrite").parquet(s"$src/b2")
    drain()
    val got = graft.streaming.Streams
      .ulmVocabFromSnapshot(spark, path, maxLen = 4, maxVocab = 128,
        emRounds = 2)
    val want = graft.operators.Ulm
      .train(docs, "text", maxLen = 4, maxVocab = 128, emRounds = 2)
    assert(got === want,
      "snapshot-trained vocab diverged from the batch trainer")
  }

  test("maintained term counts: drift between two independently-" +
    "maintained snapshots equals q117 BIT-FOR-BIT (the two-crawl-" +
    "dates form of the drift monitor)") {
    val docs = Tables.load(spark, sf, "documents")
    def maintain(cohort: org.apache.spark.sql.DataFrame,
        tag: String): String = {
      val src = java.nio.file.Files
        .createTempDirectory(s"tc-$tag-src").toString
      val path = java.nio.file.Files
        .createTempDirectory(s"tc-$tag").toString + "/counts"
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"tc-$tag-ckpt").toString
      // two micro-batches per cohort so the cell-wise merge is real
      val ids = cohort.select("doc_id").collect().map(_.getLong(0))
      val half = ids.sorted.apply(ids.length / 2)
      cohort.filter(col("doc_id") < half).coalesce(1).write
        .mode("overwrite").parquet(s"$src/b1")
      graft.streaming.Streams.maintainTermCounts(
        spark.readStream.schema(docs.schema)
          .option("recursiveFileLookup", "true").parquet(src),
        path, ckpt).awaitTermination()
      cohort.filter(col("doc_id") >= half).coalesce(1).write
        .mode("overwrite").parquet(s"$src/b2")
      graft.streaming.Streams.maintainTermCounts(
        spark.readStream.schema(docs.schema)
          .option("recursiveFileLookup", "true").parquet(src),
        path, ckpt).awaitTermination()
      path
    }
    val pathA = maintain(docs.filter(col("doc_id") % 2 === 0), "a")
    val pathB = maintain(docs.filter(col("doc_id") % 2 =!= 0), "b")
    val got = graft.streaming.Streams
      .termDriftBetween(spark, pathA, pathB)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val want = graft.queries.LlmPipeline
      .queries("q117_term_drift")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got === want,
      "snapshot-vs-snapshot drift diverged from the q117 cohort form")
  }

  test("incrementally-maintained bigram LM: streamed training over " +
    "micro-batches scores BIT-IDENTICALLY to q113's in-query training, " +
    "and replay after checkpoint loss is idempotent") {
    val docs = Tables.load(spark, sf, "documents")
    val srcDir = java.nio.file.Files.createTempDirectory("lm-src").toString
    val statsPath = java.nio.file.Files
      .createTempDirectory("lm-stats").toString + "/bigrams"
    val ckpt = java.nio.file.Files.createTempDirectory("lm-ckpt").toString
    val schema = docs.schema
    def drain(): Unit = graft.streaming.Streams.maintainBigramLm(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      statsPath, ckpt).awaitTermination()
    // two micro-batches partitioning the corpus by doc_id parity
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write
      .mode("overwrite").parquet(s"$srcDir/b1")
    drain()
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write
      .mode("overwrite").parquet(s"$srcDir/b2")
    drain()
    def scored(): Map[Long, (Long, Long, Long)] =
      graft.streaming.Streams.scoreLm(docs, statsPath)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = scored()
    // the law: scoring against the streamed snapshot == q113's own
    // in-query-trained scores (drop q113's tercile column)
    val want = graft.queries.LlmPipeline
      .queries("q113_lm_score")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("ll_sum"),
          r.getAs[Long]("ll_mean_fp")))).toMap
    assert(got === want,
      "streamed LM training diverged from q113's in-query training")
    // replay: wiped checkpoint re-delivers under committed batch ids —
    // the merge must skip, counts must not double, scores unchanged
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(scored() === want, "replayed batches double-counted the LM")
  }

  test("cross-run perceptual image dedup: a block-upscaled re-encode " +
    "of an earlier batch's image drops at the store (different BYTES, " +
    "same perceptual hash), fresh images survive, and replay after " +
    "checkpoint loss is a no-op") {
    import spark.implicits._
    import graft.multimodal.Multimodal.{Codec => C}
    val srcDir = java.nio.file.Files.createTempDirectory("img-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("img-out").toString + "/media"
    val store = java.nio.file.Files
      .createTempDirectory("img-store").toString + "/phashes"
    val ckpt = java.nio.file.Files.createTempDirectory("img-ckpt").toString
    def img(seed: Int, scale: Int): Array[Byte] =
      C.encodePng(16 * scale, 16 * scale, (x, y) =>
        ((x / scale) * 7 + (y / scale) * 13 + seed * 31) % 256)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    def drain(): Unit = curationFeed(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      Seq(Streams.imageFingerprint("media_id"),
        Streams.exactDedup(Path(store), "__phash", "media_id")),
      outDir, ckpt).awaitTermination()
    Seq((1L, img(1, 1)), (2L, img(2, 1))).toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
    drain()
    // the upscaled re-encode shares NO bytes with the original — a
    // byte-level store would admit it
    assert(!java.util.Arrays.equals(img(1, 1), img(1, 2)))
    Seq((3L, img(1, 2)), (4L, img(3, 1))).toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
    drain()
    def survivors(): Set[Long] = spark.read
      .schema(schema
        .add("__phash", org.apache.spark.sql.types.StringType)
        .add("content_hash", org.apache.spark.sql.types.StringType))
      .parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors() === Set(1L, 2L, 4L),
      "the perceptual copy must drop; fresh images must survive")
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(survivors() === Set(1L, 2L, 4L),
      "full-history replay must be a no-op")
  }

  test("image curation feed: exact copies drop at the perceptual-hash " +
    "store, a one-box-brightened variant (different hash, Hamming 1) " +
    "drops at the NEAR store, fresh images survive, replay is a no-op") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.{Codec => C}
    val srcDir = tmpDir("imgfeed-src")
    val outDir = tmpDir("imgfeed-out") + "/media"
    val exactStore = tmpDir("imgfeed-exact") + "/phashes"
    val nearStore = tmpDir("imgfeed-near") + "/bands"
    val ckpt = tmpDir("imgfeed-ckpt")
    def base(x: Int, y: Int): Int = (x / 2) * 8 + (y / 2) * 4
    val imgA = C.encodePng(16, 16, base)
    // top-left aHash box brightened 0 -> 48: Hamming 1 from A (the
    // MultimodalSpec law) — a DIFFERENT exact hash, so only the near
    // stage can catch it
    val imgAvar = C.encodePng(16, 16,
      (x, y) => if (x < 2 && y < 2) 48 else base(x, y))
    val imgD = C.encodePng(16, 16, (x, y) => base(15 - x, 15 - y))
    val imgB = C.encodePng(16, 16, (x, y) => (x * 16 + y) % 256)
    // fixture sanity: the variant is Hamming-1 (not 0) from A
    val hs = Multimodal.aHash64(Multimodal.decodeImages(
        Seq(1L -> imgA, 2L -> imgAvar).toDF("media_id", "content")))
      .collect().map(r => r.getLong(0) ->
        Array(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert((0 until 4).map(i =>
      Integer.bitCount(hs(1L)(i) ^ hs(2L)(i))).sum === 1)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    def drain(): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.imageFingerprint("media_id"),
          Streams.exactDedup(Path(exactStore), "__phash", "media_id"),
          Streams.mediaNearDedup(Path(nearStore), "media_id")),
        outDir, ckpt)
        .awaitTermination()
    Seq((1L, imgA), (2L, imgD)).toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
    drain()
    Seq((3L, imgA), (4L, imgAvar), (5L, imgB))
      .toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
    drain()
    val it = org.apache.spark.sql.types.IntegerType
    def survivors(): Set[Long] = spark.read
      .schema(schema.add("band0", it).add("band1", it).add("band2", it)
        .add("band3", it)
        .add("__phash", org.apache.spark.sql.types.StringType)
        .add("content_hash", org.apache.spark.sql.types.StringType))
      .parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors() === Set(1L, 2L, 5L),
      "exact copy and Hamming-1 variant must drop; fresh must survive")
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(survivors() === Set(1L, 2L, 5L),
      "full-history replay must be a no-op")
  }

  test("bucketed image curation feed: same staging through catalog " +
    "tables — exact copy drops at the bucketed phash store, the " +
    "Hamming-1 variant at the bucketed NEAR store, fresh survives, " +
    "replay is a no-op") {
    import spark.implicits._
    import graft.multimodal.Multimodal.{Codec => C}
    val srcDir = tmpDir("imgbk-src")
    val outDir = tmpDir("imgbk-out") + "/media"
    val exactT = "img_feed_exact_t"
    val nearT = "img_feed_near_t"
    for (t <- Seq(exactT, nearT, s"${exactT}_compact_stage",
        s"${nearT}_compact_stage"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val ckpt = tmpDir("imgbk-ckpt")
    try {
      def base(x: Int, y: Int): Int = (x / 2) * 8 + (y / 2) * 4
      val imgA = C.encodePng(16, 16, base)
      val imgAvar = C.encodePng(16, 16,
        (x, y) => if (x < 2 && y < 2) 48 else base(x, y))
      val imgD = C.encodePng(16, 16, (x, y) => base(15 - x, 15 - y))
      val imgB = C.encodePng(16, 16, (x, y) => (x * 16 + y) % 256)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType)))
      def drain(): Unit =
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Seq(Streams.imageFingerprint("media_id"),
            Streams.exactDedup(Bucketed(exactT, 8), "__phash", "media_id"),
            Streams.mediaNearDedup(Bucketed(nearT, 8), "media_id")),
          outDir, ckpt)
          .awaitTermination()
      Seq((1L, imgA), (2L, imgD)).toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
      drain()
      Seq((3L, imgA), (4L, imgAvar), (5L, imgB))
        .toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
      drain()
      val it = org.apache.spark.sql.types.IntegerType
      def survivors(): Set[Long] = spark.read
        .schema(schema.add("band0", it).add("band1", it)
          .add("band2", it).add("band3", it)
          .add("__phash", org.apache.spark.sql.types.StringType)
          .add("content_hash", org.apache.spark.sql.types.StringType))
        .parquet(outDir).select("media_id")
        .collect().map(_.getLong(0)).toSet
      assert(survivors() === Set(1L, 2L, 5L),
        "exact copy and Hamming-1 variant must drop; fresh must survive")
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      drain()
      assert(survivors() === Set(1L, 2L, 5L),
        "full-history replay must be a no-op")
    } finally {
      for (t <- Seq(exactT, nearT, s"${exactT}_compact_stage",
          s"${nearT}_compact_stage"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("gated image curation feed: quality rejects drop before any " +
    "store and are never recorded (a resubmission under relaxed " +
    "thresholds is judged afresh); the near stage still catches a " +
    "retouched variant behind the gate") {
    import spark.implicits._
    import graft.multimodal.Multimodal.{Codec => C}
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    // one law per modality: `a`, its Hamming-1 retouch `aVar`, fresh
    // `b`, and `tiny` — a quality reject under the strict gate but
    // otherwise healthy, so the relaxed gate admits it
    def law(tag: String, gate: Boolean => Streams.Stage,
        a: Array[Byte], aVar: Array[Byte], b: Array[Byte],
        tiny: Array[Byte]): Unit = {
      val srcDir = tmpDir(s"$tag-src")
      val outDir = tmpDir(s"$tag-out") + "/media"
      val exactStore = tmpDir(s"$tag-exact") + "/phashes"
      val nearStore = tmpDir(s"$tag-near") + "/bands"
      val ckpt = tmpDir(s"$tag-ckpt")
      def drain(relaxed: Boolean): Unit =
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Seq(gate(relaxed),
            Streams.exactDedup(Path(exactStore), "__phash", "media_id"),
            Streams.mediaNearDedup(Path(nearStore), "media_id")),
          outDir, ckpt).awaitTermination()
      Seq((1L, a), (2L, tiny)).toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
      drain(relaxed = false)
      Seq((3L, aVar), (4L, b), (5L, tiny))
        .toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
      drain(relaxed = false)
      val it = org.apache.spark.sql.types.IntegerType
      def survivors(): Set[Long] = spark.read
        .schema(schema.add("band0", it).add("band1", it).add("band2", it)
          .add("band3", it)
          .add("__phash", org.apache.spark.sql.types.StringType)
          .add("content_hash", org.apache.spark.sql.types.StringType))
        .parquet(outDir).select("media_id")
        .collect().map(_.getLong(0)).toSet
      assert(survivors() === Set(1L, 4L),
        s"$tag: gate rejects and the near-variant must drop; good fresh " +
          "content must survive")
      // byte-identical resubmission under a relaxed gate: admitted —
      // proof the reject was never recorded in the exact store
      Seq((6L, tiny)).toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b3")
      drain(relaxed = true)
      assert(survivors() === Set(1L, 4L, 6L),
        s"$tag: a gate reject must not poison the perceptual dedup history")
    }
    def base(x: Int, y: Int): Int = (x / 2) * 8 + (y / 2) * 4
    // image: the retouch brightens one aHash box; the reject is 4x4
    // (min dim < 8)
    law("imgg", relaxed => Streams.imageQualityGate("media_id",
        minDim = if (relaxed) 1 else 8),
      C.encodePng(16, 16, base),
      C.encodePng(16, 16, (x, y) => if (x < 2 && y < 2) 48 else base(x, y)),
      C.encodePng(16, 16, (x, y) => (x * 16 + y) % 256),
      C.encodePng(4, 4, (x, y) => 64 + x * 16 + y * 4))
    // audio: the retouch lifts one energy segment; the reject is 80 ms
    // of sound (under 100 ms)
    def lvl(i: Int): Int = if (i / 10 < 32) 100 else 1000
    def wav(n: Int)(f: Int => Int): Array[Byte] =
      C.encodeWavPcm16(Array.tabulate(n)(f), 4000)
    law("audg", relaxed => Streams.audioQualityGate("media_id",
        minDurationMs = if (relaxed) 1L else 100L),
      wav(640)(lvl),
      wav(640)(i => if (i / 10 == 7) 1000 else lvl(i)),
      wav(640)(i => lvl(639 - i)),
      wav(320)(i => if ((i / 5) % 2 == 0) 100 else 1000))
  }

  test("gated bucketed image curation feed: the quality/exact/near " +
    "staging through catalog tables — rejects drop unrecorded (a " +
    "relaxed resubmission is admitted), the near variant drops, fresh " +
    "survives") {
    import spark.implicits._
    import graft.multimodal.Multimodal.{Codec => C}
    val srcDir = tmpDir("imggb-src")
    val outDir = tmpDir("imggb-out") + "/media"
    val exactT = "img_gated_exact_t"
    val nearT = "img_gated_near_t"
    for (t <- Seq(exactT, nearT, s"${exactT}_compact_stage",
        s"${nearT}_compact_stage"))
      spark.sql(s"DROP TABLE IF EXISTS $t")
    val ckpt = tmpDir("imggb-ckpt")
    try {
      def base(x: Int, y: Int): Int = (x / 2) * 8 + (y / 2) * 4
      val imgA = C.encodePng(16, 16, base)
      val imgAvar = C.encodePng(16, 16,
        (x, y) => if (x < 2 && y < 2) 48 else base(x, y))
      val imgB = C.encodePng(16, 16, (x, y) => (x * 16 + y) % 256)
      val tiny = C.encodePng(4, 4, (x, y) => 64 + x * 16 + y * 4)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType)))
      def drain(minDim: Int): Unit =
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Seq(Streams.imageQualityGate("media_id", minDim = minDim),
            Streams.exactDedup(Bucketed(exactT, 8), "__phash", "media_id"),
            Streams.mediaNearDedup(Bucketed(nearT, 8), "media_id")),
          outDir, ckpt).awaitTermination()
      Seq((1L, imgA), (2L, tiny)).toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
      drain(minDim = 8)
      Seq((3L, imgAvar), (4L, imgB), (5L, tiny))
        .toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
      drain(minDim = 8)
      val it = org.apache.spark.sql.types.IntegerType
      def survivors(): Set[Long] = spark.read
        .schema(schema.add("band0", it).add("band1", it)
          .add("band2", it).add("band3", it)
          .add("__phash", org.apache.spark.sql.types.StringType)
          .add("content_hash", org.apache.spark.sql.types.StringType))
        .parquet(outDir).select("media_id")
        .collect().map(_.getLong(0)).toSet
      assert(survivors() === Set(1L, 4L),
        "gate rejects and the near variant must drop; good fresh " +
          "content must survive")
      Seq((6L, tiny)).toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b3")
      drain(minDim = 1)
      assert(survivors() === Set(1L, 4L, 6L),
        "a gate reject must not poison the bucketed dedup history")
    } finally {
      for (t <- Seq(exactT, nearT, s"${exactT}_compact_stage",
          s"${nearT}_compact_stage"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("standalone image NEAR cycle: a Hamming-1 retouch of anything " +
    "ever recorded drops cross-batch (no exact stage), fresh images " +
    "survive, replay is a no-op") {
    import spark.implicits._
    import graft.multimodal.Multimodal.{Codec => C}
    val srcDir = tmpDir("imgnear-src")
    val outDir = tmpDir("imgnear-out") + "/media"
    val store = tmpDir("imgnear-store") + "/bands"
    val ckpt = tmpDir("imgnear-ckpt")
    def base(x: Int, y: Int): Int = (x / 2) * 8 + (y / 2) * 4
    val imgA = C.encodePng(16, 16, base)
    val imgAvar = C.encodePng(16, 16,
      (x, y) => if (x < 2 && y < 2) 48 else base(x, y))
    val imgB = C.encodePng(16, 16, (x, y) => (x * 16 + y) % 256)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    def drain(): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.imageFingerprint("media_id"),
          Streams.mediaNearDedup(Path(store), "media_id")),
        outDir, ckpt).awaitTermination()
    Seq((1L, imgA)).toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
    drain()
    Seq((2L, imgAvar), (3L, imgB)).toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
    drain()
    val it = org.apache.spark.sql.types.IntegerType
    def survivors(): Set[Long] = spark.read
      .schema(schema.add("band0", it).add("band1", it)
        .add("band2", it).add("band3", it))
      .parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors() === Set(1L, 3L),
      "the Hamming-1 retouch must drop without any exact stage")
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(survivors() === Set(1L, 3L),
      "full-history replay must be a no-op")
  }

  test("video curation feed: the q132 container gate stages before " +
    "the exact content store — corrupt/tiny/short containers drop " +
    "unrecorded (relaxed resubmission admitted), a byte-identical " +
    "re-upload drops cross-batch, fresh content survives") {
    import spark.implicits._
    import graft.multimodal.Multimodal.{Codec => C}
    val srcDir = tmpDir("vidfeed-src")
    val outDir = tmpDir("vidfeed-out") + "/media"
    val store = tmpDir("vidfeed-store") + "/vhashes"
    val ckpt = tmpDir("vidfeed-ckpt")
    val good = C.encodeMp4Meta(1000, 30000L, 640, 360)
    val tiny = C.encodeMp4Meta(1000, 30000L, 32, 24)
    val short = C.encodeMp4Meta(1000, 500L, 640, 360)
    val fresh = C.encodeMp4Meta(1000, 45000L, 1280, 720)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    def drain(minDim: Int): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.videoContainerGate("media_id", minDim = minDim),
          Streams.exactDedup(Path(store), "__vhash", "media_id")),
        outDir, ckpt)
        .awaitTermination()
    Seq((1L, good), (2L, tiny), (3L, "garbage bytes".getBytes))
      .toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
    drain(minDim = 64)
    Seq((4L, good), (5L, fresh), (6L, short))
      .toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
    drain(minDim = 64)
    def survivors(): Set[Long] = spark.read
      .schema(schema
        .add("__vhash", org.apache.spark.sql.types.StringType)
        .add("content_hash", org.apache.spark.sql.types.StringType))
      .parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors() === Set(1L, 5L),
      "gate rejects and the re-upload must drop; fresh must survive")
    // the tiny reject was never recorded: admitted under a relaxed gate
    Seq((7L, tiny)).toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b3")
    drain(minDim = 8)
    assert(survivors() === Set(1L, 5L, 7L),
      "a gate reject must not poison the content-dedup history")
  }

  test("standalone video NEAR cycle: a re-muxed copy and a 1-frame " +
    "re-edit of anything ever recorded drop cross-batch (no bitstream " +
    "decode anywhere), a different cut survives, replay is a no-op") {
    import spark.implicits._
    import graft.multimodal.Multimodal.{Codec => C}
    val srcDir = tmpDir("vidnear-src")
    val outDir = tmpDir("vidnear-out") + "/media"
    val store = tmpDir("vidnear-store") + "/bands"
    val ckpt = tmpDir("vidnear-ckpt")
    // the MultimodalSpec two-level geometry: 64 uniform frames whose
    // profile bits sit far from the mean
    def base(i: Int): Int = if (i / 10 < 32) 100 else 1000
    val n = 640
    def clip(sz: Int => Int, pad: Int = 0): Array[Byte] =
      C.encodeMp4WithSamples(600, n * 400L, 640, 360,
        Array.tabulate(n)(sz), remuxPadding = pad)
    val orig = clip(base)
    val remux = clip(base, pad = 20) // byte-different, same stsz
    val reEdit = clip(i => if (i / 10 == 7) 1000 else base(i)) // Ham 1
    val otherCut = clip(i => base(n - 1 - i)) // Ham 64
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    def drain(): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.videoFingerprint("media_id"),
          Streams.mediaNearDedup(Path(store), "media_id")),
        outDir, ckpt).awaitTermination()
    Seq((1L, orig)).toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
    drain()
    Seq((2L, remux), (3L, reEdit), (4L, otherCut))
      .toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
    drain()
    val it = org.apache.spark.sql.types.IntegerType
    def survivors(): Set[Long] = spark.read
      .schema(schema.add("band0", it).add("band1", it)
        .add("band2", it).add("band3", it))
      .parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors() === Set(1L, 4L),
      "the re-mux (Hamming 0) and the re-edit (Hamming 1) must both " +
        "drop against the recorded original")
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(survivors() === Set(1L, 4L),
      "full-history replay must be a no-op")
  }

  test("staged gated video feed: the q132 gate stages before the " +
    "perceptual stores — rejects drop unrecorded, a re-muxed re-upload " +
    "drops at the EXACT fingerprint stage, a re-edit at the NEAR " +
    "stage, fresh content survives") {
    import spark.implicits._
    import graft.multimodal.Multimodal.{Codec => C}
    def base(i: Int): Int = if (i / 10 < 32) 100 else 1000
    val n = 640
    def clip(sz: Int => Int, pad: Int = 0, w: Int = 640,
        h: Int = 360, dur: Long = n * 400L): Array[Byte] =
      C.encodeMp4WithSamples(600, dur, w, h,
        Array.tabulate(n)(sz), remuxPadding = pad)
    val orig = clip(base)
    val tiny = clip(base, w = 32, h = 24) // gate reject: min dim
    val short = clip(base, dur = 300L)    // gate reject: 500 ms
    val remux = clip(base, pad = 20)      // exact-stage duplicate
    val reEdit = clip(i => if (i / 10 == 7) 1000 else base(i)) // near
    val fresh = clip(i => base(n - 1 - i))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    // one law per store layout: path directories, then bucketed
    // catalog tables
    val tables = Seq("vid_gated_exact_t", "vid_gated_near_t")
    def dropTables(): Unit = for (t <- tables; x <- Seq("", "_compact_stage"))
      spark.sql(s"DROP TABLE IF EXISTS $t$x")
    dropTables()
    try for ((tag, exact, near) <- Seq(
        ("vidgated", Path(tmpDir("vidgated-exact") + "/hashes"),
          Path(tmpDir("vidgated-near") + "/bands")),
        ("vidgatedb", Bucketed(tables(0), 8), Bucketed(tables(1), 8)))) {
      val srcDir = tmpDir(s"$tag-src")
      val outDir = tmpDir(s"$tag-out") + "/media"
      val ckpt = tmpDir(s"$tag-ckpt")
      def drain(): Unit =
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Seq(Streams.videoQualityGate("media_id"),
            Streams.exactDedup(exact, "__phash", "media_id"),
            Streams.mediaNearDedup(near, "media_id")),
          outDir, ckpt).awaitTermination()
      Seq((1L, orig), (2L, tiny), (3L, "garbage".getBytes))
        .toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
      drain()
      Seq((4L, remux), (5L, reEdit), (6L, fresh), (7L, short))
        .toDF("media_id", "content")
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
      drain()
      val it = org.apache.spark.sql.types.IntegerType
      def survivors(): Set[Long] = spark.read
        .schema(schema.add("band0", it).add("band1", it)
          .add("band2", it).add("band3", it)
          .add("__phash", org.apache.spark.sql.types.StringType)
          .add("content_hash", org.apache.spark.sql.types.StringType))
        .parquet(outDir).select("media_id")
        .collect().map(_.getLong(0)).toSet
      assert(survivors() === Set(1L, 6L),
        s"$tag: gate rejects, the re-mux, and the re-edit must drop; " +
          "only the original and the genuinely different cut survive")
    } finally dropTables()
  }

  test("cross-run audio dedup: a volume-normalized re-encode drops at " +
    "the store; a distinct recording survives") {
    import spark.implicits._
    import graft.multimodal.Multimodal.{Codec => C}
    val srcDir = java.nio.file.Files.createTempDirectory("aud-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("aud-out").toString + "/media"
    val store = java.nio.file.Files
      .createTempDirectory("aud-store").toString + "/phashes"
    val ckpt = java.nio.file.Files.createTempDirectory("aud-ckpt").toString
    def wav(f: Int => Int): Array[Byte] =
      C.encodeWavPcm16(Array.tabulate(640)(f), 8000)
    def base(i: Int): Int = if (i / 10 < 32) 100 else 1000
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    def drain(): Unit = curationFeed(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      Seq(Streams.audioFingerprint("media_id"),
        Streams.exactDedup(Path(store), "__phash", "media_id")),
      outDir, ckpt).awaitTermination()
    Seq((1L, wav(base))).toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
    drain()
    Seq((2L, wav(i => base(i) * 2)),
        (3L, wav(i => base(639 - i))))
      .toDF("media_id", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
    drain()
    val survivors = spark.read
      .schema(schema
        .add("__phash", org.apache.spark.sql.types.StringType)
        .add("content_hash", org.apache.spark.sql.types.StringType))
      .parquet(outDir).select("media_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(1L, 3L),
      "the loudness-scaled copy must drop; the distinct recording " +
        "must survive")
  }

  test("incrementally-maintained quality model: streamed stats over " +
    "micro-batches derive weights BIT-IDENTICAL to q110's one-shot " +
    "training, scoring matches q111, and replay after checkpoint loss " +
    "is idempotent") {
    val docs = Tables.load(spark, sf, "documents")
    val srcDir = java.nio.file.Files.createTempDirectory("qm-src").toString
    val statsPath = java.nio.file.Files
      .createTempDirectory("qm-stats").toString + "/quality"
    val ckpt = java.nio.file.Files.createTempDirectory("qm-ckpt").toString
    val schema = docs.schema
    def drain(): Unit = graft.streaming.Streams.maintainQualityModel(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      statsPath, ckpt).awaitTermination()
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write
      .mode("overwrite").parquet(s"$srcDir/b1")
    drain()
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write
      .mode("overwrite").parquet(s"$srcDir/b2")
    drain()
    def weights(): Set[(Long, Long, Long, Long)] =
      graft.streaming.Streams.qualityWeights(spark, statsPath)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    val got = weights()
    val want = graft.queries.LlmPipeline
      .queries("q110_quality_model")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === want,
      "streamed quality-model stats diverged from q110's training")
    // the scoring face: snapshot weights + self-calibrated threshold
    // over the training corpus == q111 (minus its label audit column)
    val gotScores = graft.streaming.Streams.scoreQuality(docs, statsPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    val wantScores = graft.queries.LlmPipeline
      .queries("q111_quality_model_score")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet
    assert(gotScores === wantScores,
      "scoring against the streamed snapshot diverged from q111")
    // replay: wiped checkpoint re-delivers under committed batch ids
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(weights() === want,
      "replayed batches double-counted the quality model")
  }

  test("model-refresh pin: not-due calls leave the pinned snapshot " +
    "untouched; a due call adopts the latest committed version and " +
    "releases the old barrier") {
    val docs = Tables.load(spark, sf, "documents")
    val lmSrc = java.nio.file.Files.createTempDirectory("rf-src").toString
    val statsPath = java.nio.file.Files
      .createTempDirectory("rf-stats").toString + "/bigrams"
    val ckpt = java.nio.file.Files.createTempDirectory("rf-ckpt").toString
    def drain(): Unit = graft.streaming.Streams.maintainBigramLm(
      spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true").parquet(lmSrc),
      statsPath, ckpt).awaitTermination()
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write
      .mode("overwrite").parquet(s"$lmSrc/b1")
    drain()
    val model = new java.util.concurrent.atomic.AtomicReference(
      graft.operators.Exec.materialize(
        graft.streaming.Streams.readTermStats(spark, statsPath)))
    val rowsA = model.get().count()
    // the snapshot advances while the pin holds version A
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write
      .mode("overwrite").parquet(s"$lmSrc/b2")
    drain()
    val rowsAB = graft.streaming.Streams.readTermStats(spark, statsPath)
      .count()
    assert(rowsAB > rowsA, "the advanced snapshot must grow the vocab")
    // n = 0 (stream start) and off-cadence n are never due
    graft.streaming.Streams.refreshPinnedModel(model, spark, statsPath,
      0L, 2)
    graft.streaming.Streams.refreshPinnedModel(model, spark, statsPath,
      1L, 2)
    assert(model.get().count() === rowsA,
      "a not-due refresh must not touch the pin")
    // every = 0 disables the leg entirely
    graft.streaming.Streams.refreshPinnedModel(model, spark, statsPath,
      2L, 0)
    assert(model.get().count() === rowsA,
      "refresh fired with the leg disabled")
    // due: adopt the latest committed version
    graft.streaming.Streams.refreshPinnedModel(model, spark, statsPath,
      2L, 2)
    assert(model.get().count() === rowsAB,
      "a due refresh must adopt the advanced snapshot")
    graft.operators.Exec.release(model.get())
  }

  test("LM-gated curation feed: below-threshold documents drop before " +
    "any store probe and are never recorded; survivors flow through " +
    "the dedup stores (the CCNet composition, streamed)") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val lmSrc = java.nio.file.Files.createTempDirectory("lmg-lmsrc").toString
    val statsPath = java.nio.file.Files
      .createTempDirectory("lmg-stats").toString + "/bigrams"
    val lmCkpt = java.nio.file.Files
      .createTempDirectory("lmg-lmckpt").toString
    val srcDir = java.nio.file.Files.createTempDirectory("lmg-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("lmg-out").toString + "/docs"
    val exactStore = java.nio.file.Files
      .createTempDirectory("lmg-exact").toString + "/hashes"
    val nearStore = java.nio.file.Files
      .createTempDirectory("lmg-near").toString + "/bands"
    val ckpt = java.nio.file.Files.createTempDirectory("lmg-ckpt").toString
    // 1: train the LM continuously over the corpus
    docs.coalesce(1).write.mode("overwrite").parquet(s"$lmSrc/b1")
    graft.streaming.Streams.maintainBigramLm(
      spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true").parquet(lmSrc),
      statsPath, lmCkpt).awaitTermination()
    // 2: a median threshold over the snapshot's own scores
    val scores = graft.streaming.Streams.scoreLm(docs, statsPath)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("ll_mean_fp"))
      .toMap
    val cut = scores.values.toSeq.sorted.apply(scores.size / 2)
    val wantKept = scores.filter(_._2 >= cut).keySet
    assert(wantKept.nonEmpty && wantKept.size < scores.size,
      "the median cut must split the corpus")
    // 3: feed the corpus + an exact dup of a high-scoring doc
    val hiId = wantKept.head
    val hiText = docs.filter(col("doc_id") === hiId)
      .collect().head.getAs[String]("text")
    docs.select("doc_id", "text")
      .union(Seq((900001L, hiText)).toDF("doc_id", "text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/d1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val (lmGate, releaseModel) =
      Streams.bigramLmGate("text", "doc_id", statsPath, cut)
    curationFeed(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      Seq(lmGate, Streams.exactDedup(Path(exactStore), "text", "doc_id"),
        Streams.nearDedup(Path(nearStore), "text", "doc_id")),
      outDir, ckpt).awaitTermination()
    releaseModel()
    val survivors = spark.read
      .schema(schema.add("content_hash",
        org.apache.spark.sql.types.StringType))
      .parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // gate semantics: exactly the at-or-above-cut docs, minus the
    // within-batch duplicate (min-id keeper)
    assert(survivors === wantKept,
      "survivors must be exactly the above-cut, deduplicated set")
    assert(!survivors.contains(900001L),
      "the exact duplicate slipped past the store stage")
    // rejects were never recorded: a below-cut text probes as NEW
    val lowText = docs
      .filter(col("doc_id") === scores.filter(_._2 < cut).keys.head)
      .collect().head.getAs[String]("text")
    assert(graft.ingest.DedupStore.newUnique(
        Seq((999999L, lowText)).toDF("doc_id", "text"),
        "text", "doc_id", exactStore).count() === 1L,
      "a gate-rejected document was recorded as seen")
  }

  test("LID-gated curation feed: out-of-language docs drop before any " +
    "store probe and are never recorded; in-language docs dedup " +
    "through the stores; gate ≡ batch keepLangs; replay is a no-op") {
    import spark.implicits._
    val docs = graft.queries.LlmPipeline
      .langMarkedOf(Tables.load(spark, sf, "documents"))
      .select("doc_id", "text", "lang")
    val dims = graft.queries.LlmPipeline.LangIdDims
    // models trained OFFLINE on the labeled marked corpus
    val model = graft.operators.LangId.train(docs, "text", "lang", dims)
    val dense = graft.operators.LangId.collectModels(model, dims)
    val keep = Set("en", "de")
    // the BATCH side of the law
    val wantKept = graft.operators.LangId
      .keepLangs(docs, "text", dense, dims, keep)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val allIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wantKept.nonEmpty && wantKept.size < allIds.size,
      "the keep-set must split the corpus")
    val srcDir = tmpDir("lidg-src")
    val outDir = tmpDir("lidg-out") + "/docs"
    val exactStore = tmpDir("lidg-exact") + "/hashes"
    val nearStore = tmpDir("lidg-near") + "/bands"
    val hiId = wantKept.head
    val hiText = docs.filter(col("doc_id") === hiId)
      .collect().head.getAs[String]("text")
    docs.select("doc_id", "text")
      .union(Seq((900001L, hiText)).toDF("doc_id", "text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/d1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def drain(ckpt: String): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.languageGate("text", dense, dims, keep),
          Streams.exactDedup(Path(exactStore), "text", "doc_id"),
          Streams.nearDedup(Path(nearStore), "text", "doc_id")),
        outDir, ckpt).awaitTermination()
    drain(tmpDir("lidg-ckpt1"))
    def survivors(): Set[Long] = spark.read
      .schema(schema.add("content_hash",
        org.apache.spark.sql.types.StringType))
      .parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // streamed gate ≡ batch keepLangs, minus the within-batch dup
    assert(survivors() === wantKept,
      "streamed LID gate drifted from the batch keepLangs set")
    assert(!survivors().contains(900001L),
      "the exact duplicate slipped past the store stage")
    // rejects never recorded: an out-of-language text probes as NEW
    val outId = (allIds -- wantKept).head
    val outText = docs.filter(col("doc_id") === outId)
      .collect().head.getAs[String]("text")
    assert(graft.ingest.DedupStore.newUnique(
        Seq((999999L, outText)).toDF("doc_id", "text"),
        "text", "doc_id", exactStore).count() === 1L,
      "a gate-rejected document was recorded as seen")
    // replay after checkpoint loss: no-op
    drain(tmpDir("lidg-ckpt2"))
    assert(survivors() === wantKept,
      "full-history replay must be a no-op")
  }

  test("ULM-gated curation feed: gating from the maintained term-count " +
    "snapshot equals the batch scoreDocs cut (streamed ≡ batch), " +
    "below-cut docs drop before any store and are never recorded, " +
    "survivors dedup through the stores, replay is a no-op") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val tcSrc = tmpDir("ulmg-tcsrc")
    val statsPath = tmpDir("ulmg-stats") + "/terms"
    val srcDir = tmpDir("ulmg-src")
    val outDir = tmpDir("ulmg-out") + "/docs"
    val exactStore = tmpDir("ulmg-exact") + "/hashes"
    val nearStore = tmpDir("ulmg-near") + "/bands"
    // 1: maintain the term counts the vocab trains from
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tcSrc/b1")
    graft.streaming.Streams.maintainTermCounts(
      spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true").parquet(tcSrc),
      statsPath, tmpDir("ulmg-tcckpt")).awaitTermination()
    // 2: the BATCH side of the law — scoreDocs under the snapshot
    // vocab, cut at the median
    val vocab = graft.streaming.Streams
      .ulmVocabFromSnapshot(spark, statsPath, 4, 64, 1)
    val scores = graft.operators.Ulm.scoreDocs(docs, "text", vocab, 4)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("ll_mean_fp"))
      .toMap
    val cut = scores.values.toSeq.sorted.apply(scores.size / 2)
    val wantKept = scores.filter(_._2 >= cut).keySet
    assert(wantKept.nonEmpty && wantKept.size < scores.size,
      "the median cut must split the corpus")
    // 3: feed the corpus + an exact dup of a high-scoring doc
    val hiId = wantKept.head
    val hiText = docs.filter(col("doc_id") === hiId)
      .collect().head.getAs[String]("text")
    docs.select("doc_id", "text")
      .union(Seq((900001L, hiText)).toDF("doc_id", "text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/d1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def drain(ckpt: String): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.ulmGateFromSnapshot("text", "doc_id", statsPath, cut,
            maxLen = 4, maxVocab = 64, emRounds = 1),
          Streams.exactDedup(Path(exactStore), "text", "doc_id"),
          Streams.nearDedup(Path(nearStore), "text", "doc_id")),
        outDir, ckpt)
        .awaitTermination()
    drain(tmpDir("ulmg-ckpt1"))
    def survivors(): Set[Long] = spark.read
      .schema(schema.add("content_hash",
        org.apache.spark.sql.types.StringType))
      .parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // streamed ≡ batch: exactly the at-or-above-cut docs, minus the
    // within-batch duplicate (min-id keeper)
    assert(survivors() === wantKept,
      "streamed gate drifted from the batch scoreDocs cut")
    assert(!survivors().contains(900001L),
      "the exact duplicate slipped past the store stage")
    // rejects were never recorded: a below-cut text probes as NEW
    val lowText = docs
      .filter(col("doc_id") === scores.filter(_._2 < cut).keys.head)
      .collect().head.getAs[String]("text")
    assert(graft.ingest.DedupStore.newUnique(
        Seq((999999L, lowText)).toDF("doc_id", "text"),
        "text", "doc_id", exactStore).count() === 1L,
      "a gate-rejected document was recorded as seen")
    // replay after checkpoint loss: committed batches skip — no-op
    drain(tmpDir("ulmg-ckpt2"))
    assert(survivors() === wantKept,
      "full-history replay must be a no-op")
  }

  test("streamed corpus export: any micro-batching selects exactly the " +
    "one-shot mix into the same shards, the manifest accumulates from " +
    "committed read-backs (zero-survivor batches included), and replay " +
    "after checkpoint loss is a no-op") {
    import spark.implicits._
    val CE = graft.operators.CorpusExport
    val srcDir = java.nio.file.Files.createTempDirectory("exp-src").toString
    val outS = java.nio.file.Files
      .createTempDirectory("exp-stream").toString + "/out"
    val outB = java.nio.file.Files
      .createTempDirectory("exp-batch").toString + "/out"
    val ckpt = java.nio.file.Files.createTempDirectory("exp-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "lang", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    val b1 = (1L to 60L).map(i =>
      (i, if (i % 3 == 0) "fr" else "en", s"document number $i"))
    val b2 = (61L to 120L).map(i =>
      (i, if (i % 3 == 0) "fr" else "en", s"document number $i"))
    val all = (b1 ++ b2).toDF("doc_id", "lang", "text")
    // thresholds are an INPUT (computed on a snapshot in production) —
    // the stream and the one-shot must consume the same ones
    val th = CE.uniformMixThresholds(all, "lang", rate = 0.5)
    def drain(): Unit = graft.streaming.Streams.exportMixStream(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      "lang", "doc_id", th, outS, ckpt, numShards = 4)
      .awaitTermination()
    def streamedSet(): Set[(Long, Long)] =
      spark.read.parquet(s"$outS/data")
        .select(col("doc_id"), col("shard").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def manifest(): Set[(String, Long, Long)] =
      graft.streaming.Streams.readExportManifest(spark, outS)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    deliver("b1", b1)
    drain()
    deliver("b2", b2)
    drain() // second AvailableNow pass sees only the new files
    // one-shot reference on the SAME corpus + thresholds
    val mB = CE.materialize(all, "lang", "doc_id", th, outB,
      numShards = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val oneShot = spark.read.parquet(s"$outB/data")
      .select(col("doc_id"), col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = streamedSet()
    assert(got === oneShot,
      "streamed export must land the one-shot document set in the " +
        "same shards")
    assert(got.nonEmpty && got.size < 120,
      "the mix must select a strict, non-empty subset")
    assert(manifest() === mB,
      "accumulated manifest must equal the one-shot manifest")
    // a zero-survivor batch (a group outside the thresholds) commits
    // an empty directory and leaves the manifest unchanged
    deliver("b3", Seq((200L, "de", "unmixed language")))
    drain()
    assert(streamedSet() === got && manifest() === mB,
      "a zero-survivor batch must change nothing")
    // at-least-once replay: wipe the checkpoint so the next run
    // replays the same files under an already-committed batch id —
    // both the data write and the manifest merge must skip
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(streamedSet() === got && manifest() === mB,
      "replayed committed batches must be a no-op")
  }

  test("streamed WEIGHTED corpus export: any micro-batching lands the " +
    "one-shot weighted selection in the same shards") {
    import spark.implicits._
    val CE = graft.operators.CorpusExport
    val srcDir = tmpDir("wexp-src")
    val outS = tmpDir("wexp-stream") + "/out"
    val ckpt = tmpDir("wexp-ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("weight_ppm",
        org.apache.spark.sql.types.LongType)))
    def rows(r: Range): Seq[(Long, String, Long)] = r.map(i =>
      (i.toLong, if (i % 3 == 0) "fr" else "en",
        1000000L / (1L + i % 4)))
    val all = rows(1 to 120).toDF("doc_id", "lang", "weight_ppm")
    val th = CE.uniformMixThresholds(all, "lang", rate = 0.7)
    rows(1 to 60).toDF("doc_id", "lang", "weight_ppm").coalesce(1)
      .write.mode("overwrite").parquet(s"$srcDir/b1")
    rows(61 to 120).toDF("doc_id", "lang", "weight_ppm").coalesce(1)
      .write.mode("overwrite").parquet(s"$srcDir/b2")
    graft.streaming.Streams.exportMixStreamWeighted(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      "lang", "doc_id", "weight_ppm", th, outS, ckpt, numShards = 4)
      .awaitTermination()
    val got = spark.read.parquet(s"$outS/data")
      .select(col("doc_id"), col("shard").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = CE.selectAndShardWeighted(all, "lang", "doc_id",
        "weight_ppm", th, 4)
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === oneShot,
      "streamed weighted export must land the one-shot set and shards")
    // weighting discriminates: some docs the unweighted mix keeps are cut
    val unweighted = CE.selectAndShard(all, "lang", "doc_id", th, 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.map(_._1).subsetOf(unweighted) &&
      got.size < unweighted.size, "fixture lost discrimination")
  }

  test("streamed cross-run dedup through the store: every batch drops " +
    "everything ever seen; a full replay neither duplicates survivors " +
    "nor loses hashes") {
    import spark.implicits._
    for (form <- Seq(graft.ingest.HashForm.Md5,
        graft.ingest.HashForm.Xx)) {
      val srcDir = java.nio.file.Files
        .createTempDirectory("dedup-src").toString
      val outDir = java.nio.file.Files
        .createTempDirectory("dedup-out").toString + "/docs"
      val store = java.nio.file.Files
        .createTempDirectory("dedup-store").toString + "/hashes"
      val ckpt = java.nio.file.Files
        .createTempDirectory("dedup-ckpt").toString
      // an xxh64 store declared before the feed starts: the stage's
      // content_hash column takes the store's persisted type
      if (form == graft.ingest.HashForm.Xx)
        graft.ingest.DedupStore.recordHashes(Seq.empty[(Long, String)]
          .toDF("doc_id", "text"), "text", store, hashForm = form)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def deliver(name: String, rows: Seq[(Long, String)]): Unit =
        rows.toDF("doc_id", "text").coalesce(1).write
          .mode("overwrite").parquet(s"$srcDir/$name")
      def drain(): Unit = curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.exactDedup(Path(store), "text", "doc_id")),
        outDir, ckpt).awaitTermination()
      def survivors(): Seq[(Long, String)] = spark.read.parquet(outDir)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      // batch 1: one internal formatting-variant duplicate
      deliver("b1", Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "ALPHA  beta")))
      drain()
      assert(survivors() === Seq((1L, "alpha beta"), (2L, "gamma")))
      // a maintenance pass builds the Bloom sidecar mid-stream: later
      // micro-batches take the bloom fast path with identical answers
      assert(graft.ingest.DedupStore.buildBloomSidecar(spark, store) === 2L)
      // batch 2: one cross-batch duplicate, one genuinely new
      deliver("b2", Seq((9L, "GAMMA"), (10L, "delta")))
      drain()
      assert(survivors() === Seq((1L, "alpha beta"), (2L, "gamma"),
        (10L, "delta")))
      // outDir reads as a batch-partitioned table
      assert(spark.read.parquet(outDir).columns.contains("batch"))
      // RETRACTION mid-stream (while checkpoint and outDir are still one
      // unit — batch ids must not collide with committed directories):
      // take down "gamma"; the next micro-batch's formatting variant is
      // re-admitted (the probe subtracts the live tombstone — no
      // compaction needed first), while "delta" stays suppressed
      graft.ingest.DedupStore.retract(
        Seq((0L, "gamma")).toDF("doc_id", "text"), "text", store)
      deliver("b3", Seq((20L, "GaMMa"), (21L, "delta")))
      drain()
      assert(survivors() === Seq((1L, "alpha beta"), (2L, "gamma"),
        (10L, "delta"), (20L, "GaMMa")),
        "retracted content was not re-admitted by the stream")
      // b3's re-record stays MASKED while the tombstone is pending (the
      // documented re-admission contract: a pending tombstone subtracts
      // every record of its key, old or new, until compaction)
      assert(graft.ingest.DedupStore.newUnique(
        Seq((99L, "GAMMA")).toDF("doc_id", "text"),
        "text", "doc_id", store).count() === 1)
      // full-history replay (checkpoint wiped): committed batch dirs are
      // skipped — survivors unchanged, hashes re-recorded not lost
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      drain()
      assert(survivors() === Seq((1L, "alpha beta"), (2L, "gamma"),
        (10L, "delta"), (20L, "GaMMa")))
      // compaction: one row per unique content MINUS the pending gamma
      // tombstone (both the original record and b3's re-record drop —
      // alpha-beta and delta remain), tombstone cleared with it
      graft.ingest.DedupStore.compactStore(spark, store)
      assert(spark.read.parquet(store).count() === 2)
      // the store still suppresses the never-retracted content…
      assert(graft.ingest.DedupStore.newUnique(
        Seq((99L, "delta"), (100L, "alpha  BETA")).toDF("doc_id", "text"),
        "text", "doc_id", store).count() === 0)
      // …and the retracted key records FRESH now that the tombstone is
      // gone — the full takedown → re-admission lifecycle
      graft.ingest.DedupStore.recordHashes(
        Seq((30L, "gamma")).toDF("doc_id", "text"), "text", store)
      assert(graft.ingest.DedupStore.newUnique(
        Seq((99L, "GAMMA")).toDF("doc_id", "text"),
        "text", "doc_id", store).count() === 0)
  
    }
  }

  test("streaming IVF index ingest: appended vectors land in the list " +
    "a rebuild would choose and are immediately probeable") {
    import spark.implicits._
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = graft.operators.KMeans.trainCollected(e, 1L to 8L, 1)
    val root = java.nio.file.Files.createTempDirectory("ivf-stream")
      .toString + "/index"
    val srcDir = java.nio.file.Files
      .createTempDirectory("ivf-stream-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("ivf-stream-ckpt").toString
    graft.operators.AnnIndex.writeIndex(e, cents, root)
    val gen = graft.operators.AnnIndex.current(spark, root)
    val dir = gen.dir
    val before = spark.read.parquet(dir).count()
    // new corpus rows: exact copies of two existing vectors under fresh
    // ids — their list assignment and top-rank placement are known
    val q0 = e.filter(col("vec_id") === 0).collect()(0)
      .getSeq[Double](1)
    val q7 = e.filter(col("vec_id") === 7).collect()(0)
      .getSeq[Double](1)
    Seq((100000L, q0), (100001L, q7)).toDF("vec_id", "v")
      .coalesce(1).write.parquet(s"$srcDir/delivery1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    graft.streaming.Streams.indexIngestStreamVersioned(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      root, ckpt).awaitTermination()
    assert(spark.read.parquet(dir).count() === before + 2)
    // the streamed copy of vector 0 sits in the same list as vector 0
    // (one assignment rule) …
    val lists = spark.read.parquet(dir)
      .filter(col("vec_id").isin(0L, 100000L))
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lists(100000L) === lists(0L))
    // … and an identical-vector query now finds the streamed row at a
    // top rank (cosine 1.0; tie broken by vec_id puts the original
    // first, the streamed copy immediately after)
    val top = graft.operators.AnnIndex
      .topK(spark, gen, q0.toArray, k = 2, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top === Seq(0L, 100000L), s"got $top")
    // a foreachBatch replay re-appends its rows (at-least-once); the
    // documented maintenance pairing — rewriteInPlace(dropDuplicates on
    // vec_id) AT THE GENERATION DIRECTORY, which recurses into the cid=
    // leaves —
    // restores one row per vector without changing any answer
    graft.operators.AnnIndex.assignByCosine(
      spark.read.parquet(s"$srcDir/delivery1"), cents)
      .write.mode("append").partitionBy("cid").parquet(dir)
    assert(spark.read.parquet(dir).count() === before + 4) // dup rows
    val (nBefore, nAfter) = graft.layout.Layout.rewriteInPlace(
      spark, dir, 1L << 20)(_.dropDuplicates("vec_id"))
    assert(nBefore > 0, "root-level rewrite must see the leaf files, " +
      "not return the empty-root no-op")
    assert(nAfter <= nBefore)
    assert(spark.read.parquet(dir).count() === before + 2)
    assert(graft.operators.AnnIndex
      .topK(spark, gen, q0.toArray, k = 2, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 100000L))
  }

  test("streaming ingest into the VERSIONED index: batches land in " +
    "the current generation with its own centroids, survive a " +
    "retrain into the next generation, and later batches follow the " +
    "swap") {
    import spark.implicits._
    val A = graft.operators.AnnIndex
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = graft.operators.KMeans.trainCollected(e, 1L to 8L, 1)
    val root = java.nio.file.Files.createTempDirectory("ivf-vstream")
      .toString + "/index"
    val srcDir = java.nio.file.Files
      .createTempDirectory("ivf-vstream-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("ivf-vstream-ckpt").toString
    val g1 = A.writeIndex(e, cents, root)
    val before = spark.read.parquet(s"$root/$g1").count()
    val q0 = e.filter(col("vec_id") === 0).collect()(0).getSeq[Double](1)
    Seq((100000L, q0)).toDF("vec_id", "v")
      .coalesce(1).write.parquet(s"$srcDir/delivery1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    def drain(): Unit = graft.streaming.Streams
      .indexIngestStreamVersioned(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        root, ckpt).awaitTermination()
    drain()
    // the appended copy landed in generation 1 and is probeable there
    assert(spark.read.parquet(s"$root/$g1").count() === before + 1)
    assert(A.topK(spark, A.current(spark, root), q0.toArray, k = 2, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 100000L))
    // retrain: the new generation is built from generation 1's vectors
    // INCLUDING the streamed append — nothing recorded is lost
    val g2 = A.retrain(spark, root, iters = 1)
    assert(spark.read.parquet(s"$root/$g2").count() === before + 1)
    assert(A.topK(spark, A.current(spark, root), q0.toArray, k = 2, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 100000L))
    // a later delivery follows the swap: rows land under generation 2,
    // generation 1 is untouched
    val g1Count = spark.read.parquet(s"$root/$g1").count()
    Seq((100001L, q0)).toDF("vec_id", "v")
      .coalesce(1).write.parquet(s"$srcDir/delivery2")
    drain()
    assert(spark.read.parquet(s"$root/$g2").count() === before + 2,
      "post-swap delivery missed the current generation")
    assert(spark.read.parquet(s"$root/$g1").count() === g1Count,
      "post-swap delivery leaked into the retired generation")
    assert(A.topK(spark, A.current(spark, root), q0.toArray, k = 3, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 100000L, 100001L))
  }

  test("maintained Lloyd stats: the generation seeds its own stats, " +
    "the appender folds each batch exactly-once (checkpoint-loss " +
    "replay is a stats no-op even as rows re-append), and " +
    "retrainFromStats steps the centroids bit-identically to a full " +
    "trainFrom round without the update step re-scanning the corpus") {
    import spark.implicits._
    val A = graft.operators.AnnIndex
    val K = graft.operators.KMeans
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val e0 = e.filter(col("vec_id") < 60)
    val d1 = e.filter(col("vec_id").between(60, 69))
    val d2 = e.filter(col("vec_id").between(70, 79))
    val fed = e.filter(col("vec_id") < 80)
    val fedIds = fed.select("vec_id").as[Long].collect().sorted.toSeq
    val cents = K.trainCollected(e0, 1L to 6L, 1)
    val centsDf = cents.map { case (c, v) => (c, v.toSeq) }
      .toDF("cid", "cv")
    def cellMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toInt)
        -> (r.getLong(2), r.getLong(3))).toMap
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    // both appenders run one batch cycle; the gated one's first
    // delivery also carries a planted copy of seeded vector 5, which
    // its gate drops — so its stats must cover exactly the rows it
    // appended, not the raw batch
    val planted = e.filter(col("vec_id") === 5L)
      .select((col("vec_id") + 900000L).as("vec_id"), col("v"))
    for (gated <- Seq(false, true)) {
      val label = if (gated) "gated appender" else "plain appender"
      val root = tmpDir("ivf-lloyd") + "/index"
      val srcDir = tmpDir("ivf-lloyd-src")
      val ckpt = tmpDir("ivf-lloyd-ckpt")
      val g1 = A.writeIndex(e0, cents, root, lloydStats = true)
      // seed law: the generation's stats are its own vectors' statsOf
      assert(cellMap(A.readLloydStats(spark, A.current(spark, root)))
        === cellMap(K.statsOf(K.assign(e0, centsDf))), label)
      def drain(): Unit = {
        val in = spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir)
        (if (gated) graft.streaming.Streams
          .semanticDedupIngestStream(in, root, ckpt, tau = 0.99)
        else graft.streaming.Streams
          .indexIngestStreamVersioned(in, root, ckpt)).awaitTermination()
      }
      (if (gated) d1.unionByName(planted) else d1)
        .coalesce(1).write.parquet(s"$srcDir/delivery1")
      drain()
      d2.coalesce(1).write.parquet(s"$srcDir/delivery2")
      drain()
      // the rows actually appended: everything fed (the gate dropped
      // only the planted copy)
      val appended = spark.read.parquet(s"$root/$g1")
        .select("vec_id", "v").localCheckpoint(eager = true)
      assert(appended.select("vec_id").as[Long].collect().sorted.toSeq
        === fedIds, s"$label: appended rows are not exactly the fed ones")
      val fedCells = cellMap(K.statsOf(K.assign(appended, centsDf)))
      assert(cellMap(A.readLloydStats(spark, A.current(spark, root)))
        === fedCells, s"$label: folded stats must equal the one-shot " +
        "stats of every row appended")
      // checkpoint loss: the plain appender's rows re-append (the
      // family's at-least-once; the gated one's id guard appends
      // nothing), but the stats folds are keyed by batch id —
      // exactly-once
      val rowsBefore = spark.read.parquet(s"$root/$g1").count()
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      drain()
      if (!gated)
        assert(spark.read.parquet(s"$root/$g1").count() > rowsBefore,
          "precondition: the replay re-appended rows")
      assert(cellMap(A.readLloydStats(spark, A.current(spark, root)))
        === fedCells, s"$label: a replayed batch id must not fold twice")
      // the zero-rescan retrain: centroids step exactly as one
      // trainFrom round over everything appended (stats cover the
      // DISTINCT appended vectors — the replayed duplicates are the
      // rows the dropDuplicates reclaim owns, not the trainer's
      // business)
      val expected = K.trainFrom(appended, centsDf, 1).collect()
        .map(r => r.get(0).toString.toLong -> r.getSeq[Double](1).toSeq)
        .toMap
      val g2 = A.retrainFromStats(spark, root)
      assert(A.current(spark, root).centroids
        .map { case (c, v) => c.toLong -> v.toSeq }.toMap === expected,
        s"$label: stepped centroids diverged from the full Lloyd round")
      // the new generation serves, and re-seeded its own stats
      val q0 = e.filter(col("vec_id") === 0).collect()(0)
        .getSeq[Double](1)
      assert(A.topK(spark, A.current(spark, root), q0.toArray, k = 3,
        nprobe = 2).collect().nonEmpty)
      assert(A.readLloydStats(spark, A.current(spark, root)).count() > 0,
        s"generation $g2 must re-seed its Lloyd stats")
    }
  }

  test("PQ serving composes with the streaming appender: streamed " +
    "vectors serve through the exact residual leg immediately, and a " +
    "sidecar rebuild folds them into the codes") {
    import spark.implicits._
    val A = graft.operators.AnnIndex
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = graft.operators.KMeans.trainCollected(e, 1L to 8L, 1)
    val root = java.nio.file.Files.createTempDirectory("ivf-pqstream")
      .toString + "/index"
    val srcDir = java.nio.file.Files
      .createTempDirectory("ivf-pqstream-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("ivf-pqstream-ckpt").toString
    A.writeIndex(e, cents, root)
    A.buildPqSidecar(spark, root, m = 8, k = 8, iters = 1)
    val q0 = e.filter(col("vec_id") === 0).collect()(0).getSeq[Double](1)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    Seq((200000L, q0)).toDF("vec_id", "v")
      .coalesce(1).write.parquet(s"$srcDir/delivery1")
    graft.streaming.Streams.indexIngestStreamVersioned(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      root, ckpt).awaitTermination()
    // the streamed copy of the query has no codes yet — the residual
    // leg serves it exactly, at distance 0, ahead of every quantized
    // candidate (including vec 0 itself, whose ADC distance is its
    // own quantization distortion)
    val got = A.topKPq(spark, A.current(spark, root), q0.toArray, k = 3,
      nprobe = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.head === ((200000L, 0L)),
      s"streamed vector not served exactly through the residual leg: " +
        s"${got.toSeq}")
    // rebuilt sidecar: the streamed vector is now CODED — it shares
    // vec 0's vector, hence vec 0's codes and ADC distance, and the
    // (adist, vec_id) tie-break orders 0 immediately before it
    A.buildPqSidecar(spark, root, m = 8, k = 8, iters = 1)
    val got2 = A.topKPq(spark, A.current(spark, root), q0.toArray, k = 50,
      nprobe = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    val i0 = got2.indexWhere(_._1 == 0L)
    val iS = got2.indexWhere(_._1 == 200000L)
    assert(i0 >= 0 && iS === i0 + 1,
      s"rebuild did not fold the streamed vector into the codes: " +
        s"${got2.toSeq}")
    assert(got2(i0)._2 === got2(iS)._2,
      "identical vectors must share their ADC distance after encoding")
  }

  test("versioned index strand guard: a retrain landing mid-batch " +
    "fails the batch loudly (replay re-appends into the installed " +
    "generation) instead of silently stranding rows in the retiring " +
    "one") {
    import spark.implicits._
    val A = graft.operators.AnnIndex
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = graft.operators.KMeans.trainCollected(e, 1L to 8L, 1)
    val root = java.nio.file.Files.createTempDirectory("ivf-strand")
      .toString + "/index"
    val g1 = A.writeIndex(e, cents, root)
    val q0 = e.filter(col("vec_id") === 0).collect()(0).getSeq[Double](1)
    val batch = Seq((200000L, q0)).toDF("vec_id", "v")
    // the deterministic race: the retrain swaps generations inside the
    // guard's detection window (append done, manifest not yet re-read)
    val err = intercept[IllegalStateException] {
      graft.streaming.Streams.appendVersionedBatch(batch, root,
        postWriteProbe = () => { A.retrain(spark, root, iters = 1); () })
    }
    assert(err.getMessage.contains("swapped mid-batch"))
    val g2 = A.current(spark, root).name
    assert(g2 !== g1)
    // the replay (what the restarted stream does) lands the rows in
    // the INSTALLED generation, where probes serve them. At-least-once:
    // this retrain's snapshot already included the completed append, so
    // the replayed copy is a duplicate row — the documented
    // rewriteInPlace(dropDuplicates) maintenance reclaims it.
    graft.streaming.Streams.appendVersionedBatch(batch, root)
    assert(spark.read.parquet(s"$root/$g2")
      .filter(col("vec_id") === 200000L).count() >= 1L)
    assert(A.topK(spark, A.current(spark, root), q0.toArray, k = 2, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 200000L))
    // an undisturbed batch passes the guard silently
    graft.streaming.Streams.appendVersionedBatch(
      Seq((200001L, q0)).toDF("vec_id", "v"), root)
  }

  test("streamed cross-run NEAR dedup: paraphrases of any earlier " +
    "batch's documents are dropped; replay after checkpoint loss is " +
    "a no-op") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("neardedup-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("neardedup-out").toString + "/docs"
    val store = java.nio.file.Files
      .createTempDirectory("neardedup-store").toString + "/bands"
    val ckpt = java.nio.file.Files
      .createTempDirectory("neardedup-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(): Unit = curationFeed(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      Seq(Streams.nearDedup(Path(store), "text", "doc_id")),
      outDir, ckpt).awaitTermination()
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
    val doc2 = (1 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
    deliver("b1", Seq((1L, doc1), (2L, doc2)))
    drain()
    assert(survivors() === Seq(1L, 2L))
    // batch 2: an exact copy, a light edit of doc2 (what the EXACT
    // store cannot catch), and fresh content
    deliver("b2", Seq((10L, doc1),
      (11L, doc2 + " edited trailing footer"),
      (12L, (1 to 60).map(i => s"gamma$i fresh$i novel$i").mkString(" "))))
    drain()
    assert(survivors() === Seq(1L, 2L, 12L))
    // survivor rows keep the input schema (plus the batch partition)
    assert(spark.read.parquet(outDir).columns.sorted.toSeq
      === Seq("batch", "doc_id", "text"))
    // full-history replay after checkpoint loss: committed batch dirs
    // are skipped — survivors unchanged, signatures re-recorded
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(survivors() === Seq(1L, 2L, 12L))
    // compaction reclaims the replay's re-records; history still bites
    graft.ingest.NearDupStore.compactStore(spark, store)
    val stored = spark.read.parquet(store)
    assert(stored.count() === stored.distinct().count())
    assert(graft.ingest.NearDupStore.newNearUnique(
      Seq((99L, doc1 + " tiny edit")).toDF("doc_id", "text"),
      "text", "doc_id", store).count() === 0)
  }

  test("streamed cross-run SPAN dedup: a mashup of earlier batches' " +
    "passages is dropped; replay after checkpoint loss is a no-op") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("spandedup-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("spandedup-out").toString + "/docs"
    val store = java.nio.file.Files
      .createTempDirectory("spandedup-store").toString + "/windows"
    val ckpt = java.nio.file.Files
      .createTempDirectory("spandedup-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(): Unit = curationFeed(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      Seq(Streams.spanDedup(Path(store), "text", "doc_id")),
      outDir, ckpt).awaitTermination()
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 30).map(i => f"alpha$i%02d lake$i%02d").mkString(" ")
    val doc2 = (1 to 30).map(i => f"beta$i%02d stone$i%02d").mkString(" ")
    deliver("b1", Seq((1L, doc1), (2L, doc2)))
    drain()
    assert(survivors() === Seq(1L, 2L))
    // an operator builds the sidecar on the maintenance schedule: the
    // next micro-batches take the bloom fast path (same answers)
    assert(graft.ingest.SpanStore.buildBloomSidecar(spark, store) > 0L)
    // batch 2: a mashup stitched from BOTH recorded docs (the case the
    // exact and near cycles miss) and fresh content
    deliver("b2", Seq(
      (10L, doc1.substring(10, 160) + " " + doc2.substring(5, 155)),
      (11L, (1 to 30).map(i => f"gamma$i%02d reed$i%02d").mkString(" "))))
    drain()
    assert(survivors() === Seq(1L, 2L, 11L))
    // replay after checkpoint loss: committed dirs skipped
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(survivors() === Seq(1L, 2L, 11L))
    // compaction reclaims replay re-records; history still bites
    graft.ingest.SpanStore.compactStore(spark, store)
    val stored = spark.read.parquet(store)
    assert(stored.count() === stored.distinct().count())
    assert(graft.ingest.SpanStore.newSpanUnique(
      Seq((99L, doc1)).toDF("doc_id", "text"), "text", "doc_id", store)
      .count() === 0)
  }

  test("streamed cross-run NEAR dedup through the BUCKETED store: " +
    "paraphrases of catalog-recorded history drop; replay no-op") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("nearbucket-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("nearbucket-out").toString + "/docs"
    val ckpt = java.nio.file.Files
      .createTempDirectory("nearbucket-ckpt").toString
    val table = "graft_stream_near_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def deliver(name: String, rows: Seq[(Long, String)]): Unit =
        rows.toDF("doc_id", "text").coalesce(1).write
          .mode("overwrite").parquet(s"$srcDir/$name")
      def drain(): Unit =
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Seq(Streams.nearDedup(Bucketed(table), "text", "doc_id")),
          outDir, ckpt).awaitTermination()
      def survivors(): Seq[Long] = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val doc1 = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
      val doc2 = (1 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
      deliver("b1", Seq((1L, doc1), (2L, doc2)))
      drain()
      assert(survivors() === Seq(1L, 2L))
      assert(graft.ingest.NearDupStore
        .buildBloomSidecar(spark, Bucketed(table)) > 0L)
      deliver("b2", Seq(
        (10L, doc1 + " edited trailing footer"),
        (11L, (1 to 60).map(i => s"gamma$i fresh$i novel$i")
          .mkString(" "))))
      drain()
      assert(survivors() === Seq(1L, 2L, 11L))
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      drain()
      assert(survivors() === Seq(1L, 2L, 11L))
      graft.ingest.NearDupStore.compactStore(spark, Bucketed(table))
      assert(spark.table(table).count()
        === spark.table(table).distinct().count())
      assert(graft.ingest.NearDupStore.newNearUnique(
        Seq((99L, doc2 + " small late edit")).toDF("doc_id", "text"),
        "text", "doc_id", Bucketed(table)).count() === 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    }
  }

  test("streamed cross-run SPAN dedup through the BUCKETED store: same " +
    "delivery semantics, catalog-table history, replay no-op") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("spanbucket-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("spanbucket-out").toString + "/docs"
    val ckpt = java.nio.file.Files
      .createTempDirectory("spanbucket-ckpt").toString
    val table = "graft_stream_span_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def deliver(name: String, rows: Seq[(Long, String)]): Unit =
        rows.toDF("doc_id", "text").coalesce(1).write
          .mode("overwrite").parquet(s"$srcDir/$name")
      def drain(): Unit =
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Seq(Streams.spanDedup(Bucketed(table), "text", "doc_id")),
          outDir, ckpt).awaitTermination()
      def survivors(): Seq[Long] = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val doc1 = (1 to 30).map(i => f"alpha$i%02d lake$i%02d").mkString(" ")
      val doc2 = (1 to 30).map(i => f"beta$i%02d stone$i%02d").mkString(" ")
      deliver("b1", Seq((1L, doc1), (2L, doc2)))
      drain()
      assert(survivors() === Seq(1L, 2L))
      assert(graft.ingest.SpanStore
        .buildBloomSidecar(spark, Bucketed(table)) > 0L)
      deliver("b2", Seq(
        (10L, doc1.substring(10, 160) + " " + doc2.substring(5, 155)),
        (11L, (1 to 30).map(i => f"gamma$i%02d reed$i%02d").mkString(" "))))
      drain()
      assert(survivors() === Seq(1L, 2L, 11L))
      // replay after checkpoint loss: committed dirs skipped
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      drain()
      assert(survivors() === Seq(1L, 2L, 11L))
      // compaction reclaims replay re-records; history still bites
      graft.ingest.SpanStore.compactStore(spark, Bucketed(table))
      assert(spark.table(table).count()
        === spark.table(table).distinct().count())
      assert(graft.ingest.SpanStore.newSpanUnique(
        Seq((99L, doc1)).toDF("doc_id", "text"), "text", "doc_id", Bucketed(table))
        .count() === 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    }
  }

  test("streamed cross-run CDC-CHUNK dedup: an insertion-edited " +
    "re-submission of earlier batches' text drops; replay after " +
    "checkpoint loss is a no-op") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("cdcdedup-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("cdcdedup-out").toString + "/docs"
    val store = java.nio.file.Files
      .createTempDirectory("cdcdedup-store").toString + "/chunks"
    val ckpt = java.nio.file.Files
      .createTempDirectory("cdcdedup-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(): Unit = curationFeed(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      Seq(Streams.chunkDedup(Path(store), "text", "doc_id")),
      outDir, ckpt).awaitTermination()
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 150).map(i => f"alpha$i%03d lake$i%03d").mkString(" ")
    val doc2 = (1 to 150).map(i => f"beta$i%03d stone$i%03d").mkString(" ")
    deliver("b1", Seq((1L, doc1), (2L, doc2)))
    drain()
    assert(survivors() === Seq(1L, 2L))
    // an operator builds the sidecar on the maintenance schedule: the
    // next micro-batches take the bloom fast path (same answers)
    assert(graft.ingest.CdcChunkStore.buildBloomSidecar(spark, store) > 0L)
    // batch 2: a one-token-inserted edit of recorded text (the case
    // fixed-boundary chunking misses — CDC anchors realign past the
    // edit) and fresh content
    val toks = doc1.split(" ")
    deliver("b2", Seq(
      (10L, (toks.take(150) ++ Array("inserted") ++ toks.drop(150))
        .mkString(" ")),
      (11L, (1 to 150).map(i => f"gamma$i%03d reed$i%03d").mkString(" "))))
    drain()
    assert(survivors() === Seq(1L, 2L, 11L))
    // replay after checkpoint loss: committed dirs skipped
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(survivors() === Seq(1L, 2L, 11L))
    // compaction reclaims replay re-records; history still bites
    graft.ingest.CdcChunkStore.compactStore(spark, store)
    val stored = spark.read.parquet(store)
    assert(stored.count() === stored.distinct().count())
    assert(graft.ingest.CdcChunkStore.newChunkUnique(
      Seq((99L, doc1)).toDF("doc_id", "text"), "text", "doc_id", store)
      .count() === 0)
  }

  test("streamed cross-run CDC-CHUNK dedup through the BUCKETED store: " +
    "same delivery semantics, catalog-table history, replay no-op") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("cdcbucket-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("cdcbucket-out").toString + "/docs"
    val ckpt = java.nio.file.Files
      .createTempDirectory("cdcbucket-ckpt").toString
    val table = "graft_stream_cdc_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def deliver(name: String, rows: Seq[(Long, String)]): Unit =
        rows.toDF("doc_id", "text").coalesce(1).write
          .mode("overwrite").parquet(s"$srcDir/$name")
      def drain(): Unit =
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Seq(Streams.chunkDedup(Bucketed(table), "text", "doc_id")),
          outDir, ckpt).awaitTermination()
      def survivors(): Seq[Long] = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val doc1 = (1 to 150).map(i => f"alpha$i%03d lake$i%03d")
        .mkString(" ")
      val doc2 = (1 to 150).map(i => f"beta$i%03d stone$i%03d")
        .mkString(" ")
      deliver("b1", Seq((1L, doc1), (2L, doc2)))
      drain()
      assert(survivors() === Seq(1L, 2L))
      assert(graft.ingest.CdcChunkStore
        .buildBloomSidecar(spark, Bucketed(table)) > 0L)
      val toks = doc1.split(" ")
      deliver("b2", Seq(
        (10L, (toks.take(150) ++ Array("inserted") ++ toks.drop(150))
          .mkString(" ")),
        (11L, (1 to 150).map(i => f"gamma$i%03d reed$i%03d")
          .mkString(" "))))
      drain()
      assert(survivors() === Seq(1L, 2L, 11L))
      // replay after checkpoint loss: committed dirs skipped
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      drain()
      assert(survivors() === Seq(1L, 2L, 11L))
      // compaction reclaims replay re-records; history still bites
      graft.ingest.CdcChunkStore.compactStore(spark, Bucketed(table))
      assert(spark.table(table).count()
        === spark.table(table).distinct().count())
      assert(graft.ingest.CdcChunkStore.newChunkUnique(
        Seq((99L, doc1)).toDF("doc_id", "text"), "text", "doc_id", Bucketed(table))
        .count() === 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    }
  }

  test("streamed pipeline composition: curation feed -> export stream " +
    "over the curated batches equals the one-shot export of the " +
    "curated survivors (the full continuously-fed corpus loop)") {
    import spark.implicits._
    val CE = graft.operators.CorpusExport
    val srcDir = java.nio.file.Files
      .createTempDirectory("compose-src").toString
    val curatedDir = java.nio.file.Files
      .createTempDirectory("compose-curated").toString + "/docs"
    val exportS = java.nio.file.Files
      .createTempDirectory("compose-export").toString + "/out"
    val exportB = java.nio.file.Files
      .createTempDirectory("compose-export-b").toString + "/out"
    val exactStore = java.nio.file.Files
      .createTempDirectory("compose-exact").toString + "/hashes"
    val nearStore = java.nio.file.Files
      .createTempDirectory("compose-near").toString + "/bands"
    val ckptC = java.nio.file.Files
      .createTempDirectory("compose-ckpt-c").toString
    val ckptE = java.nio.file.Files
      .createTempDirectory("compose-ckpt-e").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // two deliveries with exact dups across them; survivors feed the
    // export. Long distinct texts keep the near store out of the way
    // (this test pins the COMPOSITION, not the near semantics).
    def mkDoc(i: Long) =
      (1 to 40).map(j => s"body$i token${i}x$j word$j").mkString(" ")
    val b1 = (1L to 40L).map(i =>
      (i, if (i % 3 == 0) "fr" else "en", mkDoc(i)))
    val b2 = (41L to 80L).map(i =>
      (i, if (i % 3 == 0) "fr" else "en", mkDoc(i))) ++
      Seq((200L, "en", mkDoc(1)), (201L, "fr", mkDoc(42))) // dups
    def curate(): Unit = curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.exactDedup(Path(exactStore), "text", "doc_id"),
          Streams.nearDedup(Path(nearStore), "text", "doc_id")),
        curatedDir, ckptC)
      .awaitTermination()
    val th = Seq(("en", 700000L), ("fr", 900000L))
    def export(): Unit = graft.streaming.Streams.exportMixStream(
      spark.readStream.schema(schema.add("content_hash",
          org.apache.spark.sql.types.StringType))
        .option("recursiveFileLookup", "true").parquet(curatedDir),
      "lang", "doc_id", th, exportS, ckptE, numShards = 4)
      .awaitTermination()
    b1.toDF("doc_id", "lang", "text").coalesce(1).write
      .mode("overwrite").parquet(s"$srcDir/d1")
    curate(); export()
    b2.toDF("doc_id", "lang", "text").coalesce(1).write
      .mode("overwrite").parquet(s"$srcDir/d2")
    curate(); export()
    // the curated survivors: dups 200/201 dropped, 80 originals kept
    val curated = spark.read
      .schema(schema.add("content_hash",
        org.apache.spark.sql.types.StringType))
      .parquet(curatedDir)
    val curatedIds = curated.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(curatedIds === (1L to 80L).toSet,
      "curation must drop exactly the cross-batch duplicates")
    // streamed export over the curated stream == one-shot export of
    // the curated survivors, document set and shards alike
    CE.materialize(curated, "lang", "doc_id", th, exportB,
      numShards = 4)
    def setOf(dir: String): Set[(Long, Long)] =
      spark.read.parquet(s"$dir/data")
        .select(col("doc_id"), col("shard").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = setOf(exportS)
    assert(streamed === setOf(exportB),
      "the composed streamed pipeline diverged from the one-shot export")
    assert(streamed.nonEmpty &&
      streamed.map(_._1).subsetOf(curatedIds))
    // manifests agree too
    val mS = graft.streaming.Streams.readExportManifest(spark, exportS)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val mB = spark.read.parquet(s"$exportB/_export_manifest")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(mS === mB)
  }

  test("streamed curation feed with the span store third stage: " +
    "passage mashups drop alongside copies and paraphrases") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("curation3-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("curation3-out").toString + "/docs"
    val exactStore = java.nio.file.Files
      .createTempDirectory("curation3-exact").toString + "/hashes"
    val nearStore = java.nio.file.Files
      .createTempDirectory("curation3-near").toString + "/bands"
    val spanStore = java.nio.file.Files
      .createTempDirectory("curation3-span").toString + "/windows"
    val ckpt = java.nio.file.Files
      .createTempDirectory("curation3-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(): Unit = curationFeed(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      Seq(Streams.exactDedup(Path(exactStore), "text", "doc_id"),
        Streams.nearDedup(Path(nearStore), "text", "doc_id"),
        Streams.spanDedup(Path(spanStore), "text", "doc_id")),
      outDir, ckpt)
      .awaitTermination()
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // long docs so the minhash near-dup leg has real signatures AND
    // span windows both
    val docA = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
    val docB = (1 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
    deliver("b1", Seq((1L, docA), (2L, docB)))
    drain()
    assert(survivors() === Seq(1L, 2L))
    // batch 2: an exact copy (exact store), a paraphrase (near store),
    // a HALF-AND-HALF mashup of both docs (similarity to each single
    // doc sits under the near threshold — only the span store flags
    // it), and fresh content
    val mashup = docA.substring(0, docA.length / 2) + " " +
      docB.substring(docB.length / 2)
    deliver("b2", Seq(
      (10L, docA),
      (11L, docB + " appended footer line"),
      (12L, mashup),
      (13L, (1 to 60).map(i => s"gamma$i fresh$i novel$i").mkString(" "))))
    drain()
    assert(survivors() === Seq(1L, 2L, 13L),
      "mashup must drop in the 3-store feed")
    // sanity for the test's premise: the near store ALONE would have
    // passed the mashup (its minhash similarity to each recorded doc
    // is below 8/16) — the span stage is what caught it
    assert(graft.ingest.NearDupStore.newNearUnique(
      Seq((50L, mashup)).toDF("doc_id", "text"), "text", "doc_id",
      nearStore).count() === 1)
    // replay is a no-op
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(survivors() === Seq(1L, 2L, 13L))
  }

  test("streamed curation feed through BUCKETED stores: copies, " +
    "paraphrases, and mashups of catalog history all drop; replay no-op") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("curationb-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("curationb-out").toString + "/docs"
    val ckpt = java.nio.file.Files
      .createTempDirectory("curationb-ckpt").toString
    val tables = Seq("graft_cfb_exact", "graft_cfb_near", "graft_cfb_span")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
    }
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      def deliver(name: String, rows: Seq[(Long, String)]): Unit =
        rows.toDF("doc_id", "text").coalesce(1).write
          .mode("overwrite").parquet(s"$srcDir/$name")
      def drain(): Unit =
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Seq(Streams.exactDedup(Bucketed(tables(0)), "text", "doc_id"),
            Streams.nearDedup(Bucketed(tables(1)), "text", "doc_id"),
            Streams.spanDedup(Bucketed(tables(2)), "text", "doc_id")),
          outDir, ckpt)
          .awaitTermination()
      def survivors(): Seq[Long] = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val docA = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
      val docB = (1 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
      deliver("b1", Seq((1L, docA), (2L, docB)))
      drain()
      assert(survivors() === Seq(1L, 2L))
      // one sidecar built mid-stream exercises the bloom legs too
      assert(graft.ingest.SpanStore
        .buildBloomSidecar(spark, Bucketed(tables(2))) > 0L)
      // exact copy, formatting variant, paraphrase, half-and-half
      // mashup (span-stage-only catch), fresh
      deliver("b2", Seq(
        (10L, docA),
        (11L, docA.toUpperCase),
        (12L, docB + " appended footer line"),
        (13L, docA.substring(0, docA.length / 2) + " " +
          docB.substring(docB.length / 2)),
        (14L, (1 to 60).map(i => s"gamma$i fresh$i novel$i")
          .mkString(" "))))
      drain()
      assert(survivors() === Seq(1L, 2L, 14L))
      val fs = new org.apache.hadoop.fs.Path(ckpt)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
      drain()
      assert(survivors() === Seq(1L, 2L, 14L))
    } finally {
      tables.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
      }
    }
  }

  test("streamed curation feed: exact-store then near-store composed " +
    "per micro-batch; copies, variants, and paraphrases of history all " +
    "drop; replay is a no-op") {
    import spark.implicits._
    val srcDir = java.nio.file.Files
      .createTempDirectory("curation-src").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("curation-out").toString + "/docs"
    val exactStore = java.nio.file.Files
      .createTempDirectory("curation-exact").toString + "/hashes"
    val nearStore = java.nio.file.Files
      .createTempDirectory("curation-near").toString + "/bands"
    val ckpt = java.nio.file.Files
      .createTempDirectory("curation-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(): Unit = curationFeed(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      Seq(Streams.exactDedup(Path(exactStore), "text", "doc_id"),
        Streams.nearDedup(Path(nearStore), "text", "doc_id")),
      outDir, ckpt)
      .awaitTermination()
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val docA = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
    val docB = (1 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
    deliver("b1", Seq((1L, docA), (2L, docB)))
    drain()
    assert(survivors() === Seq(1L, 2L))
    // batch 2: an exact copy (exact store), an UPPERCASED formatting
    // variant (exact store's normalized hash), a paraphrase with an
    // appended footer (only the NEAR store can catch it), fresh content
    deliver("b2", Seq(
      (10L, docA),
      (11L, docA.toUpperCase),
      (12L, docB + " appended footer line"),
      (13L, (1 to 60).map(i => s"gamma$i fresh$i novel$i").mkString(" "))))
    drain()
    assert(survivors() === Seq(1L, 2L, 13L))
    // survivors carry the exact store's content_hash for downstream use
    assert(spark.read.parquet(outDir).columns.contains("content_hash"))
    // replay after checkpoint loss: a no-op
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(survivors() === Seq(1L, 2L, 13L))
    // both stores were recorded: each suppresses its kind directly
    assert(graft.ingest.DedupStore.newUnique(
      Seq((99L, docA)).toDF("doc_id", "text"), "text", "doc_id",
      exactStore).count() === 0)
    assert(graft.ingest.NearDupStore.newNearUnique(
      Seq((98L, docB + " different small edit")).toDF("doc_id", "text"),
      "text", "doc_id", nearStore).count() === 0)
  }

  test("streamed cross-run dedup through the BUCKETED store: same " +
    "semantics, catalog-table store, replay-safe") {
    import spark.implicits._
    for (form <- Seq(graft.ingest.HashForm.Md5,
        graft.ingest.HashForm.Xx)) {
      val srcDir = java.nio.file.Files
        .createTempDirectory("bdedup-src").toString
      val outDir = java.nio.file.Files
        .createTempDirectory("bdedup-out").toString + "/docs"
      val ckpt = java.nio.file.Files
        .createTempDirectory("bdedup-ckpt").toString
      val table = "graft_stream_bucketed_store"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      try {
        // an xxh64 table declared before the feed starts: the stage's
        // content_hash column takes the store's persisted type
        if (form == graft.ingest.HashForm.Xx)
          graft.ingest.DedupStore.recordHashes(Seq.empty[(Long, String)]
            .toDF("doc_id", "text"), "text", Bucketed(table, 4),
            hashForm = form)
        def deliver(name: String, rows: Seq[(Long, String)]): Unit =
          rows.toDF("doc_id", "text").coalesce(1).write
            .mode("overwrite").parquet(s"$srcDir/$name")
        def drain(): Unit = curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Seq(Streams.exactDedup(Bucketed(table, 4), "text", "doc_id")),
          outDir, ckpt)
          .awaitTermination()
        def survivors(): Seq[(Long, String)] = spark.read.parquet(outDir)
          .select("doc_id", "text").collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        deliver("b1", Seq((1L, "alpha beta"), (2L, "gamma"),
          (3L, "ALPHA  beta")))
        drain()
        assert(survivors() === Seq((1L, "alpha beta"), (2L, "gamma")))
        deliver("b2", Seq((9L, "GAMMA"), (10L, "delta")))
        drain()
        assert(survivors() === Seq((1L, "alpha beta"), (2L, "gamma"),
          (10L, "delta")))
        // full-history replay after checkpoint loss: a no-op, not a loss
        val fs = new org.apache.hadoop.fs.Path(ckpt)
          .getFileSystem(spark.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
        drain()
        assert(survivors() === Seq((1L, "alpha beta"), (2L, "gamma"),
          (10L, "delta")))
        // replay re-recorded hashes (at-least-once); compaction reclaims
        val (before, after) = graft.ingest.DedupStore
          .compactStore(spark, Bucketed(table))
        assert(after === 3L && before >= after, s"($before, $after)")
        // and the compacted table still suppresses everything ever seen
        assert(graft.ingest.DedupStore.newUnique(
          Seq((99L, "delta"), (100L, "alpha  BETA")).toDF("doc_id", "text"),
          "text", "doc_id", Bucketed(table)).count() === 0)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
      }
  
    }
  }

  test("q61 fed from the maintained (term, df) store ranks identically " +
    "to the corpus-recomputed form") {
    // maintain the stats over the REAL documents table (streamed in),
    // then the store-fed lexical search must reproduce q61 exactly —
    // same tokenization, same df definition, same score arithmetic.
    val statsPath = java.nio.file.Files
      .createTempDirectory("term-stats-q61").toString + "/stats"
    val ckpt = java.nio.file.Files
      .createTempDirectory("stats-q61-ckpt").toString
    val docs = graft.Tables.load(spark, sf, "documents")
    // documents.parquet is a flat file; the file stream source wants a
    // directory of arriving files — stage a copy as one "arrival"
    val srcDir = java.nio.file.Files
      .createTempDirectory("docs-q61-src").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf, "documents.parquet"),
      java.nio.file.Paths.get(srcDir, "documents.parquet"))
    graft.streaming.Streams.maintainTermStats(
      spark.readStream.schema(docs.schema).parquet(srcDir),
      statsPath, ckpt).awaitTermination()
    val recomputed = graft.queries.LlmPipeline
      .queries("q61_lexical_search")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val viaStore = graft.queries.LlmPipeline
      .lexicalSearchWithStats(spark, sf, statsPath)
      .collect().map(_.toSeq).toSeq
    assert(viaStore === recomputed)
    assert(recomputed.nonEmpty)
  }

  test("§2.3 event-time windows: streaming run over event files matches " +
    "the batch run of the same function (update-complete semantics)") {
    import spark.implicits._
    val srcDir = tmpDir("stream-events")
    val events = Seq(
      // (event_id, user_id, event_type, value, ts)
      (1L, 1L, "view", 1.5, "2025-01-01 10:05:00"),
      (2L, 1L, "view", 2.0, "2025-01-01 10:55:00"),
      (3L, 2L, "purchase", 10.0, "2025-01-01 11:10:00"),
      (4L, 2L, "view", 0.5, "2025-01-01 11:59:00"),
      (5L, 1L, "purchase", 20.0, "2025-01-01 12:00:30"))
      .toDF("event_id", "user_id", "event_type", "value", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    events.coalesce(1).write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream.schema(events.schema).parquet(srcDir)
    val q = Streams.windowedEventCounts(stream)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.table("win_counts")
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Streams.windowedEventCounts(events)
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(batch.length === 4) // 10h view, 11h purchase, 11h view, 12h purchase
  }

  test("quality-gated curation feed: the literal-model gate drops " +
    "rejects before any store sees them, and rejects are NOT recorded") {
    import spark.implicits._
    val srcDir = tmpDir("qgate-src")
    val outDir = tmpDir("qgate-out") + "/docs"
    val exactStore = tmpDir("qgate-exact") + "/hashes"
    val nearStore = tmpDir("qgate-near") + "/bands"
    val spanStore = tmpDir("qgate-span") + "/windows"
    val ckpt = tmpDir("qgate-ckpt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val dims = 512
    // handcrafted model: every feature mildly good, the "spamword"
    // feature catastrophically bad — its presence drags the MEAN
    // under any doc of test length; threshold 0
    val spamFid = Seq(Tuple1(Seq("spamword"))).toDF("toks")
      .select(org.apache.spark.sql.functions.explode(
        graft.operators.QualityModel.featuresExpr("toks", dims)))
      .collect()(0).getLong(0)
    val dense = Seq.tabulate(dims)(i =>
      if (i.toLong == spamFid) -1000000L else 1000L)
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(weights: Seq[Long]): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.qualityGate("text", weights, 0L, dims),
          Streams.exactDedup(Path(exactStore), "text", "doc_id"),
          Streams.nearDedup(Path(nearStore), "text", "doc_id"),
          Streams.spanDedup(Path(spanStore), "text", "doc_id")),
        outDir, ckpt)
        .awaitTermination()
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val good = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
    val spam = (1 to 60).map(i => s"beta$i item$i entry$i")
      .mkString(" ") + " spamword"
    deliver("b1", Seq((1L, good), (2L, spam)))
    drain(dense)
    assert(survivors() === Seq(1L), "the gate must drop the spam doc")
    // the reject never reached the exact store: its hash is unseen
    assert(graft.ingest.DedupStore.newUnique(
      Seq((50L, spam)).toDF("doc_id", "text"), "text", "doc_id",
      exactStore).count() === 1)
    // batch 2: an exact copy of the survivor still drops (the store
    // legs work behind the gate); fresh good content passes
    deliver("b2", Seq((10L, good),
      (11L, (1 to 60).map(i => s"gamma$i fresh$i novel$i").mkString(" "))))
    drain(dense)
    assert(survivors() === Seq(1L, 11L))
    // rejects were never recorded: the SAME spam text re-submitted
    // under a permissive model (spam feature forgiven) is judged
    // afresh and survives
    deliver("b3", Seq((20L, spam)))
    drain(Seq.fill(dims)(1000L))
    assert(survivors() === Seq(1L, 11L, 20L),
      "a gate reject must not poison the dedup history")
  }

  test("contamination-gated curation feed: a benchmark-contaminated " +
    "doc drops on EVERY run (history-independent), rejects are never " +
    "recorded, replay after checkpoint loss is a no-op, and a " +
    "benchmark retraction reopens the gate") {
    import spark.implicits._
    val srcDir = tmpDir("cgate-src")
    val outDir = tmpDir("cgate-out") + "/docs"
    val contamStore = tmpDir("cgate-contam") + "/bench_grams"
    val exactStore = tmpDir("cgate-exact") + "/hashes"
    val nearStore = tmpDir("cgate-near") + "/bands"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // the standing benchmark: registered once, offline, BEFORE any run
    val benchText = "held out eval question forty two exactly"
    graft.ingest.ContaminationStore.recordBenchmark(
      Seq((900L, benchText)).toDF("doc_id", "text"), "text", "doc_id",
      contamStore)
    graft.ingest.ContaminationStore.buildBloomSidecar(spark, contamStore)
    def deliver(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    // contamination gate → exact → near, one run over `src`
    def run(src: String, out: String, ckpt: String): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(src),
        Seq(Streams.contaminationGate("text", "doc_id", contamStore),
          Streams.exactDedup(Path(exactStore), "text", "doc_id"),
          Streams.nearDedup(Path(nearStore), "text", "doc_id")),
        out, ckpt).awaitTermination()
    def drain(ckpt: String): Unit = run(srcDir, outDir, ckpt)
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val good = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
    // leaks one 3-word benchmark shingle inside otherwise-fresh text
    val leaky = (1 to 30).map(i => s"beta$i item$i entry$i")
      .mkString(" ") + " eval question forty " +
      (31 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
    val ckpt1 = tmpDir("cgate-ckpt1")
    deliver("b1", Seq((1L, good), (2L, leaky)))
    drain(ckpt1)
    assert(survivors() === Seq(1L), "the gate must drop the leaky doc")
    // the reject never reached the exact store: its hash is unseen
    assert(graft.ingest.DedupStore.newUnique(
      Seq((50L, leaky)).toDF("doc_id", "text"), "text", "doc_id",
      exactStore).count() === 1,
      "a gate reject must not poison the dedup history")
    // replay after checkpoint loss: committed batches skip — no-op
    drain(tmpDir("cgate-ckpt2"))
    assert(survivors() === Seq(1L), "full-history replay must be a no-op")
    // CROSS-RUN: a brand-new run (fresh out dir + checkpoint, same
    // stores) re-submits the leak under a new id — the gate's verdict
    // is independent of feed history, so it drops on this run too,
    // while a copy of run 1's survivor drops via the exact store and
    // fresh content passes
    val srcDir2 = tmpDir("cgate-src2")
    val outDir2 = tmpDir("cgate-out2") + "/docs"
    val fresh = (1 to 60).map(i => s"gamma$i fresh$i novel$i")
      .mkString(" ")
    Seq((20L, leaky), (21L, good), (22L, fresh))
      .toDF("doc_id", "text").coalesce(1).write
      .mode("overwrite").parquet(s"$srcDir2/b1")
    run(srcDir2, outDir2, tmpDir("cgate-ckpt3"))
    assert(spark.read.parquet(outDir2)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(22L),
      "cross-run: the contaminated doc must drop with no feed history")
    // retraction reopens: the retired benchmark's grams disarm, and
    // since rejects were never recorded, the once-leaky text is
    // judged afresh and admitted
    graft.ingest.ContaminationStore.retractBenchmark(
      Seq((900L, benchText)).toDF("doc_id", "text"), "text", "doc_id",
      contamStore)
    val outDir3 = tmpDir("cgate-out3") + "/docs"
    val srcDir3 = tmpDir("cgate-src3")
    Seq((30L, leaky)).toDF("doc_id", "text").coalesce(1).write
      .mode("overwrite").parquet(s"$srcDir3/b1")
    run(srcDir3, outDir3, tmpDir("cgate-ckpt4"))
    assert(spark.read.parquet(outDir3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(30L),
      "a retraction must reopen the gate for resubmissions")
  }

  test("cross-modal-gated curation feed: a misaligned caption-image " +
    "pair drops before any store probe and is never recorded; " +
    "aligned pairs ride the dedup chain; unscorable pairs drop") {
    import spark.implicits._
    val srcDir = tmpDir("xmgate-src")
    val outDir = tmpDir("xmgate-out") + "/docs"
    val exactStore = tmpDir("xmgate-exact") + "/hashes"
    val nearStore = tmpDir("xmgate-near") + "/bands"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.types.StructField("iv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    def deliver(name: String, rows: Seq[(Long, String,
        Option[Seq[Double]], Option[Seq[Double]])]): Unit =
      rows.toDF("doc_id", "text", "cv", "iv")
        .withColumn("cv", col("cv").cast("array<double>"))
        .withColumn("iv", col("iv").cast("array<double>"))
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/$name")
    def drain(ckpt: String = tmpDir("xmgate-ckpt")): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.crossModalGate("cv", "iv", 0.25),
          Streams.exactDedup(Path(exactStore), "text", "doc_id"),
          Streams.nearDedup(Path(nearStore), "text", "doc_id")),
        outDir, ckpt).awaitTermination()
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val capA = (1 to 60).map(i => s"alpha$i caption$i word$i")
      .mkString(" ")
    val capB = (1 to 60).map(i => s"beta$i snippet$i token$i")
      .mkString(" ")
    val v = Some(Seq(1.0, 0.0, 0.0))
    val w = Some(Seq(0.0, 1.0, 0.0)) // orthogonal to v: alignment 0
    val ckpt1 = tmpDir("xmgate-ckpt1")
    deliver("b1", Seq(
      (1L, capA, v, v),      // aligned (cosine 1) — lands
      (2L, capB, v, w),      // misaligned — drops at the gate
      (3L, capB, v, None)))  // unscorable — drops at the gate
    drain(ckpt1)
    assert(survivors() === Seq(1L),
      "only the aligned pair may land")
    // the rejects never reached the exact store: capB's hash is unseen
    assert(graft.ingest.DedupStore.newUnique(
      Seq((50L, capB)).toDF("doc_id", "text"), "text", "doc_id",
      exactStore).count() === 1,
      "a gate reject must not poison the dedup history")
    // batch 2: an aligned duplicate of batch 1's survivor drops via
    // the store behind the gate; the previously-misaligned caption,
    // resubmitted WITH an aligned image, is judged afresh and lands
    deliver("b2", Seq(
      (10L, capA, v, v),     // exact dup of survivor — store drops it
      (11L, capB, w, w)))    // now aligned — judged afresh, lands
    drain(ckpt1)
    assert(survivors() === Seq(1L, 11L))
    // replay after checkpoint loss: committed batches skip — no-op
    drain(tmpDir("xmgate-ckpt2"))
    assert(survivors() === Seq(1L, 11L),
      "full-history replay must be a no-op")
  }

  test("contamination-gated feed inline self-maintenance: a " +
    "retraction backlog past the ceiling compacts mid-stream and the " +
    "sidecar rebuilds — the store inherits the family discipline") {
    import spark.implicits._
    val C = graft.ingest.ContaminationStore
    val SS = graft.ingest.StoreStats
    val srcDir = tmpDir("cmaint-src")
    val outDir = tmpDir("cmaint-out") + "/docs"
    val contamStore = tmpDir("cmaint-contam") + "/bench_grams"
    val exactStore = tmpDir("cmaint-exact") + "/hashes"
    val nearStore = tmpDir("cmaint-near") + "/bands"
    // a live benchmark, a retired one (pending tombstones), a sidecar
    C.recordBenchmark(Seq((900L, "held out benchmark phrase one"))
      .toDF("doc_id", "text"), "text", "doc_id", contamStore)
    C.recordBenchmark(Seq((901L, "retired benchmark phrase two"))
      .toDF("doc_id", "text"), "text", "doc_id", contamStore)
    C.buildBloomSidecar(spark, contamStore)
    C.retractBenchmark(Seq((901L, "retired benchmark phrase two"))
      .toDF("doc_id", "text"), "text", "doc_id", contamStore)
    assert(SS.of(spark, contamStore).tombstoneBytes > 0L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val leak = (1 to 40).map(i => s"w$i t$i").mkString(" ") +
      " held out benchmark phrase"
    val clean = (1 to 40).map(i => s"c$i fresh$i").mkString(" ")
    Seq((1L, clean), (2L, leak)).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("graft.tombstone.broadcast.maxBytes", "2")
      // the threshold under the store's size: maintenance keeps a
      // sidecar only on a store the plain probe cannot broadcast
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(SS.of(spark, contamStore).compactionDue)
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.contaminationGate("text", "doc_id", contamStore),
          Streams.exactDedup(Path(exactStore), "text", "doc_id"),
          Streams.nearDedup(Path(nearStore), "text", "doc_id")),
        outDir, tmpDir("cmaint-ckpt"),
        maintenanceEvery = 1).awaitTermination()
      val s = SS.of(spark, contamStore)
      assert(s.tombstoneBytes === 0L,
        "mid-stream compaction must clear the contamination backlog")
      assert(!s.compactionDue)
      assert(s.sidecarPresent && !s.sidecarStale,
        "maintenance must rebuild the contamination sidecar")
      // gate semantics held through maintenance: the live benchmark
      // still drops the leak, the clean doc landed
      assert(spark.read.parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSeq === Seq(1L))
      // the retired benchmark's rows are physically gone
      assert(spark.read.parquet(contamStore)
        .filter(col("bench_id") === 901L).count() === 0L)
    } finally {
      spark.conf.unset("graft.tombstone.broadcast.maxBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("blocklist-gated curation feed: a listed-domain doc drops on " +
    "every run before any store probe, rejects are never recorded, " +
    "and un-listing reopens the gate") {
    import spark.implicits._
    val srcDir = tmpDir("blgate-src")
    val outDir = tmpDir("blgate-out") + "/docs"
    val blocklist = tmpDir("blgate-list") + "/keys"
    val exactStore = tmpDir("blgate-exact") + "/hashes"
    val nearStore = tmpDir("blgate-near") + "/bands"
    graft.ingest.DedupStore.recordHashes(
      Seq(Tuple1("spam.example.com")).toDF("domain"), "domain",
      blocklist)
    graft.ingest.DedupStore.buildBloomSidecar(spark, blocklist)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("domain",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "domain", "text").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(ckpt: String): Unit =
      curationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        Seq(Streams.blocklistGate("domain", blocklist),
          Streams.exactDedup(Path(exactStore), "text", "doc_id"),
          Streams.nearDedup(Path(nearStore), "text", "doc_id")),
        outDir, ckpt).awaitTermination()
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val good = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
    val spamText = (1 to 60).map(i => s"beta$i item$i entry$i")
      .mkString(" ")
    val ckpt1 = tmpDir("blgate-ckpt1")
    deliver("b1", Seq(
      (1L, "good.example.com", good),
      (2L, "spam.example.com", spamText)))
    drain(ckpt1)
    assert(survivors() === Seq(1L), "the listed domain must drop")
    // the reject never reached the exact store
    assert(graft.ingest.DedupStore.newUnique(
      Seq((50L, spamText)).toDF("doc_id", "text"), "text", "doc_id",
      exactStore).count() === 1,
      "a gate reject must not poison the dedup history")
    // replay after checkpoint loss: no-op
    drain(tmpDir("blgate-ckpt2"))
    assert(survivors() === Seq(1L))
    // batch 2: a dup of the survivor drops via the store behind the
    // gate; the same TEXT from an unlisted domain is judged afresh
    deliver("b2", Seq(
      (10L, "fresh.example.com", good),
      (11L, "fresh.example.com", spamText)))
    drain(ckpt1)
    assert(survivors() === Seq(1L, 11L))
    // un-listing reopens: retract the domain, a new doc from it lands
    graft.ingest.DedupStore.retract(
      Seq(Tuple1("spam.example.com")).toDF("domain"), "domain",
      blocklist)
    deliver("b3", Seq(
      (20L, "spam.example.com",
        (1 to 60).map(i => s"gamma$i novel$i fresh$i").mkString(" "))))
    drain(ckpt1)
    assert(survivors() === Seq(1L, 11L, 20L),
      "an un-listed domain's fresh doc must land")
  }

  test("full-stack curation feed: blocklist, language, contamination, " +
    "quality, lm_score, exact, near, span as ONE feed in CCNet " +
    "production order; every gate's rejects drop before ANY later " +
    "store and are never recorded; the dedup legs work behind the " +
    "gates; replay is a no-op — and the OBSERVED form's per-batch " +
    "yield frames carry q150's outcome vocabulary, sum to the batch " +
    "decision-log counts over the fed corpus, conserve every " +
    "delivered document, sample rejects content-addressed, and " +
    "replay adds nothing") {
    import spark.implicits._
    val srcDir = tmpDir("fsc-src")
    val outDir = tmpDir("fsc-out") + "/docs"
    val blockStore = tmpDir("fsc-block") + "/domains"
    val contamStore = tmpDir("fsc-contam") + "/bench_grams"
    val exactStore = tmpDir("fsc-exact") + "/hashes"
    val nearStore = tmpDir("fsc-near") + "/bands"
    val spanStore = tmpDir("fsc-span") + "/windows"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("domain",
        org.apache.spark.sql.types.StringType)))
    // standing gate stores, registered offline (read-only in the feed)
    graft.ingest.DedupStore.recordHashes(
      Seq(Tuple1("bad.example.com")).toDF("domain"), "domain",
      blockStore)
    graft.ingest.DedupStore.buildBloomSidecar(spark, blockStore)
    val benchText = "held out eval question forty two exactly"
    graft.ingest.ContaminationStore.recordBenchmark(
      Seq((900L, benchText)).toDF("doc_id", "text"), "text", "doc_id",
      contamStore)
    graft.ingest.ContaminationStore.buildBloomSidecar(spark, contamStore)
    // literal quality model: every feature mildly good, the "spamword"
    // feature catastrophic (the qgate fixture)
    val dims = 512
    val spamFid = Seq(Tuple1(Seq("spamword"))).toDF("toks")
      .select(org.apache.spark.sql.functions.explode(
        graft.operators.QualityModel.featuresExpr("toks", dims)))
      .collect()(0).getLong(0)
    val dense = Seq.tabulate(dims)(i =>
      if (i.toLong == spamFid) -1000000L else 1000L)
    val ok = "ok.example.com"
    // with ~180 tokens per doc and 512 hashed features, some innocent
    // token collides with spamFid about 1 run in 3 — scrub those from
    // the generated filler so only the planted "spamword" can trip
    // the model gate (the benchmark shingle is asserted clean below)
    def fid(t: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 4), 16) % dims
    }
    def scrub(s: String): String =
      s.split(" ").filter(t => fid(t) != spamFid).mkString(" ")
    assert(Seq("eval", "question", "forty").forall(t =>
      fid(t) != spamFid), "fixture premise: benchmark shingle clean")
    val docA = scrub((1 to 60).map(i => s"alpha$i token$i word$i")
      .mkString(" "))
    val docB = scrub((1 to 60).map(i => s"beta$i item$i entry$i")
      .mkString(" "))
    // each reject is OTHERWISE ADMISSIBLE: it fails exactly one gate
    val blockedText = scrub((1 to 60).map(i => s"delta$i clean$i page$i")
      .mkString(" "))
    val leaky = scrub((1 to 30).map(i => s"epsil$i item$i entry$i")
      .mkString(" ")) + " eval question forty " +
      scrub((31 to 60).map(i => s"epsil$i item$i entry$i").mkString(" "))
    val spam = scrub((1 to 60).map(i => s"zeta$i spamish$i filler$i")
      .mkString(" ")) + " spamword"
    val gammaText = scrub((1 to 60)
      .map(i => s"gamma$i fresh$i novel$i").mkString(" "))
    // the LANGUAGE reject: pure xx-language material (disjoint
    // character trigrams), otherwise admissible
    val wrongLang = scrub((1 to 60).map(i => s"qz$i zq$i qqzz$i")
      .mkString(" "))
    // the LM-SCORE reject: English by trigram (in the LID train set)
    // but OUTSIDE the ULM vocab's training corpus — every character
    // is unseen, so each piece falls to the unk floor and its mean-ll
    // is the lowest possible
    val lowLm = scrub((1 to 60).map(i => s"jxv$i xvj$i vjx$i")
      .mkString(" "))
    // learned LID, trained OFFLINE on labeled data (the production
    // posture): every en fixture text labeled en, xx = the qz corpus
    val lidDims = 512
    val lidModels = graft.operators.LangId.collectModels(
      graft.operators.LangId.train(
        (Seq(docA, docB, blockedText, leaky, spam, gammaText, lowLm)
          .zipWithIndex.map { case (t, i) => (i.toLong, t, "en") } ++
          Seq((100L, wrongLang, "xx"),
            (101L, scrub((1 to 60).map(i => s"zzq$i qzz$i zqq$i")
              .mkString(" ")), "xx"))).toDF("doc_id", "text", "lang"),
        "text", "lang", lidDims), lidDims)
    // ULM vocab trained on the CLEAN corpus only (lowLm stays OOV)
    val ulmVocab = graft.operators.Ulm.train(
      Seq(docA, docB, blockedText, leaky, spam, gammaText).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      "text", maxLen = 4, maxVocab = 256, emRounds = 0)
    def ll(tx: String): Long = graft.operators.Ulm.scoreDocs(
      Seq((0L, tx)).toDF("doc_id", "text"), "text", ulmVocab, 4)
      .collect()(0).getAs[Long]("ll_mean_fp")
    val mashup = docA.substring(0, docA.length / 2) + " " +
      docB.substring(docB.length / 2)
    val footerDoc = docB + " " + scrub("appended footer line")
    // the cut: everything that must reach the dedup legs clears it,
    // the OOV doc falls below (premises asserted, not assumed)
    val minLl = Seq(docA, docB, gammaText, footerDoc, mashup)
      .map(ll).min
    assert(ll(lowLm) < minLl,
      "fixture premise: the OOV doc scores strictly lowest")
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "domain").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    // the OBSERVED form: per-stage yields + the full (100-slot)
    // content-addressed reject sample, written beside the commit
    val yieldRoot = tmpDir("fsc-yield")
    def drain(ckpt: String): Unit =
      graft.streaming.Streams.fullStackCurationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        "text", "doc_id", "domain", blockStore,
        lidModels, lidDims, Set("en"), contamStore,
        dense, 0L, dims, ulmVocab, minLl,
        exactStore, nearStore, spanStore,
        outDir, ckpt, yieldDir = Some(yieldRoot),
        rejectSampleSlots = 100).awaitTermination()
    val O = graft.operators.CurationOutcome
    def batchYields(): Map[(Long, String), Long] =
      spark.read.parquet(s"$yieldRoot/yields").collect()
        .map(r => (r.getAs[Long]("batch_id"),
          r.getAs[String]("outcome")) -> r.getAs[Long]("n_docs"))
        .toMap
    def cumulative(): Map[String, Long] =
      graft.streaming.Streams.readCurationYields(spark, yieldRoot)
        .collect().map(r => r.getAs[String]("outcome") ->
          r.getAs[Long]("n_docs")).toMap
    def sampledRejects(): Set[(Long, String)] =
      spark.read.parquet(s"$yieldRoot/rejects").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("stage")))
        .toSet
    def survivors(): Seq[Long] = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val ckpt1 = tmpDir("fsc-ckpt1")
    deliver("b1", Seq((1L, docA, ok), (2L, docB, ok),
      (3L, blockedText, "bad.example.com"), (4L, leaky, ok),
      (5L, spam, ok), (6L, wrongLang, ok), (7L, lowLm, ok)))
    val observedJobs = jobsPerBatch(drain(ckpt1))
    assert(survivors() === Seq(1L, 2L),
      "exactly the gate-clean docs must land")
    // batch-0 yields: one count per outcome label, first-drop
    // semantics — each planted reject charges exactly its gate
    assert(batchYields() === Map(
      (0L, O.Blocklisted) -> 1L, (0L, O.Language) -> 1L,
      (0L, O.Contaminated) -> 1L, (0L, O.Quality) -> 1L,
      (0L, O.LmScore) -> 1L, (0L, O.ExactDup) -> 0L,
      (0L, O.NearDup) -> 0L, (0L, O.SpanDup) -> 0L,
      (0L, O.Kept) -> 2L),
      "batch-0 per-stage yields must match the planted outcomes")
    // the 100-slot sample is the complete reject log: each reject
    // appears once, labelled with the stage that dropped it
    assert(sampledRejects() === Set(
      (3L, O.Blocklisted), (6L, O.Language), (4L, O.Contaminated),
      (5L, O.Quality), (7L, O.LmScore)),
      "the sampled reject log must name each reject's drop stage")
    // THE LAW: a stage's rejects never reach any later store — each
    // reject's content probes unseen in the exact, near, AND span
    // stores (rejects are dropped, never recorded), for ALL FIVE
    // gates including the two learned ones
    for ((id, tx) <- Seq((50L, blockedText), (51L, leaky), (52L, spam),
      (53L, wrongLang), (54L, lowLm))) {
      val d = Seq((id, tx)).toDF("doc_id", "text")
      assert(graft.ingest.DedupStore
        .newUnique(d, "text", "doc_id", exactStore).count() === 1,
        s"doc $id leaked into the exact store")
      assert(graft.ingest.NearDupStore
        .newNearUnique(d, "text", "doc_id", nearStore).count() === 1,
        s"doc $id leaked into the near store")
      assert(graft.ingest.SpanStore
        .newSpanUnique(d, "text", "doc_id", spanStore).count() === 1,
        s"doc $id leaked into the span store")
    }
    // batch 2 exercises the dedup legs BEHIND the gates: an exact
    // copy, a paraphrase, a half-and-half mashup (under the near
    // threshold — only the span store flags it), and fresh content —
    // all of which clear the two learned gates first (the ll premise
    // above covers every batch-2 text)
    deliver("b2", Seq(
      (10L, docA, ok),
      (11L, footerDoc, ok),
      (12L, mashup, ok),
      (13L, gammaText, ok)))
    val observedJobs1 = jobsPerBatch(drain(ckpt1))
    assert(survivors() === Seq(1L, 2L, 13L),
      "copy/paraphrase/mashup must drop via the store legs")
    // batch-1 yields: the dedup legs charge their own labels
    assert(batchYields().filter(_._1._1 == 1L) === Map(
      (1L, O.Blocklisted) -> 0L, (1L, O.Language) -> 0L,
      (1L, O.Contaminated) -> 0L, (1L, O.Quality) -> 0L,
      (1L, O.LmScore) -> 0L, (1L, O.ExactDup) -> 1L,
      (1L, O.NearDup) -> 1L, (1L, O.SpanDup) -> 1L,
      (1L, O.Kept) -> 1L),
      "batch-1 yields must charge the dedup stages")
    assert(sampledRejects().filter(_._1 >= 10L) === Set(
      (10L, O.ExactDup), (11L, O.NearDup), (12L, O.SpanDup)),
      "batch-1 sampled rejects must name the dedup stages")
    // THE YIELD LAW: cumulative streamed yields ARE the batch
    // decision log's GROUP BY outcome over the fed corpus (q150's
    // vocabulary and first-drop semantics), and they conserve every
    // delivered document: 11 fed = 8 dropped + 3 kept
    val cum = cumulative()
    assert(cum === Map(
      O.Blocklisted -> 1L, O.Language -> 1L, O.Contaminated -> 1L,
      O.Quality -> 1L, O.LmScore -> 1L, O.ExactDup -> 1L,
      O.NearDup -> 1L, O.SpanDup -> 1L, O.Kept -> 3L),
      "cumulative streamed yields must equal the batch outcome counts")
    assert(cum.keySet === (O.stages :+ O.Kept).toSet,
      "the yield vocabulary IS the q150 outcome vocabulary")
    assert(cum.values.sum === 11L,
      "yields must conserve every delivered document")
    // replay after checkpoint loss: committed batches skip — no-op
    // for survivors AND for the observability legs (no re-count, no
    // double-charge, no third batch directory)
    drain(tmpDir("fsc-ckpt2"))
    assert(survivors() === Seq(1L, 2L, 13L),
      "full-history replay must be a no-op")
    assert(cumulative() === cum,
      "replay must not recompute or double-count yields")
    assert(spark.read.parquet(s"$yieldRoot/yields")
      .select("batch_id").distinct().count() === 2L,
      "replay must add no yield batch")
    // THE WORK COUNTER: Spark jobs per observed micro-batch (one
    // barrier + count per stage, the yield and reject writes, the
    // commit, the three store records) — a composer that adds a
    // barrier changes this pin
    assert((observedJobs ++ observedJobs1).toSeq.sortBy(_._1._2)
      .map(_._2) === Seq(63, 64),
      "jobs per observed full-stack micro-batch changed")
  }

  test("full-stack curation feed against BUCKETED dedup tables: same " +
    "gate laws as the path form (rejects never reach any store), " +
    "dedup legs drop copies/paraphrases/mashups from catalog " +
    "history, replay is a no-op — and the shared observed runner " +
    "yields the same outcome accounting over catalog-table legs") {
    import spark.implicits._
    val srcDir = tmpDir("fscb-src")
    val outDir = tmpDir("fscb-out") + "/docs"
    val blockStore = tmpDir("fscb-block") + "/domains"
    val contamStore = tmpDir("fscb-contam") + "/bench_grams"
    val tables = Seq("graft_fscb_exact", "graft_fscb_near",
      "graft_fscb_span")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
    }
    try {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("domain",
          org.apache.spark.sql.types.StringType)))
      graft.ingest.DedupStore.recordHashes(
        Seq(Tuple1("bad.example.com")).toDF("domain"), "domain",
        blockStore)
      val benchText = "held out eval question forty two exactly"
      graft.ingest.ContaminationStore.recordBenchmark(
        Seq((900L, benchText)).toDF("doc_id", "text"), "text",
        "doc_id", contamStore)
      val dims = 512
      val spamFid = Seq(Tuple1(Seq("spamword"))).toDF("toks")
        .select(org.apache.spark.sql.functions.explode(
          graft.operators.QualityModel.featuresExpr("toks", dims)))
        .collect()(0).getLong(0)
      def fid(t: String): Long = {
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(h.substring(0, 4), 16) % dims
      }
      def scrub(s: String): String =
        s.split(" ").filter(t => fid(t) != spamFid).mkString(" ")
      val dense = Seq.tabulate(dims)(i =>
        if (i.toLong == spamFid) -1000000L else 1000L)
      val ok = "ok.example.com"
      val docA = scrub((1 to 60).map(i => s"alpha$i token$i word$i")
        .mkString(" "))
      val docB = scrub((1 to 60).map(i => s"beta$i item$i entry$i")
        .mkString(" "))
      val leaky = scrub((1 to 30).map(i => s"epsil$i item$i entry$i")
        .mkString(" ")) + " eval question forty " +
        scrub((31 to 60).map(i => s"epsil$i item$i entry$i")
          .mkString(" "))
      val spam = scrub((1 to 60).map(i => s"zeta$i spamish$i filler$i")
        .mkString(" ")) + " spamword"
      val gammaText = scrub((1 to 60)
        .map(i => s"gamma$i fresh$i novel$i").mkString(" "))
      val wrongLang = scrub((1 to 60).map(i => s"qz$i zq$i qqzz$i")
        .mkString(" "))
      val lowLm = scrub((1 to 60).map(i => s"jxv$i xvj$i vjx$i")
        .mkString(" "))
      val lidDims = 512
      val lidModels = graft.operators.LangId.collectModels(
        graft.operators.LangId.train(
          (Seq(docA, docB, leaky, spam, gammaText, lowLm)
            .zipWithIndex.map { case (t, i) => (i.toLong, t, "en") } ++
            Seq((100L, wrongLang, "xx"),
              (101L, scrub((1 to 60).map(i => s"zzq$i qzz$i zqq$i")
                .mkString(" ")), "xx"))).toDF("doc_id", "text", "lang"),
          "text", "lang", lidDims), lidDims)
      val ulmVocab = graft.operators.Ulm.train(
        Seq(docA, docB, leaky, spam, gammaText).zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
        "text", maxLen = 4, maxVocab = 256, emRounds = 0)
      def ll(tx: String): Long = graft.operators.Ulm.scoreDocs(
        Seq((0L, tx)).toDF("doc_id", "text"), "text", ulmVocab, 4)
        .collect()(0).getAs[Long]("ll_mean_fp")
      val mashup = docA.substring(0, docA.length / 2) + " " +
        docB.substring(docB.length / 2)
      val footerDoc = docB + " " + scrub("appended footer line")
      val minLl = Seq(docA, docB, gammaText, footerDoc, mashup)
        .map(ll).min
      assert(ll(lowLm) < minLl,
        "fixture premise: the OOV doc scores strictly lowest")
      def deliver(name: String, rows: Seq[(Long, String, String)]): Unit =
        rows.toDF("doc_id", "text", "domain").coalesce(1).write
          .mode("overwrite").parquet(s"$srcDir/$name")
      val yieldRoot = tmpDir("fscb-yield")
      def drain(ckpt: String): Unit =
        curationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(srcDir),
          Streams.fullStackStages("text", "doc_id", "domain", blockStore,
            lidModels, lidDims, Set("en"), contamStore,
            dense, 0L, dims, ulmVocab, minLl,
            Bucketed(tables(0)), Bucketed(tables(1)), Bucketed(tables(2))),
          outDir, ckpt, yieldDir = Some(yieldRoot)).awaitTermination()
      def survivors(): Seq[Long] = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val ckpt1 = tmpDir("fscb-ckpt1")
      deliver("b1", Seq((1L, docA, ok), (2L, docB, ok),
        (3L, docA, "bad.example.com"), (4L, leaky, ok), (5L, spam, ok),
        (6L, wrongLang, ok), (7L, lowLm, ok)))
      drain(ckpt1)
      assert(survivors() === Seq(1L, 2L), "gate-clean docs only")
      // gate rejects never recorded in the bucketed catalog either:
      // the leaky/spam/wrong-language/low-LM texts probe as new
      // against all three tables
      for ((id, tx) <- Seq((51L, leaky), (52L, spam),
        (53L, wrongLang), (54L, lowLm))) {
        val d = Seq((id, tx)).toDF("doc_id", "text")
        assert(graft.ingest.DedupStore
          .newUnique(d, "text", "doc_id", Bucketed(tables(0)))
          .count() === 1, s"doc $id leaked into the exact table")
        assert(graft.ingest.NearDupStore
          .newNearUnique(d, "text", "doc_id", Bucketed(tables(1)))
          .count() === 1, s"doc $id leaked into the near table")
        assert(graft.ingest.SpanStore
          .newSpanUnique(d, "text", "doc_id", Bucketed(tables(2)))
          .count() === 1, s"doc $id leaked into the span table")
      }
      // dedup legs behind the gates, against catalog history — note
      // doc 3's blocklisted COPY of docA did not poison the store:
      // docA's hash is recorded exactly once (from doc 1)
      deliver("b2", Seq(
        (10L, docA, ok),
        (11L, footerDoc, ok),
        (12L, mashup, ok),
        (13L, gammaText, ok)))
      drain(ckpt1)
      assert(survivors() === Seq(1L, 2L, 13L),
        "copy/paraphrase/mashup must drop via the bucketed legs")
      // the observed runner over catalog legs: cumulative yields are
      // the decision-log counts (doc 3 is a blocklisted COPY of docA
      // — charged to the blocklist stage, never the exact table)
      val O = graft.operators.CurationOutcome
      assert(graft.streaming.Streams
        .readCurationYields(spark, yieldRoot).collect()
        .map(r => r.getAs[String]("outcome") -> r.getAs[Long]("n_docs"))
        .toMap === Map(
          O.Blocklisted -> 1L, O.Language -> 1L, O.Contaminated -> 1L,
          O.Quality -> 1L, O.LmScore -> 1L, O.ExactDup -> 1L,
          O.NearDup -> 1L, O.SpanDup -> 1L, O.Kept -> 3L),
        "bucketed-leg yields must match the planted outcomes")
      // replay no-op
      drain(tmpDir("fscb-ckpt2"))
      assert(survivors() === Seq(1L, 2L, 13L))
      assert(spark.read.parquet(s"$yieldRoot/yields")
        .select("batch_id").distinct().count() === 2L,
        "replay must add no yield batch")
    } finally tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
    }
  }

  test("full-stack feed with MAIN-CONTENT extraction: every later " +
    "stage judges the extracted content — two pages differing only " +
    "in boilerplate dedup as exact copies, and shared boilerplate " +
    "never collides fresh content (the boilerplate-invariance law)") {
    import spark.implicits._
    val srcDir = tmpDir("mce-src")
    val outDir = tmpDir("mce-out") + "/docs"
    val blockStore = tmpDir("mce-block") + "/domains"
    val contamStore = tmpDir("mce-contam") + "/bench_grams"
    val exactStore = tmpDir("mce-exact") + "/hashes"
    val nearStore = tmpDir("mce-near") + "/bands"
    val spanStore = tmpDir("mce-span") + "/windows"
    // standing gate stores hold only unrelated entries — every page is
    // gate-clean, so the test isolates the extraction semantics
    graft.ingest.DedupStore.recordHashes(
      Seq(Tuple1("unrelated.example.com")).toDF("domain"), "domain",
      blockStore)
    graft.ingest.ContaminationStore.recordBenchmark(
      Seq((900L, "completely unrelated benchmark material here"))
        .toDF("doc_id", "text"), "text", "doc_id", contamStore)
    val contentA = (1 to 30).map(i => s"alpha$i story$i detail$i")
      .mkString(" ")
    val contentB = (1 to 30).map(i => s"beta$i report$i figure$i")
      .mkString(" ")
    val navX = "<nav>home | <a href=\"/m\">menu items here</a></nav>"
    val navY = "<div>see <a href=\"/z\">other links entirely</a> " +
      "now</div>"
    def page(content: String, boiler: String): String =
      boiler + "\n<p>" + content + "</p>\n" +
        "<footer>copyright 2026 example corp</footer>"
    val lidDims = 512
    val lidModels = graft.operators.LangId.collectModels(
      graft.operators.LangId.train(
        Seq((1L, contentA, "en"), (2L, contentB, "en"),
          (3L, (1 to 30).map(i => s"qz$i zq$i qqzz$i").mkString(" "),
            "xx"),
          (4L, (1 to 30).map(i => s"zzq$i qzz$i zqq$i").mkString(" "),
            "xx")).toDF("doc_id", "text", "lang"),
        "text", "lang", lidDims), lidDims)
    val ulmVocab = graft.operators.Ulm.train(
      Seq((1L, contentA), (2L, contentB)).toDF("doc_id", "text"),
      "text", maxLen = 4, maxVocab = 256, emRounds = 0)
    val dims = 512
    val dense = Seq.fill(dims)(1000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("domain",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "domain").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(ckpt: String): Unit =
      graft.streaming.Streams.fullStackCurationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        "text", "doc_id", "domain", blockStore,
        lidModels, lidDims, Set("en"), contamStore,
        dense, 0L, dims, ulmVocab, Long.MinValue,
        exactStore, nearStore, spanStore,
        outDir, ckpt, extractMainContent = true).awaitTermination()
    val ok = "ok.example.com"
    val ckpt = tmpDir("mce-ckpt")
    deliver("b1", Seq((1L, page(contentA, navX), ok)))
    val plainJobs = jobsPerBatch(drain(ckpt))
    val landed = spark.read.parquet(outDir)
    assert(landed.select("doc_id").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    // the committed text IS the extracted content, not the page
    assert(landed.select("text").collect()(0).getString(0) === contentA,
      "committed text must be the extracted main content")
    // batch 2: same content under DIFFERENT boilerplate → exact dup;
    // fresh content under doc 1's boilerplate → lands
    deliver("b2", Seq((2L, page(contentA, navY), ok),
      (3L, page(contentB, navX), ok)))
    val plainJobs1 = jobsPerBatch(drain(ckpt))
    assert(spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L),
      "boilerplate-only variant must dedup; shared boilerplate must " +
        "not collide fresh content")
    // THE WORK COUNTER: Spark jobs per plain (one composed plan)
    // full-stack micro-batch — pinned so a composer that adds a
    // barrier fails here, not only in the benchmark
    assert((plainJobs ++ plainJobs1).toSeq.sortBy(_._1._2)
      .map(_._2) === Seq(26, 31),
      "jobs per plain full-stack micro-batch changed")
  }

  test("work-counter pin: the benchmark's feed configuration — the " +
    "observed full-stack feed with inline upkeep every batch — runs " +
    "a fixed job count per batch, and its small dedup stores keep no " +
    "Bloom sidecar") {
    import spark.implicits._
    val srcDir = tmpDir("mfs-src")
    val outDir = tmpDir("mfs-out") + "/docs"
    val blockStore = tmpDir("mfs-block") + "/domains"
    val contamStore = tmpDir("mfs-contam") + "/bench_grams"
    val stores = tmpDir("mfs-stores")
    val Seq(exactStore, nearStore, spanStore) =
      Seq("hashes", "bands", "windows").map(n => s"$stores/$n")
    // standing gate stores with their sidecars, built offline as the
    // benchmark builds them
    graft.ingest.DedupStore.recordHashes(
      Seq(Tuple1("unrelated.example.com")).toDF("domain"), "domain",
      blockStore)
    graft.ingest.DedupStore.buildBloomSidecar(spark, blockStore)
    graft.ingest.ContaminationStore.recordBenchmark(
      Seq((900L, "completely unrelated benchmark material here"))
        .toDF("doc_id", "text"), "text", "doc_id", contamStore)
    graft.ingest.ContaminationStore.buildBloomSidecar(spark, contamStore)
    val docA = (1 to 60).map(i => s"alpha$i story$i detail$i")
      .mkString(" ")
    val docB = (1 to 60).map(i => s"beta$i report$i figure$i")
      .mkString(" ")
    val docC = (1 to 60).map(i => s"gamma$i novel$i fresh$i")
      .mkString(" ")
    val lidDims = 512
    val lidModels = graft.operators.LangId.collectModels(
      graft.operators.LangId.train(
        Seq((1L, docA, "en"), (2L, docB, "en"),
          (3L, (1 to 30).map(i => s"qz$i zq$i qqzz$i").mkString(" "),
            "xx"),
          (4L, (1 to 30).map(i => s"zzq$i qzz$i zqq$i").mkString(" "),
            "xx")).toDF("doc_id", "text", "lang"),
        "text", "lang", lidDims), lidDims)
    val ulmVocab = graft.operators.Ulm.train(
      Seq((1L, docA), (2L, docB)).toDF("doc_id", "text"),
      "text", maxLen = 4, maxVocab = 256, emRounds = 0)
    val dims = 512
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("domain",
        org.apache.spark.sql.types.StringType)))
    def deliver(name: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "text", "domain").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    val yieldRoot = tmpDir("mfs-yield")
    val ckpt = tmpDir("mfs-ckpt")
    def drain(): Unit =
      graft.streaming.Streams.fullStackCurationFeed(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        "text", "doc_id", "domain", blockStore,
        lidModels, lidDims, Set("en"), contamStore,
        Seq.fill(dims)(1000L), 0L, dims, ulmVocab, Long.MinValue,
        exactStore, nearStore, spanStore, outDir, ckpt,
        maintenanceEvery = 1, yieldDir = Some(yieldRoot))
        .awaitTermination()
    val ok = "ok.example.com"
    deliver("b1", Seq((1L, docA, ok), (2L, docB, ok)))
    val jobs0 = jobsPerBatch(drain())
    // batch 2: an exact copy, a paraphrase, a half-and-half mashup and
    // fresh content
    deliver("b2", Seq((10L, docA, ok), (11L, docB + " appended footer", ok),
      (12L, docA.substring(0, docA.length / 2) + " " +
        docB.substring(docB.length / 2), ok),
      (13L, docC, ok)))
    val jobs1 = jobsPerBatch(drain())
    assert(spark.read.parquet(outDir).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 13L))
    for (store <- Seq(exactStore, nearStore, spanStore))
      assert(!graft.ingest.StoreStats.of(spark, store).sidecarPresent &&
        !new java.io.File(s"$store.bloom").exists,
        s"inline upkeep built a sidecar on the small store $store")
    // THE WORK COUNTER: Spark jobs per maintained observed micro-batch
    assert((jobs0 ++ jobs1).toSeq.sortBy(_._1._2).map(_._2) ===
      Seq(54, 60), "jobs per maintained observed full-stack micro-batch " +
      "changed")
  }

  test("quality-gated feed FROM the maintained snapshot: gating " +
    "equals the one-shot-trained literal gate (the maintainer-to-" +
    "serving loop closed end to end)") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    val dims = 512
    // maintain the model over the corpus
    val qmSrc = tmpDir("qsnap-qmsrc")
    val statsPath = tmpDir("qsnap-stats") + "/quality"
    val qmCkpt = tmpDir("qsnap-qmckpt")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$qmSrc/b1")
    graft.streaming.Streams.maintainQualityModel(
      spark.readStream.schema(docs.schema)
        .option("recursiveFileLookup", "true").parquet(qmSrc),
      statsPath, qmCkpt).awaitTermination()
    // one-shot control model (q110/q111's own derivation)
    val QM = graft.operators.QualityModel
    val labeled = graft.queries.LlmPipeline.qualityLabeledOf(docs)
    val w = QM.train(labeled, "toks", "y", dims)
    val dense = QM.collectWeights(w, dims)
    val thFp = QM.threshold(labeled, "toks", "y", w, dims)
      .collect()(0).getLong(0)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def runFeed(tag: String)(
        start: (org.apache.spark.sql.DataFrame, String, String, String,
          String, String)
          => org.apache.spark.sql.streaming.StreamingQuery): Set[Long] = {
      val srcDir = tmpDir(s"qsnap-$tag-src")
      val outDir = tmpDir(s"qsnap-$tag-out") + "/docs"
      docs.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
      start(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        tmpDir(s"qsnap-$tag-exact") + "/hashes",
        tmpDir(s"qsnap-$tag-near") + "/bands",
        tmpDir(s"qsnap-$tag-span") + "/windows",
        outDir, tmpDir(s"qsnap-$tag-ckpt")).awaitTermination()
      spark.read
        .schema(schema.add("content_hash",
          org.apache.spark.sql.types.StringType))
        .parquet(outDir).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    def stores(ex: String, nr: String, sp: String): Seq[Streams.Stage] =
      Seq(Streams.exactDedup(Path(ex), "text", "doc_id"),
        Streams.nearDedup(Path(nr), "text", "doc_id"),
        Streams.spanDedup(Path(sp), "text", "doc_id"))
    val control = runFeed("lit") { (src, ex, nr, sp, out, ck) =>
      curationFeed(src,
        Streams.qualityGate("text", dense, thFp, dims) +:
          stores(ex, nr, sp), out, ck)
    }
    val fromSnap = runFeed("snap") { (src, ex, nr, sp, out, ck) =>
      curationFeed(src,
        Streams.qualityGateFromSnapshot("text", statsPath, docs, dims) +:
          stores(ex, nr, sp), out, ck)
    }
    assert(fromSnap === control,
      "snapshot-resolved gating diverged from the one-shot literal gate")
    assert(fromSnap.nonEmpty && fromSnap.size < docs.count(),
      "the gate must split the corpus for the parity to mean anything")
  }

  test("incremental count-min sketch: streamed batches equal one " +
    "recompute, estimates stay one-sided, replay is idempotent") {
    import spark.implicits._
    val C = graft.operators.CountMin
    val srcDir = java.nio.file.Files.createTempDirectory("cm-src").toString
    val path = java.nio.file.Files
      .createTempDirectory("cm-sketch").toString + "/sketch"
    val ckpt = java.nio.file.Files.createTempDirectory("cm-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    def deliver(name: String, keys: Seq[Long]): Unit =
      keys.toDF("k").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(): Unit = graft.streaming.Streams.maintainCountMin(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      "k", path, ckpt).awaitTermination()
    def cells(): Map[(Int, Long), Long] =
      graft.streaming.Streams.readTermStats(spark, path)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    val b1 = Seq(1L, 1L, 1L, 2L, 3L)
    val b2 = Seq(1L, 2L, 2L, 4L)
    deliver("b1", b1); drain()
    deliver("b2", b2); drain()
    val got = cells()
    // the maintained sketch IS the one-shot sketch of the union —
    // cell-wise mergeability, the property the streaming form rides
    val expect = C.build((b1 ++ b2).toDF("k"), "k")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got === expect)
    // estimates from the maintained snapshot: one-sided over all keys
    val truth = (b1 ++ b2).groupBy(identity).view.mapValues(_.size.toLong)
    val est = C.estimate(
        graft.streaming.Streams.readTermStats(spark, path),
        truth.keys.toSeq.toDF("k"), "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    truth.foreach { case (k, n) =>
      assert(est(k) >= n, s"estimate below truth for $k: ${est(k)} < $n")
    }
    // replay: wipe the checkpoint; the already-committed batch ids
    // must skip, not double-count
    val fs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    drain()
    assert(cells() === got, "replayed batch must not double-count")
  }

  test("incremental quantile histogram: streamed batches equal one " +
    "recompute and quantiles answer off the live snapshot") {
    import spark.implicits._
    val Q = graft.operators.QuantileSketch
    val srcDir = java.nio.file.Files.createTempDirectory("qh-src").toString
    val path = java.nio.file.Files
      .createTempDirectory("qh-hist").toString + "/hist"
    val ckpt = java.nio.file.Files.createTempDirectory("qh-ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType)))
    def deliver(name: String, rows: Seq[(String, Long)]): Unit =
      rows.toDF("g", "x").coalesce(1).write
        .mode("overwrite").parquet(s"$srcDir/$name")
    def drain(): Unit = graft.streaming.Streams.maintainQuantileHistogram(
      spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true").parquet(srcDir),
      "x", Seq("g"), path, ckpt).awaitTermination()
    val b1 = (1L to 60L).map(i => ("a", i * 10))
    val b2 = (61L to 100L).map(i => ("a", i * 10)) ++
      Seq(("b", 5L), ("b", 7L), ("b", 9L))
    deliver("b1", b1); drain()
    deliver("b2", b2); drain()
    def cellMap(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val snap = graft.streaming.Streams.readTermStats(spark, path)
    assert(cellMap(snap) === cellMap(
      Q.build((b1 ++ b2).toDF("g", "x"), "x", Seq("g"))),
      "maintained histogram diverged from the one-shot build")
    // quantiles straight off the snapshot: group b is in the exact
    // region (values < 32 map to themselves), so p50 is literal
    val qs = Q.quantiles(snap, Seq("g"), Seq(("p50", 1L, 2L)))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(qs("b") === 7L)
    // group a: 100 values 10..1000, p50 = rank-50 value 500 → its
    // bucket lower bound is within the 2^-5 relative contract
    assert(qs("a") <= 500L && 500L <= qs("a") + qs("a") / 32 + 1)
  }

  test("index-side inline self-maintenance: a retraction backlog past " +
    "the half-ceiling triggers vacuumRetracted mid-stream, the fresh " +
    "generation carries the batch's append, and the PQ sidecar is " +
    "auto-rebuilt because the pre-vacuum generation had one") {
    import spark.implicits._
    val A = graft.operators.AnnIndex
    val IS = graft.operators.IndexStats
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = e.filter(col("vec_id").between(1, 4)).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray)).toSeq
    val root = java.nio.file.Files.createTempDirectory("idx-selfmaint")
      .toString + "/index"
    val srcDir = java.nio.file.Files
      .createTempDirectory("idx-selfmaint-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("idx-selfmaint-ckpt").toString
    val g1 = A.writeIndex(e, cents, root)
    A.buildPqSidecar(spark, root, m = 8, k = 8, iters = 1)
    // pending takedowns — and a lowered ceiling so the backlog reads
    // past half of it (the vacuumDue trigger)
    A.retract(spark, root, Seq(1L, 2L))
    assert(IS.stats(spark, root).retractedBytes > 0L)
    val fresh = e.filter(col("vec_id") === 7L)
      .select(col("vec_id") + 500000L, col("v"))
      .toDF("vec_id", "v")
    fresh.coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    spark.conf.set("graft.tombstone.broadcast.maxBytes", "2")
    try {
      assert(IS.stats(spark, root).vacuumDue)
      graft.streaming.Streams.indexIngestStreamVersioned(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        root, ckpt, maintenanceEvery = 1).awaitTermination()
    } finally spark.conf.unset("graft.tombstone.broadcast.maxBytes")
    val s = IS.stats(spark, root)
    assert(s.generation !== g1,
      "the mid-stream vacuum must have installed a fresh generation")
    assert(s.retractedFiles === 0 && !s.vacuumDue,
      "the vacuum must have cleared the retraction backlog")
    // the batch appended into the pre-vacuum generation BEFORE the
    // maintenance ran — the rewrite must carry it forward
    val ids = spark.read.parquet(A.current(spark, root).dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(500007L),
      "the vacuum dropped the batch's own append")
    assert(!ids.contains(1L) && !ids.contains(2L),
      "retracted rows survived the vacuum physically")
    // the pre-vacuum generation HAD a sidecar, so maintenance must
    // rebuild one on the fresh generation — covering everything,
    // including the appended row
    assert(s.pqPresent && !s.sidecarRebuildDue,
      "maintenance must rebuild the PQ sidecar after its own vacuum")
    assert(s.pqResidualFiles === 0)
  }

  test("semantic-dedup-gated index ingest: an indexed near-duplicate " +
    "is dropped, within-batch copies keep only the first, novel " +
    "vectors append, replay is a no-op, and a later copy of an " +
    "APPENDED vector is dropped cross-run") {
    import spark.implicits._
    val A = graft.operators.AnnIndex
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = graft.operators.KMeans.trainCollected(e, 1L to 8L, 1)
    val root = java.nio.file.Files.createTempDirectory("ivf-semstream")
      .toString + "/index"
    val srcDir = java.nio.file.Files
      .createTempDirectory("ivf-semstream-src").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("ivf-semstream-ckpt").toString
    val g1 = A.writeIndex(e, cents, root)
    // sidecar ON: the gate serves candidates from the PQ codes; the
    // gate's own appends carry no codes, so every later batch must
    // see them through the covered-watermark residual leg — this test
    // exercises that composition end to end
    A.buildPqSidecar(spark, root, m = 8, k = 8, iters = 1)
    val before = spark.read.parquet(s"$root/$g1").count()
    val q0 = e.filter(col("vec_id") === 0).collect()(0).getSeq[Double](1)
    val v5 = e.filter(col("vec_id") === 5).collect()(0).getSeq[Double](1)
    val novel1 = q0.map(x => -x) // cosine −1 to vec 0, ~0 to the rest
    val novel2 = v5.map(x => -x)
    // one delivery: an indexed copy, two novel vectors, and a
    // within-batch copy of the second novel one
    Seq((300000L, q0), (300001L, novel1), (300002L, novel2),
      (300003L, novel2))
      .toDF("vec_id", "v").coalesce(1).write.parquet(s"$srcDir/d1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    def drain(): Unit = graft.streaming.Streams
      .semanticDedupIngestStream(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true").parquet(srcDir),
        root, ckpt, tau = 0.9, nprobe = 2).awaitTermination()
    drain()
    def indexed(): Set[Long] = spark.read.parquet(s"$root/$g1")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val after1 = indexed()
    assert(spark.read.parquet(s"$root/$g1").count() === before + 2,
      "exactly the two novel vectors should have appended")
    assert(after1.contains(300001L) && after1.contains(300002L))
    assert(!after1.contains(300000L),
      "a copy of an indexed vector slipped past the gate")
    assert(!after1.contains(300003L),
      "the within-batch copy slipped past the gate (first id wins)")
    // replay no-op: the checkpoint already covers d1
    drain()
    assert(indexed() === after1, "replay re-appended survivors")
    // cross-run: a later copy of the APPENDED novel1 is now a dup of
    // a record that only exists through the gated append path
    Seq((300004L, novel1)).toDF("vec_id", "v")
      .coalesce(1).write.parquet(s"$srcDir/d2")
    drain()
    assert(!indexed().contains(300004L),
      "a copy of a gate-appended vector was not recognized cross-run")
    assert(indexed() === after1)
    // id-level replay guard: a RE-DELIVERY of an already-indexed id
    // (at-least-once upstream, or a crash between the parquet append
    // and the streaming commit) must not append a second row — the
    // probe reads a self-match as "same record", so only the
    // generation-id anti-join stands between re-delivery and a
    // duplicate row in the serving index
    Seq((300001L, novel1)).toDF("vec_id", "v")
      .coalesce(1).write.parquet(s"$srcDir/d3")
    drain()
    assert(spark.read.parquet(s"$root/$g1")
      .filter(col("vec_id") === 300001L).count() === 1L,
      "re-delivered id appended a duplicate row")
    assert(spark.read.parquet(s"$root/$g1").count() === before + 2)
    // post-retrain window: the new generation has NO PQ sidecar, so
    // the gate must fall back to the float probe — composed with the
    // appender's anti-joins and strand guard, a copy of a retained
    // vector still drops
    val g2 = A.retrain(spark, root, iters = 1)
    val g2count = spark.read.parquet(s"$root/$g2").count()
    Seq((300006L, novel1)).toDF("vec_id", "v")
      .coalesce(1).write.parquet(s"$srcDir/d4")
    drain()
    assert(spark.read.parquet(s"$root/$g2").count() === g2count,
      "the float-probe fallback gate let a duplicate append " +
        "post-retrain (no sidecar)")
    // r14 (the r13 advice gap): two near-duplicates in ONE batch that
    // STRADDLE a centroid boundary — each argmax-assigned to a
    // different list — must still pair within-batch, because pairing
    // runs over the union of each vector's top-nprobe lists (the
    // cross-run probe's window), not the top-1 list alone. Construct
    // the pair on the bisector of the two most-similar current
    // centroids, each nudged toward its own side, and assert the
    // construction really straddles before asserting the gate holds.
    val cents2 = A.current(spark, root).centroids
    def cos(x: Seq[Double], y: Seq[Double]): Double = {
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      dot / (math.sqrt(x.map(p => p * p).sum) *
        math.sqrt(y.map(p => p * p).sum))
    }
    def argmaxCid(x: Seq[Double]): Int =
      cents2.map { case (cid, cv) => (cid, cos(x, cv.toSeq)) }
        .sortBy { case (cid, c) => (-c, cid) }.head._1
    val Seq((cidA, cA), (cidB, cB)) = cents2
      .combinations(2).map(_.toSeq)
      .maxBy { case Seq((_, x), (_, y)) => cos(x.toSeq, y.toSeq) }
    def unit(x: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(x.map(p => p * p).sum); x.map(_ / n)
    }
    val (ua, ub) = (unit(cA.toSeq), unit(cB.toSeq))
    val mid = ua.zip(ub).map { case (p, q) => p + q }
    val straddleA = mid.zip(ua).map { case (m, p) => m + 0.05 * p }
    val straddleB = mid.zip(ub).map { case (m, p) => m + 0.05 * p }
    assert(argmaxCid(straddleA) === cidA && argmaxCid(straddleB) === cidB,
      "construction must straddle the centroid boundary")
    assert(cos(straddleA, straddleB) >= 0.9,
      "construction must be a near-duplicate pair")
    Seq((300007L, straddleA), (300008L, straddleB))
      .toDF("vec_id", "v").coalesce(1).write.parquet(s"$srcDir/d5")
    drain()
    val finalIds = spark.read.parquet(s"$root/$g2")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!(finalIds.contains(300007L) && finalIds.contains(300008L)),
      "a boundary-straddling within-batch near-dup pair BOTH appended " +
        "(the r13 top-1-pairing gap)")
    assert(!finalIds.contains(300008L),
      "among a within-batch pair the lower id must win")
  }
}
