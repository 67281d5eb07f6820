package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ingest.{HashForm, Ingest, Warehouse}
import graft.ingest.StoreLayout.Bucketed

/** Reference-parity ingest behavior on the shipped dirty fixtures
  * (FIXTURES.md; reference: etl/app.py + init-db/init.sql constraints).
  */
class IngestSpec extends SparkSuite {
  import org.apache.spark.sql.Row

  // The three shipped Excel fixtures, re-created in-code (FIXTURES.md §1).
  private def clientsCsv: String =
    """client_id,nom,prenom,email,telephone,adresse
      |CLI001,Dupont,Jean,jean.dupont@email.com,612345678," 1 rue de Paris, Paris"
      |CLI002,Martin,Sophie,s.martin@email.com,723456789,"2 avenue Lyon, Lyon"
      |CLI003,Dupont,Jean,jean.dupont@email.com,612345678," 1 rue de Paris, Paris"
      |""".stripMargin
  private def produitsCsv: String =
    """produit_id,nom,categorie,prix_unitaire,stock_disponible,description
      |PRO001,USB ,informatique,5000,100,une clé usb de qualité
      |PRO002,Odinateur,informatique,5000,100,une clé usb de qualité
      |""".stripMargin
  private def ventesCsv: String =
    """vente_id,client_id,produit_id,quantite,prix_total,date_vente
      |VNT001,CLI001,PRO001,2,10000,45787.604166666664
      |""".stripMargin

  private def writeFile(dir: String, name: String, content: String): Unit =
    Files.writeString(java.nio.file.Paths.get(dir, name), content)

  test("O4/O11 jsonl: a line-delimited JSON delivery ingests through " +
    "the same validate/coerce/dedup pipeline as csv") {
    val watch = tmpDir("watch-jsonl")
    val wh = new Warehouse(spark, tmpDir("wh-jsonl"))
    // one duplicate business key (CLI001) — idempotent dedup must keep 2
    writeFile(watch, "clients.jsonl",
      """{"client_id":"CLI001","nom":"Dupont","prenom":"Jean","email":"j@e.com","telephone":"612","adresse":"1 rue"}
        |{"client_id":"CLI002","nom":"Martin","prenom":"Sophie","email":"s@e.com","telephone":"723","adresse":"2 av"}
        |{"client_id":"CLI001","nom":"Dupont","prenom":"Jean","email":"j@e.com","telephone":"612","adresse":"1 rue"}
        |""".stripMargin)
    assert(wh.pollOnce(watch) === Map("clients.jsonl" -> "success"))
    val got = wh.table("clients").get
    assert(got.count() === 2)
    assert(got.schema("client_id").dataType
      === org.apache.spark.sql.types.StringType)
    assert(got.select("source_file").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("clients.jsonl"))
    // a jsonl file missing a required column → error status, no append
    writeFile(watch, "produits.jsonl",
      """{"produit_id":"P1","nom":"Stylo"}
        |""".stripMargin)
    assert(wh.pollOnce(watch) === Map("produits.jsonl" -> "error"))
    assert(wh.table("produits").isEmpty
      || wh.table("produits").get.count() === 0)
  }

  test("cross-run content dedup: new batches drop everything ever seen, " +
    "formatting variants included; unrecorded batches re-deliver") {
    import spark.implicits._
    val store = tmpDir("dedupstore") + "/hashes"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    // batch 1: three docs, one internal re-delivery (same content)
    val b1 = batch((1L, "alpha beta"), (2L, "gamma"), (3L, "ALPHA  beta"))
    val n1 = graft.ingest.DedupStore.newUnique(b1, "text", "doc_id", store)
    assert(n1.select("doc_id").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L)) // 3 is a formatting variant of 1 → min-id keeper
    // crash before recordHashes: the SAME batch re-delivers in full
    val again = graft.ingest.DedupStore.newUnique(b1, "text", "doc_id",
      store)
    assert(again.count() === 2)
    graft.ingest.DedupStore.recordHashes(n1, "text", store)
    // batch 2: one overlap with run 1 (different doc_id, same content),
    // one genuinely new
    val b2 = batch((9L, "gamma"), (10L, "delta epsilon"))
    val n2 = graft.ingest.DedupStore.newUnique(b2, "text", "doc_id", store)
    assert(n2.select("doc_id").collect().map(_.getLong(0)).toSeq
      === Seq(10L))
    graft.ingest.DedupStore.recordHashes(n2, "text", store)
    // batch 3: everything already seen → empty
    val b3 = batch((20L, "ALPHA BETA"), (21L, "delta  epsilon"))
    assert(graft.ingest.DedupStore
      .newUnique(b3, "text", "doc_id", store).count() === 0)
    // null text == empty content: one keeper now, suppressed forever
    // after (md5(null) would be an unmatchable null key)
    val b4 = batch((30L, null), (31L, ""))
    val n4 = graft.ingest.DedupStore.newUnique(b4, "text", "doc_id", store)
    assert(n4.select("doc_id").collect().map(_.getLong(0)).toSeq
      === Seq(30L))
    graft.ingest.DedupStore.recordHashes(n4, "text", store)
    assert(graft.ingest.DedupStore
      .newUnique(batch((40L, null)), "text", "doc_id", store)
      .count() === 0)
  }

  test("cross-run content dedup: compactStore collapses re-delivered " +
    "hash rows to one per hash without changing anti-join answers") {
    import spark.implicits._
    val store = tmpDir("dedupstore-compact") + "/hashes"
    val b1 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val n1 = graft.ingest.DedupStore.newUnique(b1, "text", "doc_id", store)
    // at-least-once: the same survivors recorded twice (crash between
    // persist and record, then the retry records again)
    graft.ingest.DedupStore.recordHashes(n1, "text", store)
    graft.ingest.DedupStore.recordHashes(n1, "text", store)
    assert(spark.read.parquet(store).count() === 4) // 2 hashes × 2
    val (_, _) = graft.ingest.DedupStore.compactStore(spark, store, 1L << 20)
    assert(spark.read.parquet(store).count() === 2)
    assert(spark.read.parquet(store).distinct().count() === 2)
    // dedup answers unchanged: old content still suppressed, new passes
    val b2 = Seq((3L, "ALPHA"), (4L, "gamma")).toDF("doc_id", "text")
    assert(graft.ingest.DedupStore
      .newUnique(b2, "text", "doc_id", store)
      .select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(4L))
    // missing store path: maintenance is a no-op, not an error
    assert(graft.ingest.DedupStore
      .compactStore(spark, tmpDir("dedupstore-none") + "/never") === ((0, 0)))
  }

  test("cross-run content dedup: an empty store DIRECTORY (crashed " +
    "first append) degrades to an empty store, not an error") {
    import spark.implicits._
    val store = tmpDir("dedupstore-empty") + "/hashes"
    assert(new java.io.File(store).mkdirs()) // dir exists, no data files
    val docs = Seq((1L, "alpha")).toDF("doc_id", "text")
    val n = graft.ingest.DedupStore.newUnique(docs, "text", "doc_id", store)
    assert(n.count() === 1) // empty store ⇒ everything is new
    // maintenance on the same zero-data-file state: a no-op, not an
    // UNABLE_TO_INFER_SCHEMA error (the compaction reads its explicit
    // input file list, and an empty list stages nothing)
    assert(graft.ingest.DedupStore.compactStore(spark, store) === ((0, 0)))
  }

  test("store barriers free their blocks: recordHashes and retract on " +
    "a path store leave no persisted RDD behind") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val sc = spark.sparkContext
    val store = tmpDir("dedupstore-barrier") + "/hashes"
    val docs = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val before = sc.getPersistentRDDs.keySet
    D.recordHashes(docs, "text", store)
    D.retract(docs.filter(col("doc_id") === 1L), "text", store)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"store barriers left RDDs cached: $leaked")
    assert(D.newUnique(docs, "text", "doc_id", store)
      .select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("cross-run content dedup: staged record (no localCheckpoint) is " +
    "append-equivalent — durable for executor-loss windows") {
    import spark.implicits._
    val store = tmpDir("dedupstore-staged") + "/hashes"
    val b1 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    val n1 = graft.ingest.DedupStore.newUnique(b1, "text", "doc_id", store)
    graft.ingest.DedupStore.recordHashesStaged(n1, "text", store)
    // no staging siblings left behind
    val parent = new java.io.File(store).getParentFile.listFiles.map(_.getName)
    assert(!parent.exists(_.contains(".stage-")), parent.toSeq)
    // recorded hashes suppress re-delivery, new content passes
    val b2 = Seq((3L, "ALPHA"), (4L, "gamma")).toDF("doc_id", "text")
    val n2 = graft.ingest.DedupStore.newUnique(b2, "text", "doc_id", store)
    assert(n2.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(4L))
    // a second staged record of the same survivors (at-least-once
    // retry) is reclaimed by compaction, same as the checkpoint form
    graft.ingest.DedupStore.recordHashesStaged(n1, "text", store)
    graft.ingest.DedupStore.compactStore(spark, store)
    assert(spark.read.parquet(store).count() === 2)
  }

  test("cross-run content dedup: Bloom sidecar fast path answers " +
    "exactly like the plain anti-join across staleness, compaction, " +
    "and missing-sidecar fallback") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val store = tmpDir("dedupstore-bloom") + "/hashes"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // no sidecar yet → identical to the plain path (fallback branch)
    val b1 = batch((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
    val n1 = D.newUnique(b1, "text", "doc_id", store)
    assert(ids(n1) === Seq(1L, 2L, 3L))
    D.recordHashes(n1, "text", store)
    // empty/missing store: sidecar build is a no-op reporting 0
    assert(D.buildBloomSidecar(spark,
      tmpDir("dedupstore-bloom-none") + "/never") === 0L)
    assert(D.buildBloomSidecar(spark, store) === 3L)
    // covered duplicate pruned by the filter path; novel row passes
    val b2 = batch((9L, "ALPHA"), (10L, "delta"))
    val n2 = D.newUnique(b2, "text", "doc_id", store)
    assert(ids(n2) === Seq(10L))
    D.recordHashes(n2, "text", store)
    // STALE sidecar: "delta" was recorded after the build, so it lives
    // only in residual files — a bloom miss alone must not pass it
    val b3 = batch((20L, "delta  "), (21L, "epsilon"))
    val n3 = D.newUnique(b3, "text", "doc_id", store)
    assert(ids(n3) === Seq(21L))
    D.recordHashes(n3, "text", store)
    // compaction rewrites the store under NEW file names: every covered
    // name vanishes, the residual degrades to the full store, answers
    // stay exact (and the all-covered-files-gone branch must not throw)
    D.compactStore(spark, store, 1L << 20)
    val b4 = batch((30L, "epsilon"), (31L, "zeta"))
    assert(ids(D.newUnique(b4, "text", "doc_id", store))
      === Seq(31L))
    // equality law on one mixed batch (dups, novel, null text), same
    // store state for both paths: row-identical outputs
    val b5 = batch((40L, "alpha"), (41L, "ETA"), (42L, "eta"), (43L, null))
    val plain = D.newUnique(b5, "text", "doc_id", plainTwin(store))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("content_hash"))).toSet
    val bloomed = D.newUnique(b5, "text", "doc_id", store)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("content_hash"))).toSet
    assert(bloomed === plain)
    // rebuild after compaction restores the prune and the contract
    // holds (store = alpha, beta, gamma, delta, epsilon)
    assert(D.buildBloomSidecar(spark, store) === 5L)
    val b6 = batch((50L, "epsilon"), (51L, "theta"))
    assert(ids(D.newUnique(b6, "text", "doc_id", store))
      === Seq(51L))
  }

  test("bucketed dedup store: same cross-run semantics as the path " +
    "form; compaction collapses re-deliveries; a crashed swap recovers") {
    import spark.implicits._
    val table = "graft_dedup_lifecycle"
    val staging = table + "_compact_stage"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    try {
      val D = graft.ingest.DedupStore
      val b1 = Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "ALPHA  beta"))
        .toDF("doc_id", "text")
      val n1 = D.newUnique(b1, "text", "doc_id", Bucketed(table))
      assert(n1.select("doc_id").collect().map(_.getLong(0)).sorted
        === Array(1L, 2L)) // formatting variant collapses to min-id keeper
      // crash before record: the same batch re-delivers in full
      assert(D.newUnique(b1, "text", "doc_id", Bucketed(table)).count() === 2)
      // at-least-once: the persisted survivor set recorded twice (crash
      // mid-record, retry re-records). Pinned first — the contract says
      // record from the persisted read-back, not the live anti-join
      // plan, which would see its own first record and go empty.
      val n1mat = n1.localCheckpoint(true)
      D.recordHashes(n1mat, "text", Bucketed(table))
      D.recordHashes(n1mat, "text", Bucketed(table))
      assert(spark.table(table).count() === 4) // 2 hashes × 2 deliveries
      assert(D.compactStore(spark, Bucketed(table)) === ((4L, 2L)))
      assert(spark.table(table).count() === 2)
      // the swapped-in table kept its bucket spec: a bucketed append
      // still works (it would throw on a non-bucketed table)…
      val b2 = Seq((9L, "gamma"), (10L, "delta")).toDF("doc_id", "text")
      val n2 = D.newUnique(b2, "text", "doc_id", Bucketed(table))
      assert(n2.select("doc_id").collect().map(_.getLong(0)).toSeq
        === Seq(10L))
      D.recordHashes(n2, "text", Bucketed(table))
      // …and the catalog agrees
      assert(spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
        .exists(r => r.getString(0) == "Num Buckets"))
      // crashed swap (death between DROP and RENAME): only the staging
      // table exists — entry-time recovery installs it
      val hashesBefore = spark.table(table).collect()
        .map(_.getString(0)).sorted.toSeq
      graft.layout.Layout.writeBucketed(
        spark.table(table).localCheckpoint(true), staging, 8, "content_hash")
      spark.sql(s"DROP TABLE $table")
      D.ensureStore(spark, Bucketed(table))
      assert(spark.table(table).collect().map(_.getString(0)).sorted.toSeq
        === hashesBefore)
      assert(!spark.catalog.tableExists(staging))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $staging")
    }
  }

  test("bucketed dedup store: Bloom sidecar preserves exact answers " +
    "and vanishes with compaction's directory swap") {
    import spark.implicits._
    val table = "graft_dedup_bloom"
    val staging = table + "_compact_stage"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS $staging")
    try {
      val D = graft.ingest.DedupStore
      def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // no sidecar yet → fallback branch, everything new
      val b1 = batch((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      val n1 = D.newUnique(b1, "text", "doc_id", Bucketed(table))
      assert(ids(n1) === Seq(1L, 2L, 3L))
      D.recordHashes(n1.localCheckpoint(true), "text", Bucketed(table))
      assert(D.buildBloomSidecar(spark, Bucketed(table)) === 3L)
      // covered dup pruned via the bloom-hit zero-exchange table join;
      // novel row proven new by the (empty) residual alone
      val b2 = batch((9L, "ALPHA"), (10L, "delta"))
      val n2 = D.newUnique(b2, "text", "doc_id", Bucketed(table))
      assert(ids(n2) === Seq(10L))
      D.recordHashes(n2.localCheckpoint(true), "text", Bucketed(table))
      // STALE sidecar: "delta" lives only in post-build residual files —
      // a bloom miss alone must not pass it
      val b3 = batch((20L, "delta  "), (21L, "epsilon"))
      assert(ids(D.newUnique(b3, "text", "doc_id", Bucketed(table)))
        === Seq(21L))
      // equality law vs the plain bucketed path on a mixed batch
      val b4 = batch((30L, "beta"), (31L, "zeta"), (32L, "ZETA"), (33L, null))
      val plain = D.newUnique(b4, "text", "doc_id",
        Bucketed(plainTwinTable(table)))
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[String]("content_hash"))).toSet
      val bloomed = D.newUnique(b4, "text", "doc_id", Bucketed(table))
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[String]("content_hash"))).toSet
      assert(bloomed === plain)
      // compaction swaps in a staging directory WITHOUT a sidecar: the
      // bloom path must degrade to the plain bucketed join, not consult
      // dead covered-file names — and answers stay exact
      D.compactStore(spark, Bucketed(table))
      val b5 = batch((40L, "DELTA"), (41L, "eta"))
      assert(ids(D.newUnique(b5, "text", "doc_id", Bucketed(table)))
        === Seq(41L))
      // rebuild restores the prune over the compacted history
      assert(D.buildBloomSidecar(spark, Bucketed(table)) === 4L)
      assert(ids(D.newUnique(batch((50L, "gamma"), (51L, "theta")),
        "text", "doc_id", Bucketed(table))) === Seq(51L))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS $staging")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_plain_twin")
    }
  }

  test("cross-run NEAR dedup: paraphrase-level variants of recorded " +
    "documents are flagged via banded signatures, unrelated and " +
    "unrecorded content passes, verification beats lone band noise") {
    import spark.implicits._
    val N = graft.ingest.NearDupStore
    val store = tmpDir("neardupstore") + "/bands"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "body")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
    val doc2 = (1 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
    val b1 = batch((1L, doc1), (2L, doc2))
    // empty store: everything new; unrecorded batches re-deliver
    assert(ids(N.newNearUnique(b1, "body", "id", store)) === Seq(1L, 2L))
    assert(ids(N.newNearUnique(b1, "body", "id", store)) === Seq(1L, 2L))
    N.recordSignatures(b1, "body", "id", store)
    // batch 2: an exact copy, a light edit (footer appended — the
    // near-dup an exact hash misses), and genuinely new content
    val b2 = batch(
      (10L, doc1),
      (11L, doc2 + " edited trailing footer line"),
      (12L, (1 to 60).map(i => s"gamma$i fresh$i novel$i").mkString(" ")))
    val n2 = N.newNearUnique(b2, "body", "id", store)
    assert(ids(n2) === Seq(12L), "copy and paraphrase must be flagged")
    // original columns survive the anti-join untouched
    assert(n2.columns.toSeq === Seq("id", "body"))
    N.recordSignatures(n2, "body", "id", store)
    // the newly recorded doc now suppresses its own re-delivery
    assert(N.newNearUnique(batch((20L, b2.collect()
      .find(_.getLong(0) == 12L).get.getString(1))), "body", "id", store)
      .count() === 0)
    // sub-shingle documents (< 3 tokens → no signature) are the exact
    // store's job: never flagged, never recorded, never crash
    assert(ids(N.newNearUnique(batch((30L, "tiny doc")), "body", "id",
      store)) === Seq(30L))
    N.recordSignatures(batch((30L, "tiny doc")), "body", "id", store)
    assert(ids(N.newNearUnique(batch((31L, "tiny doc")), "body", "id",
      store)) === Seq(31L))
    // at-least-once re-record, then maintenance collapses to one row
    // per (band_key, sig) without changing answers
    N.recordSignatures(b1, "body", "id", store)
    N.compactStore(spark, store, 1L << 20)
    val stored = spark.read.parquet(store)
    assert(stored.count() === stored.distinct().count())
    assert(N.newNearUnique(batch((40L, doc1 + " another small edit")),
      "body", "id", store).count() === 0)
    // null ids do not slip the history check: the anti-join is
    // null-safe, so a null-id paraphrase of recorded content is
    // flagged (all null-id rows are ONE identity — see the scaladoc),
    // while a null-id row with genuinely new content survives
    val novel = (1 to 60).map(i => s"delta$i null$i case$i").mkString(" ")
    val nullableSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("body",
        org.apache.spark.sql.types.StringType)))
    def nullIdBatch(body: String) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row(null, body))), nullableSchema)
    assert(N.newNearUnique(nullIdBatch(doc1 + " near duplicate tail"),
      "body", "id", store).count() === 0,
      "null-id near-duplicate of history escaped the anti-join")
    assert(N.newNearUnique(nullIdBatch(novel), "body", "id", store)
      .count() === 1)
  }

  test("cross-run SPAN dedup: a document assembled from recorded " +
    "passages is flagged even though exact and near stores both miss " +
    "it; small recycled fragments and short docs pass; stride scales " +
    "the threshold") {
    import spark.implicits._
    val S = graft.ingest.SpanStore
    val store = tmpDir("spanstore") + "/windows"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "body")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 30).map(i => f"alpha$i%02d lake$i%02d").mkString(" ")
    val doc2 = (1 to 30).map(i => f"beta$i%02d stone$i%02d").mkString(" ")
    val b1 = batch((1L, doc1), (2L, doc2))
    // empty store: everything survives; unrecorded batches re-deliver
    assert(ids(S.newSpanUnique(b1, "body", "id", store)) === Seq(1L, 2L))
    assert(ids(S.newSpanUnique(b1, "body", "id", store)) === Seq(1L, 2L))
    S.recordWindows(b1, "body", "id", store)
    // the mashup case the exact and near stores structurally miss: a
    // doc stitched from passages of TWO different recorded documents
    // (fresh whole-doc hash; ~half-similarity to each single doc)
    val mashup = doc1.substring(10, 160) + " " + doc2.substring(5, 155)
    val fresh = (1 to 30).map(i => f"gamma$i%02d reed$i%02d").mkString(" ")
    val fragment = fresh.substring(0, 120) + " " +
      doc1.substring(20, 60) + " " + fresh.substring(120)
    val b2 = batch((10L, mashup), (11L, fresh), (12L, fragment))
    val n2 = S.newSpanUnique(b2, "body", "id", store)
    assert(ids(n2) === Seq(11L, 12L),
      "mashup must be flagged; fresh and below-threshold fragment pass")
    assert(n2.columns.toSeq === Seq("id", "body"))
    S.recordWindows(n2, "body", "id", store)
    // the recorded fresh doc now suppresses its own re-delivery
    assert(S.newSpanUnique(batch((20L, fresh)), "body", "id", store)
      .count() === 0)
    // sub-window documents (< 32 chars): never flagged, never recorded
    assert(ids(S.newSpanUnique(batch((30L, "short doc")), "body", "id",
      store)) === Seq(30L))
    S.recordWindows(batch((30L, "short doc")), "body", "id", store)
    assert(ids(S.newSpanUnique(batch((31L, "short doc")), "body", "id",
      store)) === Seq(31L))
    // at-least-once re-record, then maintenance collapses to one row
    // per hash without changing answers
    S.recordWindows(b1, "body", "id", store)
    S.compactStore(spark, store, 1L << 20)
    val stored = spark.read.parquet(store)
    assert(stored.count() === stored.distinct().count())
    assert(S.newSpanUnique(batch((40L, mashup)), "body", "id", store)
      .count() === 0)
    // null ids are one identity through the null-safe anti-join
    val nullableSchema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("body", StringType)))
    def nullIdBatch(body: String) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, body))), nullableSchema)
    assert(S.newSpanUnique(nullIdBatch(mashup), "body", "id", store)
      .count() === 0, "null-id mashup of history escaped the anti-join")
    assert(S.newSpanUnique(nullIdBatch(
      (1 to 30).map(i => f"delta$i%02d moss$i%02d").mkString(" ")),
      "body", "id", store).count() === 1)
    // strided store: 1/4 of windows recorded. The stride is PERSISTED
    // with the store and the probe scales the threshold itself — the
    // caller passes the same semantic 0.5 as against an unstrided store
    val strided = tmpDir("spanstore-strided") + "/windows"
    S.recordWindows(batch((50L, doc1)), "body", "id", strided, stride = 4)
    assert(S.storedStride(spark, strided) === 4)
    assert(S.newSpanUnique(batch((51L, doc1)), "body", "id", strided)
      .count() === 0,
      "copy of a stride-4-recorded doc escaped the auto-scaled threshold")
    assert(S.newSpanUnique(batch((52L, fresh)), "body", "id", strided)
      .count() === 1)
    // the persisted stride survives compaction (sibling file, untouched
    // by the directory swap) and keeps scaling the probe
    S.compactStore(spark, strided, 1L << 20)
    assert(S.storedStride(spark, strided) === 4)
    assert(S.newSpanUnique(batch((53L, doc1)), "body", "id", strided)
      .count() === 0)
    // re-recording at the same stride is fine; a DIFFERENT stride on a
    // non-empty store is refused (mixed-stride shares are undefined)
    S.recordWindows(batch((54L, doc2)), "body", "id", strided, stride = 4)
    intercept[IllegalArgumentException] {
      S.recordWindows(batch((55L, fresh)), "body", "id", strided,
        stride = 2)
    }
  }

  test("SPAN store bloom sidecar: bloom path equals plain path at " +
    "every staleness state — fresh, stale-with-residual, post-compaction, " +
    "and missing-sidecar fallback") {
    import spark.implicits._
    val S = graft.ingest.SpanStore
    val store = tmpDir("spanstore-bloom") + "/windows"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 30).map(i => f"alpha$i%02d lake$i%02d").mkString(" ")
    val doc2 = (1 to 30).map(i => f"beta$i%02d stone$i%02d").mkString(" ")
    val doc3 = (1 to 30).map(i => f"gamma$i%02d reed$i%02d").mkString(" ")
    // no sidecar yet → fallback branch, identical to the plain path
    val b1 = batch((1L, doc1), (2L, doc2))
    val n1 = S.newSpanUnique(b1, "text", "doc_id", store)
    assert(ids(n1) === Seq(1L, 2L))
    S.recordWindows(n1, "text", "doc_id", store)
    // empty/missing store: sidecar build is a no-op reporting 0
    assert(S.buildBloomSidecar(spark,
      tmpDir("spanstore-bloom-none") + "/never") === 0L)
    assert(S.buildBloomSidecar(spark, store) > 0L)
    // covered mashup flagged through the filter path; novel doc passes
    val mashup12 = doc1.substring(10, 160) + " " + doc2.substring(5, 155)
    val n2 = S.newSpanUnique(
      batch((9L, mashup12), (10L, doc3)), "text", "doc_id", store)
    assert(ids(n2) === Seq(10L))
    S.recordWindows(n2, "text", "doc_id", store)
    // STALE sidecar: doc3 was recorded after the build — its windows
    // live only in residual files; a bloom miss alone must not pass a
    // copy of it
    val n3 = S.newSpanUnique(
      batch((20L, doc3), (21L, (1 to 30).map(i =>
        f"delta$i%02d moss$i%02d").mkString(" "))),
      "text", "doc_id", store)
    assert(ids(n3) === Seq(21L))
    // compaction rewrites under new file names: covered names vanish,
    // residual degrades to the full store, answers stay exact
    S.compactStore(spark, store, 1L << 20)
    assert(ids(S.newSpanUnique(batch((30L, doc1)), "text",
      "doc_id", store)) === Seq())
    // equality law on one mixed batch (a recorded copy, a mashup
    // straddling covered+residual history, fresh, short) at the
    // current store state: row-identical outputs on both paths
    val mixed = batch((40L, doc1), (41L, mashup12),
      (42L, doc3.substring(0, 150) + " " + doc1.substring(150)),
      (43L, (1 to 30).map(i => f"eps$i%02d fern$i%02d").mkString(" ")),
      (44L, "short doc"))
    assert(ids(S.newSpanUnique(mixed, "text", "doc_id", store))
      === ids(S.newSpanUnique(mixed, "text", "doc_id", plainTwin(store))))
    // pooled-identity share under a STALE sidecar: rebuild, then record
    // fresh content so residual files exist, then deliver a null-id
    // cohort of copies of RECORDED history. The cohort's pooled share
    // is 1.0 and every row must drop on BOTH paths — a position dedup
    // across the bloom legs would halve the pooled share and leak the
    // whole cohort (the r10 review catch).
    S.buildBloomSidecar(spark, store)
    val late = (1 to 30).map(i => f"late$i%02d vine$i%02d").mkString(" ")
    S.recordWindows(batch((60L, late)), "text", "doc_id", store)
    val nullableSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("text", StringType)))
    val cohort = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(null, doc1), Row(null, late), Row(null, doc2))),
      nullableSchema)
    assert(S.newSpanUnique(cohort, "text", "doc_id", plainTwin(store))
      .count() === 0)
    assert(S.newSpanUnique(cohort, "text", "doc_id", store)
      .count() === 0,
      "stale-sidecar bloom path leaked the pooled null-id cohort")
  }

  test("PATH near store Bloom sidecar: answers exactly like the plain " +
    "band join across no-sidecar fallback, fresh, stale-residual, and " +
    "post-compaction states (r14 — the family asymmetry closed)") {
    import spark.implicits._
    val N = graft.ingest.NearDupStore
    val store = tmpDir("nearstore-bloom") + "/bands"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
    val doc2 = (1 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
    val doc3 = (1 to 60).map(i => s"gamma$i fresh$i novel$i").mkString(" ")
    // no sidecar yet → fallback branch, identical to the plain path
    val b1 = batch((1L, doc1), (2L, doc2))
    assert(ids(N.newNearUnique(b1, "text", "doc_id", store))
      === Seq(1L, 2L))
    N.recordSignatures(b1, "text", "doc_id", store)
    // fresh sidecar: paraphrase of recorded content flagged via the
    // hit leg; fresh doc passes
    assert(N.buildBloomSidecar(spark, store) > 0L)
    assert(ids(N.newNearUnique(
      batch((10L, doc1 + " edited trailing footer"), (11L, doc3)),
      "text", "doc_id", store)) === Seq(11L))
    // STALE sidecar: doc3 recorded after the build lives only in
    // residual files — its paraphrase must still be flagged (the
    // miss leg's residual join), and truly-novel content passes
    N.recordSignatures(batch((30L, doc3)), "text", "doc_id", store)
    assert(ids(N.newNearUnique(
      batch((31L, doc3 + " late footer"),
        (32L, (1 to 60).map(i => s"delta$i null$i case$i")
          .mkString(" "))),
      "text", "doc_id", store)) === Seq(32L))
    // equality law on one mixed batch, same store state both paths
    val b4 = batch((40L, doc1 + " tiny edit"), (41L, doc2),
      (42L, (1 to 60).map(i => s"eps$i zx$i qq$i").mkString(" ")))
    assert(ids(N.newNearUnique(b4, "text", "doc_id", store))
      === ids(N.newNearUnique(b4, "text", "doc_id", plainTwin(store))))
    // compaction rewrites file names → every covered name vanishes;
    // the probe degrades to the exact plan, answers unchanged, and a
    // rebuild restores the prune
    N.compactStore(spark, store)
    assert(ids(N.newNearUnique(
      batch((50L, doc2 + " another tiny edit")), "text", "doc_id",
      store)) === Seq())
    assert(N.buildBloomSidecar(spark, store) > 0L)
    assert(ids(N.newNearUnique(
      batch((51L, doc1 + " yet another edit"), (52L, (1 to 60)
        .map(i => s"zeta$i brand$i new$i").mkString(" "))),
      "text", "doc_id", store)) === Seq(52L))
    // StoreStats now sees the near store's sidecar like its siblings'
    val st = graft.ingest.StoreStats.of(spark, store)
    assert(st.sidecarPresent && !st.sidecarStale)
  }

  test("bucketed NEAR store: path-store answers reproduced through the " +
    "catalog table across record, bloom, stale-residual, and compaction " +
    "states") {
    import spark.implicits._
    val N = graft.ingest.NearDupStore
    val table = "graft_ingest_near_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    try {
      def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val doc1 = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
      val doc2 = (1 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
      val doc3 = (1 to 60).map(i => s"gamma$i fresh$i novel$i").mkString(" ")
      val b1 = batch((1L, doc1), (2L, doc2))
      assert(ids(N.newNearUnique(b1, "text", "doc_id", Bucketed(table)))
        === Seq(1L, 2L))
      N.recordSignatures(b1, "text", "doc_id", Bucketed(table))
      // paraphrase of recorded content flagged; fresh passes
      assert(ids(N.newNearUnique(
        batch((10L, doc1 + " edited trailing footer"), (11L, doc3)),
        "text", "doc_id", Bucketed(table))) === Seq(11L))
      // bloom fast path: same answers
      assert(N.buildBloomSidecar(spark, Bucketed(table)) > 0L)
      assert(ids(N.newNearUnique(
        batch((20L, doc2 + " small appended edit"), (21L, doc3)),
        "text", "doc_id", Bucketed(table))) === Seq(21L))
      // stale sidecar: doc3 recorded after the build lives only in
      // residual files — its paraphrase must still be flagged
      N.recordSignatures(batch((30L, doc3)), "text", "doc_id",
        Bucketed(table))
      assert(ids(N.newNearUnique(
        batch((31L, doc3 + " late footer"),
          (32L, (1 to 60).map(i => s"delta$i null$i case$i")
            .mkString(" "))),
        "text", "doc_id", Bucketed(table))) === Seq(32L))
      // re-record + compaction: distinct rows, answers exact
      N.recordSignatures(b1, "text", "doc_id", Bucketed(table))
      val (before, after) = N.compactStore(spark, Bucketed(table))
      assert(before > after && after > 0L)
      assert(spark.table(table).count()
        === spark.table(table).distinct().count())
      assert(ids(N.newNearUnique(
        batch((40L, doc1 + " another tiny edit")), "text", "doc_id",
        Bucketed(table))) === Seq())
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    }
  }

  test("bucketed SPAN store: path-store answers reproduced through the " +
    "catalog table across record, bloom, stale-residual, and compaction " +
    "states") {
    import spark.implicits._
    val S = graft.ingest.SpanStore
    val table = "graft_ingest_span_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    try {
      def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val doc1 = (1 to 30).map(i => f"alpha$i%02d lake$i%02d").mkString(" ")
      val doc2 = (1 to 30).map(i => f"beta$i%02d stone$i%02d").mkString(" ")
      val doc3 = (1 to 30).map(i => f"gamma$i%02d reed$i%02d").mkString(" ")
      // empty table: everything survives; unrecorded re-delivers
      val b1 = batch((1L, doc1), (2L, doc2))
      assert(ids(S.newSpanUnique(b1, "text", "doc_id", Bucketed(table)))
        === Seq(1L, 2L))
      S.recordWindows(b1, "text", "doc_id", Bucketed(table))
      // mashup of recorded passages flagged; fresh passes
      val mashup = doc1.substring(10, 160) + " " + doc2.substring(5, 155)
      assert(ids(S.newSpanUnique(batch((10L, mashup), (11L, doc3)),
        "text", "doc_id", Bucketed(table))) === Seq(11L))
      // bloom sidecar: same answers through the fast path
      assert(S.buildBloomSidecar(spark, Bucketed(table)) > 0L)
      assert(ids(S.newSpanUnique(
        batch((20L, mashup), (21L, doc3)), "text", "doc_id", Bucketed(table)))
        === Seq(21L))
      // stale sidecar: doc3 recorded AFTER the build lives only in
      // residual table files — a bloom miss must not pass its copy
      S.recordWindows(batch((30L, doc3)), "text", "doc_id", Bucketed(table))
      assert(ids(S.newSpanUnique(
        batch((31L, doc3),
          (32L, (1 to 30).map(i => f"delta$i%02d moss$i%02d")
            .mkString(" "))),
        "text", "doc_id", Bucketed(table))) === Seq(32L))
      // at-least-once re-record, compaction collapses; answers exact;
      // the swap retires the in-table sidecar with the old directory
      S.recordWindows(b1, "text", "doc_id", Bucketed(table))
      val (before, after) = S.compactStore(spark, Bucketed(table))
      assert(before > after && after > 0L)
      assert(spark.table(table).count()
        === spark.table(table).distinct().count())
      assert(ids(S.newSpanUnique(
        batch((40L, mashup)), "text", "doc_id", Bucketed(table))) === Seq())
      // strided recording composes with the catalog form — on a FRESH
      // table (a different stride over a non-empty store is refused):
      // the stride rides a graft.* table property, the probe scales the
      // semantic 0.5 itself, and compaction's staging swap carries the
      // property across
      val stridedTable = "span_store_bucketed_strided_spec"
      spark.sql(s"DROP TABLE IF EXISTS $stridedTable")
      spark.sql(s"DROP TABLE IF EXISTS ${stridedTable}_compact_stage")
      try {
        val fresh2 = (1 to 30).map(i => f"eps$i%02d fern$i%02d").mkString(" ")
        S.recordWindows(batch((50L, fresh2)), "text", "doc_id",
          Bucketed(stridedTable), stride = 4)
        assert(S.storedStride(spark, Bucketed(stridedTable)) === 4)
        assert(ids(S.newSpanUnique(batch((51L, fresh2)), "text",
          "doc_id", Bucketed(stridedTable))) === Seq())
        intercept[IllegalArgumentException] {
          S.recordWindows(batch((52L, doc3)), "text", "doc_id",
            Bucketed(stridedTable), stride = 2)
        }
        S.compactStore(spark, Bucketed(stridedTable))
        assert(S.storedStride(spark, Bucketed(stridedTable)) === 4,
          "stride property lost across the compaction staging swap")
        assert(ids(S.newSpanUnique(batch((53L, fresh2)), "text",
          "doc_id", Bucketed(stridedTable))) === Seq())
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $stridedTable")
        spark.sql(s"DROP TABLE IF EXISTS ${stridedTable}_compact_stage")
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    }
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("Generations: a reader across install/crash sees only complete " +
    "generations — the manifest commits only after the build returns, " +
    "a crashed build leaves the previous generation serving, the " +
    "predecessor is retained one cycle for in-flight readers, and no " +
    "step renames a directory or targets an existing destination") {
    val G = graft.ingest.Generations
    val root = new org.apache.hadoop.fs.Path(tmpDir("genroot"), "store")
    val fs = root.getFileSystem(
      spark.sessionState.newHadoopConf())
    def write(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      val out = fs.create(p, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    def read(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(G.resolve(fs, root).isEmpty, "empty root resolves to nothing")
    val g1 = G.install(fs, root) { gen =>
      write(new org.apache.hadoop.fs.Path(gen, "data"), "v1")
    }
    assert(G.resolve(fs, root).contains(g1))
    assert(read(new org.apache.hadoop.fs.Path(g1, "data")) === "v1")
    // crashed build: the partial generation gains NO manifest — a
    // concurrent reader still resolves the old complete generation
    intercept[RuntimeException] {
      G.install(fs, root) { gen =>
        write(new org.apache.hadoop.fs.Path(gen, "data"), "partial")
        sys.error("builder died mid-install")
      }
    }
    assert(G.resolve(fs, root).contains(g1),
      "a crashed build must leave the previous generation serving")
    assert(read(new org.apache.hadoop.fs.Path(g1, "data")) === "v1")
    // a reader pins g1 just before a swap: the install retains it
    val pinned = G.resolve(fs, root).get
    val g2 = G.install(fs, root) { gen =>
      write(new org.apache.hadoop.fs.Path(gen, "data"), "v2")
    }
    assert(G.resolve(fs, root).contains(g2))
    assert(read(new org.apache.hadoop.fs.Path(pinned, "data")) === "v1",
      "the in-flight reader's generation must survive one swap")
    // the crashed build's junk generation was GC'd by the install
    val gens = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    assert(gens === Set(g1.getName, g2.getName),
      "GC must keep exactly the live generation and its predecessor")
    // next install retires g1, retains g2
    val g3 = G.install(fs, root) { gen =>
      write(new org.apache.hadoop.fs.Path(gen, "data"), "v3")
    }
    assert(!fs.exists(g1), "two-generations-old directories retire")
    assert(read(new org.apache.hadoop.fs.Path(g2, "data")) === "v2")
    assert(G.resolve(fs, root).contains(g3))
  }

  test("SmallFile: a throwing install leaves the previous target " +
    "byte-identical and no temp file; an absent target reads None") {
    val F = graft.ingest.SmallFile
    val dir = new org.apache.hadoop.fs.Path(tmpDir("smallfile"))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val target = new org.apache.hadoop.fs.Path(dir, "meta")
    assert(F.read(fs, target)(_.read()).isEmpty, "absent target")
    assert(F.readText(fs, target).isEmpty)
    F.installText(fs, target, "v1")
    intercept[IllegalStateException] {
      F.install(fs, target) { out =>
        out.write("partial".getBytes("UTF-8"))
        throw new IllegalStateException("writer died mid-install")
      }
    }
    assert(F.readText(fs, target).contains("v1"),
      "a failed install must leave the previous target")
    val bytes = F.read(fs, target)(_.readAllBytes()).get
    assert(bytes.toSeq === "v1".getBytes("UTF-8").toSeq)
    assert(fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.contains(".tmp-")).isEmpty,
      "a failed install must delete its temp file")
    F.installText(fs, target, "v2")
    assert(F.readText(fs, target).contains("v2"))
    assert(fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => !n.startsWith(".")).toSeq === Seq("meta"))
  }

  test("a reader that finds an installed file present but loses it to " +
    "the install window reads absent: the Generations manifest, the " +
    "Bloom sidecar manifest and the PQ covered-files manifest") {
    import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path}
    val dir = new Path(tmpDir("installwindow"))
    val local = dir.getFileSystem(spark.sessionState.newHadoopConf())
    // reports `target` present, as exists/getFileStatus did just before
    // a concurrent install deleted it, and then fails the open
    def racing(target: Path): FileSystem = new FilterFileSystem(local) {
      private def hit(p: Path) = makeQualified(p) == makeQualified(target)
      override def exists(p: Path): Boolean = hit(p) || super.exists(p)
      override def getFileStatus(p: Path): FileStatus =
        if (hit(p)) new FileStatus(8L, false, 1, 4096L, 0L, makeQualified(p))
        else super.getFileStatus(p)
      override def open(p: Path,
          bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream =
        if (hit(p)) throw new java.io.FileNotFoundException(p.toString)
        else super.open(p, bufferSize)
    }
    val root = new Path(dir, "gens")
    assert(graft.ingest.Generations.current(
      racing(graft.ingest.Generations.manifestPath(root)), root).isEmpty)
    val bloom = new Path(dir, "store.bloom")
    assert(graft.ingest.StoreLayout.readSidecar(racing(bloom), bloom)
      .isEmpty)
    val gen = new Path(dir, "gen-1")
    assert(local.mkdirs(new Path(gen, "_pq")))
    assert(graft.operators.AnnIndex.readPqManifest(
      racing(new Path(gen, "_pq_covered")), gen.toString).isEmpty)
  }

  test("Snapshots.writeBatch: a batch directory holding part files but " +
    "no _SUCCESS is cleared and rewritten; a committed one is skipped " +
    "with its files untouched") {
    import spark.implicits._
    val S = graft.ingest.Snapshots
    val root = new org.apache.hadoop.fs.Path(tmpDir("batchwrite"), "out")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dir = S.batchDir(root, 3L)
    // a crashed write: a part file landed, the job never committed
    val stale = new org.apache.hadoop.fs.Path(dir, "part-00000-crashed.parquet")
    val out = fs.create(stale, true)
    try out.write("not parquet".getBytes("UTF-8")) finally out.close()
    assert(S.committed(fs, root).isEmpty, "no marker, no commit")
    assert(S.writeBatch(spark, root, 3L)(d =>
      Seq(1L, 2L).toDF("x").write.parquet(d.toString)))
    assert(!fs.exists(stale), "the crashed write's part file survived")
    assert(S.committed(fs, root) === Seq(3L))
    assert(spark.read.parquet(dir.toString).as[Long].collect().sorted
      .toSeq === Seq(1L, 2L))
    def files() = fs.listStatus(dir).map(st =>
      (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val before = files()
    assert(!S.writeBatch(spark, root, 3L)(_ =>
      sys.error("a committed batch must not be rewritten")))
    assert(files() === before)
    // the versioned commit writes through the same rule
    val snap = S.batchDir(root, 4L)
    assert(fs.mkdirs(snap) && fs.createNewFile(
      new org.apache.hadoop.fs.Path(snap, "part-00000-crashed.parquet")))
    assert(S.commit(spark, root, 4L)(prev =>
      prev.get.selectExpr("x + 10 AS x")))
    assert(spark.read.parquet(snap.toString).as[Long].collect().sorted
      .toSeq === Seq(11L, 12L))
    assert(!S.commit(spark, root, 4L)(_ => sys.error("replayed")))
  }

  test("sharded bloom sidecar: per-shard executor-built filters, each " +
    "sized for its own shard (build memory bounded by largest shard, " +
    "never the store); rebuild GCs the old generation") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val dir = tmpDir("dedupstore-sharded")
    val store = dir + "/hashes"
    val docs = (1 to 2000).map(i => (i.toLong, s"doc text $i"))
      .toDF("doc_id", "text")
    D.recordHashes(docs, "text", store)
    assert(D.buildBloomSidecar(spark, store, fpp = 0.01, numShards = 8)
      === 2000L)
    val parent = new org.apache.hadoop.fs.Path(dir)
    val fs = parent.getFileSystem(spark.sessionState.newHadoopConf())
    def gens() = fs.listStatus(parent).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("hashes.bloom.d-"))
    val g1 = gens()
    assert(g1.length === 1, "exactly one live sidecar generation")
    val shardFiles = fs.listStatus(g1.head.getPath)
      .filter(_.getPath.getName.endsWith(".bloom"))
    assert(shardFiles.nonEmpty && shardFiles.length <= 8)
    // the memory-bound law: NO filter anywhere was sized for the whole
    // store — every shard's bit array is a fraction of the single
    // filter the old driver-side build would have allocated
    val wholeStoreBits = org.apache.spark.util.sketch.BloomFilter
      .create(2000L, 0.01).bitSize()
    for (sfile <- shardFiles) {
      val in = fs.open(sfile.getPath)
      val b = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
      assert(b.bitSize() <= wholeStoreBits / 4,
        s"shard ${sfile.getPath.getName} sized for the whole store " +
          s"(${b.bitSize()} vs $wholeStoreBits bits)")
    }
    // answer parity with the exact plain path under a fresh sidecar
    val b2 = (1 to 50).map(i => (3000L + i,
      if (i % 2 == 0) s"doc text $i" else s"novel $i"))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(D.newUnique(b2, "text", "doc_id", store))
      === ids(D.newUnique(b2, "text", "doc_id", plainTwin(store))))
    // rebuild replaces the generation atomically and GCs the old one
    assert(D.buildBloomSidecar(spark, store, fpp = 0.01, numShards = 8)
      === 2000L)
    val g2 = gens()
    assert(g2.length === 1 &&
      g2.head.getPath.getName != g1.head.getPath.getName,
      "rebuild must install a fresh generation and GC the old")
  }

  test("sharded bloom sidecar: probe answers are invariant across a " +
    "resize rebuild (explicit -> auto-sized shard counts)") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val dir = tmpDir("dedupstore-resize")
    val store = dir + "/hashes"
    val docs = (1 to 1500).map(i => (i.toLong, s"resize doc $i"))
      .toDF("doc_id", "text")
    D.recordHashes(docs, "text", store)
    val probe = (1 to 60).map(i => (9000L + i,
      if (i % 3 == 0) s"resize doc $i" else s"unseen $i"))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val want = ids(D.newUnique(probe, "text", "doc_id", store))
    // three sidecar layouts over the same store: 8 shards, 16 shards,
    // auto (resolves to the 32 floor at this size) — the survivor set
    // must be identical under every layout, and identical to the
    // sidecar-less exact plan
    for (shards <- Seq(8, 16, 0)) {
      assert(D.buildBloomSidecar(spark, store, fpp = 0.01,
        numShards = shards) === 1500L)
      assert(ids(D.newUnique(probe, "text", "doc_id", store))
        === want, s"probe answers changed under numShards=$shards")
    }
    // the auto build's manifest records the RESOLVED count (32), not
    // the sentinel — a probe planned from it must route correctly
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val sc = graft.ingest.StoreLayout.readSidecar(fs,
      graft.ingest.StoreLayout.Path(store).manifest(spark)).get
    assert(sc.numShards === 32, s"manifest shard count ${sc.numShards}")
  }

  test("sharded bloom sidecar: the empty-store path removes the " +
    "manifest AND every generation directory (no disk leak)") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val dir = tmpDir("dedupstore-empty")
    val store = dir + "/hashes"
    val docs = (1 to 100).map(i => (i.toLong, s"leak doc $i"))
      .toDF("doc_id", "text")
    D.recordHashes(docs, "text", store)
    assert(D.buildBloomSidecar(spark, store, numShards = 4) === 100L)
    val parent = new org.apache.hadoop.fs.Path(dir)
    val fs = parent.getFileSystem(spark.sessionState.newHadoopConf())
    def gens() = fs.listStatus(parent).filter(st =>
      st.isDirectory && st.getPath.getName.startsWith("hashes.bloom.d-"))
    assert(gens().length === 1)
    // empty the store (keep the directory), then rebuild: 0 covered,
    // and BOTH the manifest and the orphaned generation must be gone
    val storePath = new org.apache.hadoop.fs.Path(store)
    graft.ingest.StoreLayout.storeDataFiles(fs, storePath).foreach(f => fs.delete(f, false))
    assert(D.buildBloomSidecar(spark, store, numShards = 4) === 0L)
    assert(!fs.exists(graft.ingest.StoreLayout.Path(store).manifest(spark)),
      "manifest survived")
    assert(gens().isEmpty, "generation directories leaked")
  }

  test("retraction law (path DedupStore): record → retract → probe " +
    "reports never-seen, compaction drops the rows physically and " +
    "clears applied tombstones; a bloom sidecar built before the " +
    "retraction stays correct") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val dir = tmpDir("dedup-retract")
    val store = dir + "/hashes"
    val docs = (1 to 200).map(i => (i.toLong, s"retract doc $i"))
      .toDF("doc_id", "text")
    D.recordHashes(docs, "text", store)
    // sidecar BUILT BEFORE the retraction — the stale-filter case
    assert(D.buildBloomSidecar(spark, store, numShards = 4) === 200L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val probe = Seq((9001L, "retract doc 7"), (9002L, "retract doc 8"),
      (9003L, "brand new")).toDF("doc_id", "text")
    // recorded: 7 and 8 are seen, only the novel row comes back
    assert(ids(D.newUnique(probe, "text", "doc_id", store))
      === Seq(9003L))
    // phase 1: retract doc 7 by text and doc 8 by precomputed hash
    D.retract(Seq((0L, "retract doc 7")).toDF("doc_id", "text"),
      "text", store)
    D.retractHashes(
      Seq((0L, "retract doc 8")).toDF("doc_id", "text")
        .select(graft.queries.LlmPipeline.contentHash(col("text"))
          .as("content_hash")), store)
    // probe-after-retract: never-seen, on BOTH the exact and the
    // (stale-sidecar) bloom path
    assert(ids(D.newUnique(probe, "text", "doc_id", plainTwin(store)))
      === Seq(9001L, 9002L, 9003L))
    assert(ids(D.newUnique(probe, "text", "doc_id", store))
      === Seq(9001L, 9002L, 9003L))
    // phase 2: compaction drops the rows and clears the tombstones
    D.compactStore(spark, store)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(graft.ingest.StoreLayout.storeDataFiles(fs,
      graft.ingest.StoreLayout.Path(store).tombstoneDir(spark)).isEmpty,
      "applied tombstones not cleared")
    assert(spark.read.parquet(store).count() === 198L,
      "tombstoned rows survived compaction")
    assert(ids(D.newUnique(probe, "text", "doc_id", store))
      === Seq(9001L, 9002L, 9003L))
    // re-admission after the compaction: record again → seen again
    D.recordHashes(Seq((7L, "retract doc 7")).toDF("doc_id", "text"),
      "text", store)
    assert(ids(D.newUnique(probe, "text", "doc_id", store))
      === Seq(9002L, 9003L))
  }

  test("retraction law (bucketed DedupStore): tombstones subtract " +
    "from the zero-exchange probe immediately; the compaction swap " +
    "applies and clears them") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val table = "retract_bucketed_t"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    try {
      val docs = (1 to 100).map(i => (i.toLong, s"bretract doc $i"))
        .toDF("doc_id", "text")
      D.ensureStore(spark, Bucketed(table, 4))
      D.recordHashes(docs, "text", Bucketed(table))
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val probe = Seq((9001L, "bretract doc 5"), (9002L, "fresh"))
        .toDF("doc_id", "text")
      assert(ids(D.newUnique(probe, "text", "doc_id", Bucketed(table)))
        === Seq(9002L))
      D.retract(
        Seq((0L, "bretract doc 5")).toDF("doc_id", "text"), "text", Bucketed(table))
      assert(ids(D.newUnique(probe, "text", "doc_id", Bucketed(table)))
        === Seq(9001L, 9002L))
      // a sidecar built over the tombstoned rows: the bloom hit routes
      // the retracted key into the live store, which subtracts it
      assert(D.buildBloomSidecar(spark, Bucketed(table), numShards = 4)
        === 100L)
      assert(ids(D.newUnique(probe, "text", "doc_id",
        Bucketed(table))) === Seq(9001L, 9002L))
      val (before, after) = D.compactStore(spark, Bucketed(table))
      assert(before === 100L && after === 99L,
        s"compaction kept $after of $before — tombstone not applied")
      // the swap dropped the old directory, _tombstones included
      val loc = Bucketed(table).dataDir(spark)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(new org.apache.hadoop.fs.Path(loc, "_tombstones")),
        "tombstones survived the compaction swap")
      assert(ids(D.newUnique(probe, "text", "doc_id", Bucketed(table)))
        === Seq(9001L, 9002L))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_stage")
    }
  }

  test("retraction law (bucketed NearDup + Span stores): tombstones " +
    "subtract from the zero-exchange probes; the compaction swap " +
    "applies them") {
    import spark.implicits._
    val N = graft.ingest.NearDupStore
    val S = graft.ingest.SpanStore
    val nearT = "retract_near_bucketed_t"
    val spanT = "retract_span_bucketed_t"
    for (t <- Seq(nearT, spanT)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
    }
    try {
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      // NEAR: record, variant flagged; retract → unflagged; compact
      val base = "the quick brown fox jumps over the lazy dog and " +
        "then runs far away into the deep green forest tonight"
      N.recordSignatures(Seq((1L, base)).toDF("doc_id", "text"),
        "text", "doc_id", Bucketed(nearT))
      val nProbe = Seq((2L, base + " extra")).toDF("doc_id", "text")
      assert(ids(N.newNearUnique(nProbe, "text", "doc_id",
        Bucketed(nearT))) === Seq())
      N.retract(Seq((1L, base)).toDF("doc_id", "text"), "text",
        "doc_id", Bucketed(nearT))
      assert(ids(N.newNearUnique(nProbe, "text", "doc_id",
        Bucketed(nearT))) === Seq(2L))
      val (nb, na) = N.compactStore(spark, Bucketed(nearT))
      assert(nb > 0L && na === 0L, s"near compaction kept $na of $nb")
      assert(ids(N.newNearUnique(nProbe, "text", "doc_id",
        Bucketed(nearT))) === Seq(2L))
      // SPAN: record, identical doc flagged; retract → unflagged;
      // compact drops the rows
      val doc = ("alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau upsilon") * 3
      S.recordWindows(Seq((1L, doc)).toDF("doc_id", "text"),
        "text", "doc_id", Bucketed(spanT))
      val sProbe = Seq((2L, doc)).toDF("doc_id", "text")
      assert(ids(S.newSpanUnique(sProbe, "text", "doc_id",
        Bucketed(spanT))) === Seq())
      S.retract(Seq((1L, doc)).toDF("doc_id", "text"), "text",
        "doc_id", Bucketed(spanT))
      assert(ids(S.newSpanUnique(sProbe, "text", "doc_id",
        Bucketed(spanT))) === Seq(2L), "retracted spans still flagged")
      val (sb, sa) = S.compactStore(spark, Bucketed(spanT))
      assert(sb > 0L && sa === 0L, s"span compaction kept $sa of $sb")
      assert(ids(S.newSpanUnique(sProbe, "text", "doc_id",
        Bucketed(spanT))) === Seq(2L))
    } finally {
      for (t <- Seq(nearT, spanT)) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
      }
    }
  }

  test("retraction law (NearDupStore): a retracted document no longer " +
    "near-flags its variants; compaction applies physically") {
    import spark.implicits._
    val N = graft.ingest.NearDupStore
    val dir = tmpDir("neardup-retract")
    val store = dir + "/bands"
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest tonight"
    N.recordSignatures(Seq((1L, base)).toDF("doc_id", "text"),
      "text", "doc_id", store)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val probe = Seq((2L, base + " extra"), (3L, "completely different " +
      "subject matter about spacecraft telemetry and orbital mechanics"))
      .toDF("doc_id", "text")
    // near-dup of the recorded base is flagged; the unrelated doc is not
    assert(ids(N.newNearUnique(probe, "text", "doc_id", store))
      === Seq(3L))
    N.retract(Seq((1L, base)).toDF("doc_id", "text"), "text", "doc_id",
      store)
    assert(ids(N.newNearUnique(probe, "text", "doc_id", store))
      === Seq(2L, 3L))
    N.compactStore(spark, store)
    assert(spark.read.parquet(store).count() === 0L,
      "retracted signature rows survived compaction")
    assert(ids(N.newNearUnique(probe, "text", "doc_id", store))
      === Seq(2L, 3L))
  }

  test("retraction law (SpanStore): retracting a document un-records " +
    "its window hashes at the persisted stride; compaction applies " +
    "physically") {
    import spark.implicits._
    val S = graft.ingest.SpanStore
    val dir = tmpDir("span-retract")
    val store = dir + "/spans"
    val doc = ("alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon") * 3
    S.recordWindows(Seq((1L, doc)).toDF("doc_id", "text"), "text",
      "doc_id", store, stride = 2)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val probe = Seq((2L, doc)).toDF("doc_id", "text")
    // the identical doc is pure recycled text → flagged out
    assert(ids(S.newSpanUnique(probe, "text", "doc_id", store)) === Seq())
    S.retract(Seq((1L, doc)).toDF("doc_id", "text"), "text", "doc_id",
      store)
    assert(ids(S.newSpanUnique(probe, "text", "doc_id", store))
      === Seq(2L), "retracted spans still flagged the probe")
    S.compactStore(spark, store)
    assert(spark.read.parquet(store).count() === 0L,
      "retracted span rows survived compaction")
    assert(ids(S.newSpanUnique(probe, "text", "doc_id", store))
      === Seq(2L))
    // the stride sidecar survives retraction (it describes the store's
    // recording discipline, not its contents)
    assert(S.storedStride(spark, store) === 2)
  }

  test("span hash-form law: an xxhash64 store flags the same document " +
    "sets as the md5 store (plain and bloom paths), stores longs not " +
    "strings, and refuses mixed-form appends") {
    import spark.implicits._
    val S = graft.ingest.SpanStore
    val dir = tmpDir("span-hashform")
    val md5Store = dir + "/md5"
    val xxStore = dir + "/xx"
    val boiler = "this exact boilerplate sentence is recycled across " +
      "the corpus verbatim and is long enough to window " * 2
    val recorded = Seq((1L, boiler), (2L, "unique prose the first " +
      "store has seen once upon a time in a galaxy far away indeed"))
      .toDF("doc_id", "text")
    S.recordWindows(recorded, "text", "doc_id", md5Store)
    S.recordWindows(recorded, "text", "doc_id", xxStore,
      hashForm = HashForm.Xx)
    assert(S.storedHashForm(spark, md5Store) === HashForm.Md5)
    assert(S.storedHashForm(spark, xxStore) === HashForm.Xx)
    // the xx store physically holds 8-byte longs — the 4× width win
    assert(spark.read.parquet(xxStore).schema("h").dataType
      === org.apache.spark.sql.types.LongType)
    assert(spark.read.parquet(md5Store).schema("h").dataType
      === org.apache.spark.sql.types.StringType)
    val probe = Seq((10L, boiler), (11L, "entirely novel text that " +
      "matches nothing recorded anywhere in either span store at all"))
      .toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // flagged-doc equality, plain path
    val wantPlain = ids(S.newSpanUnique(probe, "text", "doc_id", md5Store))
    assert(ids(S.newSpanUnique(probe, "text", "doc_id", xxStore))
      === wantPlain, "hash forms disagree on the plain path")
    assert(wantPlain === Seq(11L), "fixture did not discriminate")
    // flagged-doc equality, bloom path (sidecar per store)
    assert(S.buildBloomSidecar(spark, md5Store, numShards = 4) > 0L)
    assert(S.buildBloomSidecar(spark, xxStore, numShards = 4) > 0L)
    assert(ids(S.newSpanUnique(probe, "text", "doc_id",
      md5Store)) === wantPlain)
    assert(ids(S.newSpanUnique(probe, "text", "doc_id",
      xxStore)) === wantPlain, "hash forms disagree on the bloom path")
    // retraction works on the xx form too
    S.retract(recorded.filter(col("doc_id") === 1L), "text", "doc_id",
      xxStore)
    assert(ids(S.newSpanUnique(probe, "text", "doc_id", xxStore))
      === Seq(10L, 11L), "xx-form retraction did not un-flag")
    // a non-empty store refuses the other form
    intercept[IllegalArgumentException] {
      S.recordWindows(probe, "text", "doc_id", md5Store,
        hashForm = HashForm.Xx)
    }
    // a form-LESS append follows the store's recorded form (the
    // streamed appender's contract — no form plumbing required)
    S.recordWindows(Seq((50L, "follow-up document for the xx store " +
      "with plenty of text to window over indeed today"))
      .toDF("doc_id", "text"), "text", "doc_id", xxStore)
    assert(spark.read.parquet(xxStore).schema("h").dataType
      === org.apache.spark.sql.types.LongType,
      "form-less append did not follow the xx store's form")
  }

  test("span hash-form law (BUCKETED): the xxh64 catalog table stores " +
    "8-byte longs, flags identical doc sets on plain and bloom paths, " +
    "retracts, compacts, and refuses mixed-form appends") {
    import spark.implicits._
    val S = graft.ingest.SpanStore
    val md5T = "span_form_md5_t"
    val xxT = "span_form_xx_t"
    // stride 4 is one more input: a strided table keeps its stride
    // through the hash-form declaration
    for (stride <- Seq(1, 4)) {
      for (t <- Seq(md5T, xxT)) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
      }
      try {
        val boiler = "this exact boilerplate sentence is recycled " +
          "across the corpus verbatim and is long enough to window " * 2
        val recorded = Seq((1L, boiler)).toDF("doc_id", "text")
        S.recordWindows(recorded, "text", "doc_id", Bucketed(md5T),
          stride = stride)
        S.recordWindows(recorded, "text", "doc_id", Bucketed(xxT),
          stride = stride, hashForm = HashForm.Xx)
        assert(S.storedHashForm(spark, Bucketed(md5T)) === HashForm.Md5)
        assert(S.storedHashForm(spark, Bucketed(xxT)) === HashForm.Xx)
        // the table's metadata is written once, at creation: declaring
        // the form must not drop the stride
        for (t <- Seq(md5T, xxT))
          assert(S.storedStride(spark, Bucketed(t)) === stride,
            s"$t lost its stride")
        assert(spark.table(xxT).schema("content_hash").dataType
          === org.apache.spark.sql.types.LongType)
        val probe = Seq((10L, boiler), (11L, "entirely novel text that " +
          "matches nothing recorded in either span table at all today"))
          .toDF("doc_id", "text")
        def ids(df: org.apache.spark.sql.DataFrame) =
          df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        val want = ids(S.newSpanUnique(probe, "text", "doc_id",
          Bucketed(md5T)))
        assert(want === Seq(11L), "fixture did not discriminate")
        assert(ids(S.newSpanUnique(probe, "text", "doc_id", Bucketed(xxT)))
          === want, "hash forms disagree on the bucketed plain path")
        // bloom path equality (sidecar over the long hashes casts to
        // decimal strings on build and probe alike)
        assert(S.buildBloomSidecar(spark, Bucketed(xxT), numShards = 4) > 0L)
        assert(ids(S.newSpanUnique(probe, "text",
          "doc_id", Bucketed(xxT))) === want,
          "xx bucketed bloom path diverges")
        // retraction + compaction on the xx table
        S.retract(recorded, "text", "doc_id", Bucketed(xxT))
        assert(ids(S.newSpanUnique(probe, "text", "doc_id", Bucketed(xxT)))
          === Seq(10L, 11L), "xx bucketed retraction did not un-flag")
        val (b, a) = S.compactStore(spark, Bucketed(xxT))
        assert(b > 0L && a === 0L, s"xx compaction kept $a of $b")
        assert(S.storedHashForm(spark, Bucketed(xxT)) === HashForm.Xx,
          "hash form property lost across the compaction swap")
        // a form-less append follows the table's recorded form; the
        // compaction cleared the tombstones, so the content is seen again
        S.recordWindows(recorded, "text", "doc_id", Bucketed(xxT),
          stride = stride)
        assert(spark.table(xxT).schema("content_hash").dataType
          === org.apache.spark.sql.types.LongType)
        assert(ids(S.newSpanUnique(probe, "text", "doc_id", Bucketed(xxT)))
          === Seq(11L), "re-recorded xx content not flagged")
        // a non-empty table refuses the other form
        intercept[IllegalArgumentException] {
          S.recordWindows(probe, "text", "doc_id", Bucketed(md5T),
            hashForm = HashForm.Xx)
        }
        // an EMPTY table switches forms by recreation (column type flips)
        val emptyT = "span_form_empty_t"
        spark.sql(s"DROP TABLE IF EXISTS $emptyT")
        try {
          S.ensureStore(spark, Bucketed(emptyT, 4))
          S.recordWindows(recorded, "text", "doc_id", Bucketed(emptyT),
            stride = stride, hashForm = HashForm.Xx)
          assert(spark.table(emptyT).schema("content_hash").dataType
            === org.apache.spark.sql.types.LongType)
          assert(S.storedStride(spark, Bucketed(emptyT)) === stride)
        } finally spark.sql(s"DROP TABLE IF EXISTS $emptyT")
      } finally {
        for (t <- Seq(md5T, xxT)) {
          spark.sql(s"DROP TABLE IF EXISTS $t")
          spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
        }
      }
    }
  }

  test("cross-run CDC-CHUNK dedup: an insertion-edited re-submission " +
    "of recorded text is flagged (chunks realign past the edit), fresh " +
    "and sub-chunk docs pass; retraction un-records; compaction " +
    "reclaims re-deliveries") {
    import spark.implicits._
    val S = graft.ingest.CdcChunkStore
    val store = tmpDir("cdcstore") + "/chunks"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "body")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 150).map(i => f"alpha$i%03d lake$i%03d").mkString(" ")
    val doc2 = (1 to 150).map(i => f"beta$i%03d stone$i%03d").mkString(" ")
    val b1 = batch((1L, doc1), (2L, doc2))
    // empty store: everything survives; unrecorded batches re-deliver
    assert(ids(S.newChunkUnique(b1, "body", "id", store)) === Seq(1L, 2L))
    assert(ids(S.newChunkUnique(b1, "body", "id", store)) === Seq(1L, 2L))
    S.recordChunks(b1, "body", "id", store)
    // the case the whole family exists for: ONE token inserted
    // mid-document shifts every fixed-boundary chunk, but CDC
    // boundaries realign at the next anchor — nearly every chunk still
    // matches history and the edited copy is flagged
    val toks = doc1.split(" ")
    val edited = (toks.take(150) ++ Array("inserted") ++ toks.drop(150))
      .mkString(" ")
    val fresh = (1 to 150).map(i => f"gamma$i%03d reed$i%03d")
      .mkString(" ")
    val b2 = batch((10L, edited), (11L, fresh), (12L, "tiny doc"))
    val n2 = S.newChunkUnique(b2, "body", "id", store)
    assert(ids(n2) === Seq(11L, 12L),
      "edited copy must be flagged; fresh and sub-chunk docs pass")
    assert(n2.columns.toSeq === Seq("id", "body"))
    S.recordChunks(n2, "body", "id", store)
    // exact re-delivery of recorded content drops (share 1.0); a
    // sub-chunk doc (< 3 tokens) was never recorded and passes again
    assert(S.newChunkUnique(batch((20L, fresh)), "body", "id", store)
      .count() === 0)
    assert(ids(S.newChunkUnique(batch((21L, "tiny doc")), "body", "id",
      store)) === Seq(21L))
    // at-least-once re-record, then maintenance collapses to one row
    // per hash without changing answers
    S.recordChunks(b1, "body", "id", store)
    S.compactStore(spark, store, 1L << 20)
    val stored = spark.read.parquet(store)
    assert(stored.count() === stored.distinct().count())
    assert(S.newChunkUnique(batch((30L, edited)), "body", "id", store)
      .count() === 0)
    // null ids pool into one identity through the null-safe joins
    val nullableSchema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("body", StringType)))
    def nullIdBatch(body: String) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, body))), nullableSchema)
    assert(S.newChunkUnique(nullIdBatch(edited), "body", "id", store)
      .count() === 0, "null-id edited copy escaped the anti-join")
    assert(S.newChunkUnique(nullIdBatch(
      (1 to 150).map(i => f"delta$i%03d moss$i%03d").mkString(" ")),
      "body", "id", store).count() === 1)
    // retraction: tombstoning doc1 un-records its chunks — a fresh
    // copy of doc1 then survives while doc2's history still bites
    S.retract(batch((1L, doc1)), "body", "id", store)
    assert(ids(S.newChunkUnique(batch((40L, doc1)), "body", "id",
      store)) === Seq(40L), "retracted chunks still flagged")
    assert(S.newChunkUnique(batch((41L, doc2)), "body", "id", store)
      .count() === 0)
  }

  test("CDC-chunk store parity laws: bloom, xxh64, and bucketed paths " +
    "all flag the same documents; the xx store holds 8-byte longs; " +
    "bucketed compaction preserves answers") {
    import spark.implicits._
    val S = graft.ingest.CdcChunkStore
    val dir = tmpDir("cdc-parity")
    val md5Store = dir + "/md5"
    val xxStore = dir + "/xx"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 150).map(i => f"alpha$i%03d lake$i%03d").mkString(" ")
    val recorded = batch((1L, doc1))
    S.recordChunks(recorded, "text", "doc_id", md5Store)
    S.recordChunks(recorded, "text", "doc_id", xxStore,
      hashForm = HashForm.Xx)
    assert(S.storedHashForm(spark, md5Store) === HashForm.Md5)
    assert(S.storedHashForm(spark, xxStore) === HashForm.Xx)
    // the xx store physically holds 8-byte longs — the 4× width win
    assert(spark.read.parquet(xxStore).schema("h").dataType
      === org.apache.spark.sql.types.LongType)
    assert(spark.read.parquet(md5Store).schema("h").dataType
      === org.apache.spark.sql.types.StringType)
    val toks = doc1.split(" ")
    val edited = (toks.take(150) ++ Array("inserted") ++ toks.drop(150))
      .mkString(" ")
    val probe = batch((10L, edited),
      (11L, (1 to 150).map(i => f"nu$i%03d fern$i%03d").mkString(" ")))
    val want = ids(S.newChunkUnique(probe, "text", "doc_id", md5Store))
    assert(want === Seq(11L), "fixture did not discriminate")
    assert(ids(S.newChunkUnique(probe, "text", "doc_id", xxStore))
      === want, "hash forms disagree on the plain path")
    // bloom path equality on both forms (stale-sidecar state included:
    // record more content after the build so residual files exist)
    assert(S.buildBloomSidecar(spark, md5Store, numShards = 4) > 0L)
    assert(S.buildBloomSidecar(spark, xxStore, numShards = 4) > 0L)
    assert(ids(S.newChunkUnique(probe, "text", "doc_id",
      md5Store)) === want)
    assert(ids(S.newChunkUnique(probe, "text", "doc_id",
      xxStore)) === want, "hash forms disagree on the bloom path")
    val late = (1 to 150).map(i => f"late$i%03d vine$i%03d").mkString(" ")
    S.recordChunks(batch((2L, late)), "text", "doc_id", md5Store)
    val staleProbe = batch((20L, late), (21L, edited),
      (22L, (1 to 150).map(i => f"xi$i%03d bay$i%03d").mkString(" ")))
    assert(ids(S.newChunkUnique(staleProbe, "text", "doc_id",
      md5Store))
      === ids(S.newChunkUnique(staleProbe, "text", "doc_id",
        plainTwin(md5Store))),
      "stale-sidecar bloom path diverges from the plain path")
    // xx retraction un-flags
    S.retract(recorded, "text", "doc_id", xxStore)
    assert(ids(S.newChunkUnique(probe, "text", "doc_id", xxStore))
      === Seq(10L, 11L), "xx-form retraction did not un-flag")
    // a non-empty store refuses the other form
    intercept[IllegalArgumentException] {
      S.recordChunks(probe, "text", "doc_id", md5Store,
        hashForm = HashForm.Xx)
    }
    // bucketed-catalog form: same answers on plain/bloom paths, the
    // hash-form property survives compaction, mixed forms refused
    val tbl = "cdc_parity_t"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compact_stage")
    try {
      S.recordChunks(recorded, "text", "doc_id", Bucketed(tbl),
        hashForm = HashForm.Xx)
      assert(S.storedHashForm(spark, Bucketed(tbl)) === HashForm.Xx)
      assert(spark.table(tbl).schema("content_hash").dataType
        === org.apache.spark.sql.types.LongType)
      assert(ids(S.newChunkUnique(probe, "text", "doc_id", Bucketed(tbl)))
        === want, "bucketed plain path diverges")
      assert(S.buildBloomSidecar(spark, Bucketed(tbl), numShards = 4) > 0L)
      assert(ids(S.newChunkUnique(probe, "text",
        "doc_id", Bucketed(tbl))) === want, "bucketed bloom path diverges")
      // at-least-once re-record, compact, answers preserved
      S.recordChunks(recorded, "text", "doc_id", Bucketed(tbl))
      val (before, after) = S.compactStore(spark, Bucketed(tbl))
      assert(before > after && after > 0L)
      assert(S.storedHashForm(spark, Bucketed(tbl)) === HashForm.Xx,
        "hash form property lost across the compaction swap")
      assert(ids(S.newChunkUnique(probe, "text", "doc_id", Bucketed(tbl)))
        === want, "bucketed answers changed across compaction")
      // bucketed retraction
      S.retract(recorded, "text", "doc_id", Bucketed(tbl))
      assert(ids(S.newChunkUnique(probe, "text", "doc_id", Bucketed(tbl)))
        === Seq(10L, 11L), "bucketed retraction did not un-flag")
      intercept[IllegalArgumentException] {
        S.recordChunks(probe, "text", "doc_id", Bucketed(tbl),
          hashForm = HashForm.Md5)
      }
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_compact_stage")
    }
  }

  test("dedup hash-form law: an xxhash64 store admits the same " +
    "survivors as md5 (plain and bloom paths), stores 8-byte longs, " +
    "retracts, and refuses mixed-form and cross-form appends") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val dir = tmpDir("dedup-hashform")
    val md5Store = dir + "/md5"
    val xxStore = dir + "/xx"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val rec = batch((1L, "alpha beta"), (2L, "gamma delta"))
    D.recordHashes(rec, "text", md5Store)
    D.recordHashes(rec, "text", xxStore, hashForm = HashForm.Xx)
    assert(D.storedHashForm(spark, md5Store) === HashForm.Md5)
    assert(D.storedHashForm(spark, xxStore) === HashForm.Xx)
    // the xx store physically holds 8-byte longs — the 4× width win
    assert(spark.read.parquet(xxStore).schema("content_hash").dataType
      === org.apache.spark.sql.types.LongType)
    assert(spark.read.parquet(md5Store).schema("content_hash").dataType
      === org.apache.spark.sql.types.StringType)
    // survivor equality, plain path (formatting variant of recorded
    // content dropped under BOTH forms — same normalization)
    val probe = batch((10L, "ALPHA  beta"), (11L, "epsilon zeta"))
    val want = ids(D.newUnique(probe, "text", "doc_id", md5Store))
    assert(want === Seq(11L), "fixture did not discriminate")
    assert(ids(D.newUnique(probe, "text", "doc_id", xxStore)) === want,
      "hash forms disagree on the plain path")
    // survivor equality, bloom path
    assert(D.buildBloomSidecar(spark, md5Store, numShards = 4) > 0L)
    assert(D.buildBloomSidecar(spark, xxStore, numShards = 4) > 0L)
    assert(ids(D.newUnique(probe, "text", "doc_id", md5Store))
      === want)
    assert(ids(D.newUnique(probe, "text", "doc_id", xxStore))
      === want, "hash forms disagree on the bloom path")
    // retraction works on the xx form: doc 1's content reports new
    D.retract(rec.filter(col("doc_id") === 1L), "text", xxStore)
    assert(ids(D.newUnique(probe, "text", "doc_id", xxStore))
      === Seq(10L, 11L), "xx-form retraction did not unmask")
    // compaction drops the retracted rows physically; form survives
    D.compactStore(spark, xxStore)
    assert(spark.read.parquet(xxStore).count() === 1L)
    assert(D.storedHashForm(spark, xxStore) === HashForm.Xx)
    // a non-empty store refuses the other form
    intercept[IllegalArgumentException] {
      D.recordHashes(probe, "text", md5Store, hashForm = HashForm.Xx)
    }
    // a carried content_hash of the WRONG type is refused, not
    // silently recorded unmatchable (md5 probe output → xx store)
    val carried = D.newUnique(batch((50L, "a fresh document")), "text",
      "doc_id", md5Store)
    intercept[IllegalArgumentException] {
      D.recordHashes(carried, "text", xxStore)
    }
    // a form-less append follows the store's recorded form
    D.recordHashes(batch((60L, "newer text entirely")), "text", xxStore)
    assert(spark.read.parquet(xxStore).schema("content_hash").dataType
      === org.apache.spark.sql.types.LongType,
      "form-less append did not follow the xx store's form")
  }

  test("dedup hash-form law (BUCKETED): the xxh64 catalog table stores " +
    "8-byte longs, admits identical survivors on plain and bloom " +
    "paths, retracts, compacts, and refuses mixed-form appends") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val md5T = "dedup_form_md5_t"
    val xxT = "dedup_form_xx_t"
    for (t <- Seq(md5T, xxT)) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
    }
    try {
      def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val rec = batch((1L, "alpha beta"), (2L, "gamma delta"))
      D.recordHashes(rec, "text", Bucketed(md5T))
      D.recordHashes(rec, "text", Bucketed(xxT), hashForm = HashForm.Xx)
      assert(D.storedHashForm(spark, Bucketed(md5T)) === HashForm.Md5)
      assert(D.storedHashForm(spark, Bucketed(xxT)) === HashForm.Xx)
      assert(spark.table(xxT).schema("content_hash").dataType
        === org.apache.spark.sql.types.LongType)
      val probe = batch((10L, "ALPHA  beta"), (11L, "epsilon zeta"))
      val want = ids(D.newUnique(probe, "text", "doc_id", Bucketed(md5T)))
      assert(want === Seq(11L), "fixture did not discriminate")
      assert(ids(D.newUnique(probe, "text", "doc_id", Bucketed(xxT)))
        === want, "hash forms disagree on the bucketed plain path")
      // bloom path equality (long keys cast to decimal strings on
      // build and probe alike)
      assert(D.buildBloomSidecar(spark, Bucketed(xxT), numShards = 4) > 0L)
      assert(ids(D.newUnique(probe, "text", "doc_id",
        Bucketed(xxT))) === want, "xx bucketed bloom path diverges")
      // retraction + compaction on the xx table
      D.retract(rec.filter(col("doc_id") === 1L), "text", Bucketed(xxT))
      assert(ids(D.newUnique(probe, "text", "doc_id", Bucketed(xxT)))
        === Seq(10L, 11L), "xx bucketed retraction did not unmask")
      val (b, a) = D.compactStore(spark, Bucketed(xxT))
      assert(b === 2L && a === 1L, s"xx compaction kept $a of $b")
      assert(D.storedHashForm(spark, Bucketed(xxT)) === HashForm.Xx,
        "hash form property lost across the compaction swap")
      // a form-less append follows the table's form; re-recorded
      // content is seen again (tombstones cleared by the compaction)
      D.recordHashes(rec, "text", Bucketed(xxT))
      assert(spark.table(xxT).schema("content_hash").dataType
        === org.apache.spark.sql.types.LongType)
      assert(ids(D.newUnique(probe, "text", "doc_id", Bucketed(xxT)))
        === Seq(11L), "re-recorded xx content not dropped")
      // a non-empty table refuses the other form
      intercept[IllegalArgumentException] {
        D.recordHashes(probe, "text", Bucketed(md5T), hashForm = HashForm.Xx)
      }
      // an EMPTY table switches forms by recreation (column type flips)
      val emptyT = "dedup_form_empty_t"
      spark.sql(s"DROP TABLE IF EXISTS $emptyT")
      try {
        D.ensureStore(spark, Bucketed(emptyT, 4))
        D.recordHashes(rec, "text", Bucketed(emptyT), hashForm = HashForm.Xx)
        assert(spark.table(emptyT).schema("content_hash").dataType
          === org.apache.spark.sql.types.LongType)
      } finally spark.sql(s"DROP TABLE IF EXISTS $emptyT")
    } finally {
      for (t <- Seq(md5T, xxT)) {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
      }
    }
  }

  test("neardup hash-form law: xxhash64 band keys flag the same " +
    "documents as the q28 strings (path and bucketed, plain and bloom " +
    "paths), store 8-byte longs, retract, and refuse mixed-form " +
    "appends") {
    import spark.implicits._
    val N = graft.ingest.NearDupStore
    val dir = tmpDir("neardup-hashform")
    val md5Store = dir + "/md5"
    val xxStore = dir + "/xx"
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val doc1 = (1 to 60).map(i => s"alpha$i token$i word$i").mkString(" ")
    val doc2 = (1 to 60).map(i => s"beta$i item$i entry$i").mkString(" ")
    val doc3 = (1 to 60).map(i => s"gamma$i fresh$i novel$i").mkString(" ")
    val rec = batch((1L, doc1), (2L, doc2))
    N.recordSignatures(rec, "text", "doc_id", md5Store)
    N.recordSignatures(rec, "text", "doc_id", xxStore,
      hashForm = HashForm.Xx)
    assert(N.storedHashForm(spark, xxStore) === HashForm.Xx)
    // the xx store's band key is an 8-byte long, not the ~60-char key
    assert(spark.read.parquet(xxStore).schema("band_key").dataType
      === org.apache.spark.sql.types.LongType)
    assert(spark.read.parquet(md5Store).schema("band_key").dataType
      === org.apache.spark.sql.types.StringType)
    // flagged-doc equality: copy + paraphrase flagged, fresh passes
    val probe = batch((10L, doc1),
      (11L, doc2 + " edited trailing footer line"), (12L, doc3))
    val want = ids(N.newNearUnique(probe, "text", "doc_id", md5Store))
    assert(want === Seq(12L), "fixture did not discriminate")
    assert(ids(N.newNearUnique(probe, "text", "doc_id", xxStore))
      === want, "hash forms disagree on the path store")
    // retraction works on the xx form
    N.retract(rec.filter(col("doc_id") === 1L), "text", "doc_id",
      xxStore)
    assert(ids(N.newNearUnique(probe, "text", "doc_id", xxStore))
      === Seq(10L, 12L), "xx-form retraction did not un-flag")
    // a non-empty store refuses the other form
    intercept[IllegalArgumentException] {
      N.recordSignatures(probe, "text", "doc_id", md5Store,
        hashForm = HashForm.Xx)
    }
    // BUCKETED: same laws through the catalog table
    val xxT = "near_form_xx_t"
    spark.sql(s"DROP TABLE IF EXISTS $xxT")
    spark.sql(s"DROP TABLE IF EXISTS ${xxT}_compact_stage")
    try {
      N.recordSignatures(rec, "text", "doc_id", Bucketed(xxT),
        hashForm = HashForm.Xx)
      assert(N.storedHashForm(spark, Bucketed(xxT)) === HashForm.Xx)
      assert(spark.table(xxT).schema("band_key").dataType
        === org.apache.spark.sql.types.LongType)
      assert(ids(N.newNearUnique(probe, "text", "doc_id", Bucketed(xxT)))
        === want, "hash forms disagree on the bucketed plain path")
      // bloom path equality over the long band keys
      assert(N.buildBloomSidecar(spark, Bucketed(xxT), numShards = 4) > 0L)
      assert(ids(N.newNearUnique(probe, "text",
        "doc_id", Bucketed(xxT))) === want, "xx bucketed bloom path diverges")
      // stale-residual: doc3 recorded after the sidecar build — its
      // copy must still be flagged through the residual leg
      N.recordSignatures(batch((30L, doc3)), "text", "doc_id",
        Bucketed(xxT))
      assert(ids(N.newNearUnique(
        batch((31L, doc3 + " late footer"), (32L, (1 to 60)
          .map(i => s"delta$i null$i case$i").mkString(" "))),
        "text", "doc_id", Bucketed(xxT))) === Seq(32L))
      // compaction keeps the form property and the answers (doc3 is
      // recorded history by now, so only genuinely fresh content
      // survives the post-compaction probe)
      val (b, a) = N.compactStore(spark, Bucketed(xxT))
      assert(b >= a && a > 0L)
      assert(N.storedHashForm(spark, Bucketed(xxT)) === HashForm.Xx,
        "hash form property lost across the compaction swap")
      assert(ids(N.newNearUnique(
        batch((40L, doc1 + " another tiny edit"),
          (41L, (1 to 60).map(i => s"zeta$i omega$i final$i")
            .mkString(" "))),
        "text", "doc_id", Bucketed(xxT))) === Seq(41L))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $xxT")
      spark.sql(s"DROP TABLE IF EXISTS ${xxT}_compact_stage")
    }
  }

  test("MediaNearStore: banded probes flag perceptual neighbors of " +
    "history (Hamming <= 3 verified, not just band collisions), bloom " +
    "path answers identically incl. the post-sidecar residual leg, " +
    "retraction un-flags, compaction reclaims re-records") {
    import spark.implicits._
    val M = graft.ingest.MediaNearStore
    val store = tmpDir("medianear") + "/bands"
    def hashes(rows: (Long, Int, Int, Int, Int)*) =
      rows.toSeq.toDF("media_id", "band0", "band1", "band2", "band3")
    def media(rows: (Long, Int, Int, Int, Int)*) =
      rows.toSeq.map(r => (r._1, s"payload${r._1}"))
        .toDF("media_id", "content")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("media_id").collect().map(_.getLong(0)).sorted.toSeq
    val hA = (1L, 0x1111, 0x2222, 0x3333, 0x4444)
    val hB = (2L, 0x0F0F, 0x00FF, 0x0F00, 0x5A5A)
    M.recordHashes(hashes(hA, hB), store)
    val probeRows = Seq(
      (10L, 0x1111, 0x2222, 0x3333, 0x4444), // exact copy: H 0
      (11L, 0x1110, 0x2222, 0x3333, 0x4444), // one bit: H 1
      (12L, 0x1112, 0x2222, 0x3332, 0x4444), // three bits: H 3
      // four bits all in band0: bands 1-3 still band-collide, so this
      // IS a candidate — only the Hamming verify can pass it
      (13L, 0x111E, 0x2222, 0x3333, 0x4444),
      (14L, 0x8888, 0x7777, 0x6666, 0x9999)) // far: no shared band
    def probe() = M.newNearUnique(media(probeRows: _*), "media_id",
      hashes(probeRows: _*), store)
    assert(ids(probe()) === Seq(13L, 14L),
      "H<=3 neighbors must flag; the H-4 candidate and the far hash " +
        "must survive")
    // no sidecar yet: the one probe plans the plain join, same answer
    assert(ids(probe()) === Seq(13L, 14L))
    assert(M.buildBloomSidecar(spark, store, numShards = 4) > 0L)
    assert(ids(probe()) === Seq(13L, 14L),
      "the bloom-split probe diverged from the exact one")
    // residual leg: history appended AFTER the sidecar build must
    // still flag its neighbors
    val hC = (3L, 0x00AA, 0x1234, 0x00BB, 0x00CC)
    M.recordHashes(hashes(hC), store)
    val late = Seq((20L, 0x00AB, 0x1234, 0x00BB, 0x00CC), // H 2 of C
      (21L, 0x7070, 0x0707, 0x7007, 0x0770))
    assert(ids(M.newNearUnique(media(late: _*), "media_id",
      hashes(late: _*), store)) === Seq(21L),
      "a post-sidecar record must flag through the residual leg")
    // retraction: A's rows tombstone; its 1-bit neighbor passes, B's
    // neighbors still flag
    M.retract(hashes(hA), store)
    assert(ids(probe()) === Seq(10L, 11L, 12L, 13L, 14L),
      "retraction must un-flag every neighbor of the retracted hash")
    assert(ids(M.newNearUnique(media((30L, 0x0F0F, 0x00FF, 0x0F00,
      0x5A5B)), "media_id", hashes((30L, 0x0F0F, 0x00FF, 0x0F00,
      0x5A5B)), store)).isEmpty, "B must survive A's retraction")
    // compaction: re-records reclaim, tombstones apply physically
    M.recordHashes(hashes(hB), store) // duplicate rows
    val (before, after) = M.compactStore(spark, store)
    assert(before >= after && after > 0)
    assert(ids(probe()) === Seq(10L, 11L, 12L, 13L, 14L),
      "answers must be unchanged across compaction")
  }

  test("MediaNearStore bucketed form: same flags as the path store " +
    "through the catalog table (plain + bloom incl. residual leg), " +
    "retraction and compaction preserve answers") {
    import spark.implicits._
    val M = graft.ingest.MediaNearStore
    val t = "media_near_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
    try {
      def hashes(rows: (Long, Int, Int, Int, Int)*) =
        rows.toSeq.toDF("media_id", "band0", "band1", "band2", "band3")
      def media(rows: (Long, Int, Int, Int, Int)*) =
        rows.toSeq.map(r => (r._1, s"payload${r._1}"))
          .toDF("media_id", "content")
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.select("media_id").collect().map(_.getLong(0)).sorted.toSeq
      val hA = (1L, 0x1111, 0x2222, 0x3333, 0x4444)
      val hB = (2L, 0x0F0F, 0x00FF, 0x0F00, 0x5A5A)
      M.recordHashes(hashes(hA, hB), Bucketed(t))
      val probeRows = Seq(
        (10L, 0x1111, 0x2222, 0x3333, 0x4444), // H 0
        (11L, 0x1110, 0x2222, 0x3333, 0x4444), // H 1
        (13L, 0x111E, 0x2222, 0x3333, 0x4444), // H 4 candidate: passes
        (14L, 0x8888, 0x7777, 0x6666, 0x9999)) // far
      def probe() = M.newNearUnique(media(probeRows: _*),
        "media_id", hashes(probeRows: _*), Bucketed(t))
      assert(ids(probe()) === Seq(13L, 14L))
      assert(ids(probe()) === Seq(13L, 14L)) // fallback, no sidecar
      assert(M.buildBloomSidecar(spark, Bucketed(t), numShards = 4) > 0L)
      assert(ids(probe()) === Seq(13L, 14L),
        "bucketed bloom probe diverged")
      // residual leg: post-sidecar record still flags its neighbors
      M.recordHashes(hashes((3L, 0x00AA, 0x1234, 0x00BB,
        0x00CC)), Bucketed(t))
      val late = Seq((20L, 0x00AB, 0x1234, 0x00BB, 0x00CC),
        (21L, 0x7070, 0x0707, 0x7007, 0x0770))
      assert(ids(M.newNearUnique(media(late: _*),
        "media_id", hashes(late: _*), Bucketed(t))) === Seq(21L))
      // retraction + compaction
      M.retract(hashes(hA), Bucketed(t))
      assert(ids(probe()) === Seq(10L, 11L, 13L, 14L),
        "bucketed retraction must un-flag A's neighbors")
      val (before, after) = M.compactStore(spark, Bucketed(t))
      assert(before >= after && after > 0L)
      assert(ids(probe()) === Seq(10L, 11L, 13L, 14L),
        "answers changed across the bucketed compaction swap")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact_stage")
    }
  }

  test("StoreStats: maintenance signals track the record / retract / " +
    "sidecar / compact lifecycle without running a single Spark job " +
    "(path and bucketed forms)") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val SS = graft.ingest.StoreStats
    // the sidecar signals judged here are the large-store ones: with
    // the planner's broadcast threshold off (-1) every non-empty store
    // wants a sidecar; a store under the threshold keeps none (the
    // sidecar-threshold law below)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val store = tmpDir("storestats") + "/hashes"
      def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      // empty store: nothing due
      val s0 = SS.of(spark, store)
      assert(s0.dataFiles === 0 && !s0.compactionDue && !s0.sidecarStale)
      // recorded, no sidecar yet: stale by definition, no compaction due
      D.recordHashes(batch((1L, "alpha"), (2L, "beta")), "text", store)
      val s1 = SS.of(spark, store)
      assert(s1.dataFiles > 0 && s1.dataBytes > 0L)
      assert(s1.tombstoneFiles === 0 && s1.tombstoneBytes === 0L)
      assert(!s1.sidecarPresent && s1.sidecarStale,
        "a non-empty store without a sidecar must read stale")
      assert(!s1.compactionDue)
      assert(s1.hashForm === HashForm.Md5 && s1.stride === 1)
      // sidecar built: fresh, fully covered
      assert(D.buildBloomSidecar(spark, store, numShards = 4) > 0L)
      val s2 = SS.of(spark, store)
      assert(s2.sidecarPresent && !s2.sidecarStale)
      assert(s2.coveredFiles === s2.dataFiles && s2.residualFiles === 0)
      // comparable-size append: residual share ~half, sidecar stale again
      D.recordHashes(batch((3L, "gamma"), (4L, "delta")), "text", store)
      val s3 = SS.of(spark, store)
      assert(s3.residualFiles > 0 && s3.residualBytes > 0L)
      assert(s3.sidecarStale, "a ~50% residual share must read stale")
      // retraction: backlog visible; a lowered ceiling flips the
      // compact-before-the-broadcast-gate-falls-over signal
      D.retract(batch((1L, "alpha")), "text", store)
      val s4 = SS.of(spark, store)
      assert(s4.tombstoneFiles > 0 && s4.tombstoneBytes > 0L)
      assert(!s4.compactionDue, "takedown-list backlog under the " +
        "default ceiling must not demand compaction")
      spark.conf.set("graft.tombstone.broadcast.maxBytes", "2")
      try {
        val s5 = SS.of(spark, store)
        assert(s5.broadcastCeilingBytes === 2L)
        assert(s5.compactionDue,
          "backlog past half the ceiling must demand compaction")
      } finally spark.conf.unset("graft.tombstone.broadcast.maxBytes")
      // file-count pressure alone also fires
      assert(SS.of(spark, store, maxDataFiles = 0).compactionDue)
      // compaction clears the backlog; the rewritten file names void the
      // sidecar's coverage (probes already degrade to the exact plan)
      D.compactStore(spark, store)
      val s6 = SS.of(spark, store)
      assert(s6.tombstoneBytes === 0L)
      assert(s6.coveredFiles === 0 && s6.sidecarStale,
        "post-compaction coverage must read stale until a rebuild")
      // bucketed form: the xxh64 table reports its persisted form
      val t = "storestats_xx_t"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      try {
        D.recordHashes(batch((1L, "alpha")), "text", Bucketed(t),
          hashForm = HashForm.Xx)
        val b1 = SS.of(spark, Bucketed(t))
        assert(b1.dataFiles > 0 && b1.hashForm === HashForm.Xx)
        assert(!b1.sidecarPresent && b1.sidecarStale)
        D.retract(batch((1L, "alpha")), "text", Bucketed(t))
        assert(SS.of(spark, Bucketed(t)).tombstoneBytes > 0L)
      } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
  }

  test("sidecar-threshold law: inline upkeep keeps no Bloom sidecar " +
    "on a store under the planner's broadcast threshold, answers as a " +
    "sidecar'd twin does, builds one once the threshold drops under " +
    "the store, and a due compaction removes a small store's sidecar " +
    "whole (path and bucketed forms)") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val SS = graft.ingest.StoreStats
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
    val early = batch((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
    val late = batch((4L, "delta"), (5L, "epsilon"))
    // seen in both deliveries, one formatting variant, and fresh rows
    val probe = batch((10L, "ALPHA"), (11L, "epsilon "), (12L, "zeta"),
      (13L, "beta"), (14L, "eta"))
    def fresh(layout: graft.ingest.StoreLayout): Set[Long] =
      D.newUnique(probe, "text", "doc_id", layout).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    def generations(store: String): Seq[String] = {
      val parent = new java.io.File(store).getParentFile
      parent.list().toSeq.filter(_.startsWith("hashes.bloom")).sorted
    }
    val store = tmpDir("sidecar-threshold") + "/hashes"
    D.recordHashes(early, "text", store)
    D.recordHashes(late, "text", store)
    val s0 = SS.of(spark, store)
    assert(s0.sidecarThresholdBytes === threshold && threshold > 0L)
    assert(s0.dataBytes > 0L && s0.dataBytes < threshold)
    assert(!s0.sidecarPresent && !s0.sidecarStale,
      "a store under the broadcast threshold must not read stale")
    D.maintain(spark, store)
    assert(!SS.of(spark, store).sidecarPresent && generations(store).isEmpty,
      "inline upkeep must build no sidecar under the threshold")
    // the twin: an explicit sidecar over the early delivery, the late
    // one a post-sidecar residual append — every probe uses the sidecar
    val twin = tmpDir("sidecar-threshold-twin") + "/hashes"
    D.recordHashes(early, "text", twin)
    assert(D.buildBloomSidecar(spark, twin, numShards = 4) === 3L)
    D.recordHashes(late, "text", twin)
    val t0 = SS.of(spark, twin)
    assert(t0.sidecarPresent && t0.residualFiles > 0 && !t0.sidecarStale)
    assert(fresh(store) === Set(12L, 14L))
    assert(fresh(twin) === fresh(store),
      "the sidecar-free store must answer as its sidecar'd twin")
    // threshold under the store's size: the next upkeep builds one
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(SS.of(spark, store).sidecarStale)
      D.maintain(spark, store)
      val s1 = SS.of(spark, store)
      assert(s1.sidecarPresent && !s1.sidecarStale &&
        s1.coveredFiles === s1.dataFiles)
      assert(generations(store).size === 2, "one manifest, one generation")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    assert(fresh(store) === Set(12L, 14L))
    // a due compaction on the sidecar'd twin under the threshold: the
    // manifest and every generation go, the answers stay
    D.retract(batch((0L, "gamma")), "text", twin)
    spark.conf.set("graft.tombstone.broadcast.maxBytes", "2")
    try {
      assert(SS.of(spark, twin).compactionDue)
      D.maintain(spark, twin)
    } finally spark.conf.unset("graft.tombstone.broadcast.maxBytes")
    val t1 = SS.of(spark, twin)
    assert(t1.tombstoneBytes === 0L && !t1.sidecarPresent &&
      !t1.sidecarStale)
    assert(generations(twin).isEmpty,
      "compaction under the threshold must remove the whole sidecar")
    assert(fresh(twin) === Set(12L, 14L))
    // bucketed form: the same rule through the table's _bloom
    val t = "sidecar_threshold_t"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      D.recordHashes(early, "text", Bucketed(t))
      D.maintain(spark, Bucketed(t))
      assert(!SS.of(spark, Bucketed(t)).sidecarPresent)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try D.maintain(spark, Bucketed(t))
      finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      assert(SS.of(spark, Bucketed(t)).sidecarPresent)
      assert(D.newUnique(probe, "text", "doc_id", Bucketed(t))
        .select("doc_id").collect().map(_.getLong(0)).toSet ===
        Set(11L, 12L, 14L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("ContaminationStore lifecycle: register → overlap/threshold " +
    "probes → bloom parity → benchmark retraction (shared grams stay " +
    "armed) → compaction applies physically; StoreStats reports it") {
    import spark.implicits._
    val C = graft.ingest.ContaminationStore
    val store = tmpDir("contam-store") + "/bench_grams"
    // benchmark A and B share exactly one 3-token shingle
    // ("two three four"); every other gram is unique to its owner
    val benchA = Seq((100L, "zeta one two three four"))
      .toDF("doc_id", "text")
    val benchB = Seq((101L, "two three four five six"))
      .toDF("doc_id", "text")
    C.recordBenchmark(benchA, "text", "doc_id", store)
    C.recordBenchmark(benchB, "text", "doc_id", store)
    val probe = Seq(
      (1L, "alpha beta gamma delta epsilon"), // no overlap
      (2L, "xx one two three yy"),            // 1 gram, A only
      (3L, "one two three four qq"),          // 2 grams, A and (A∩B)
      (4L, "four five six seven eight"))      // 1 gram, B only
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows(C.overlap(probe, "text", "doc_id", store))
      === Set((2L, 1L, 1L), (3L, 2L, 2L), (4L, 1L, 1L)),
      "overlap must replay q53's countDISTINCT pair per probe doc")
    assert(ids(C.newClean(probe, "text", "doc_id", store)) === Seq(1L))
    assert(ids(C.newClean(probe, "text", "doc_id", store,
      minSharedGrams = 2)) === Seq(1L, 2L, 4L),
      "the threshold must count DISTINCT shared grams")
    // bloom parity: with a sidecar, and with post-sidecar residual
    // appends, the gated answer is unchanged
    C.buildBloomSidecar(spark, store)
    assert(ids(C.newClean(probe, "text", "doc_id", store))
      === Seq(1L))
    C.recordBenchmark(Seq((102L, "gamma delta epsilon www"))
      .toDF("doc_id", "text"), "text", "doc_id", store)
    assert(ids(C.newClean(probe, "text", "doc_id", store))
      === Seq(), "a residual (post-sidecar) registration must gate " +
        "through the miss leg")
    assert(ids(C.newClean(probe, "text", "doc_id", store,
      minSharedGrams = 2)) === Seq(1L, 2L, 4L))
    // retraction: retiring A disarms A-only grams immediately, but the
    // gram A SHARES with B stays armed through B's rows
    C.retractBenchmark(benchA, "text", "doc_id", store)
    assert(rows(C.overlap(probe, "text", "doc_id", store)
        .filter(col("doc_id").isin(2L, 3L, 4L)))
      === Set((3L, 1L, 1L), (4L, 1L, 1L)),
      "retraction must not disarm a gram another benchmark shares")
    val stats1 = graft.ingest.StoreStats.of(spark, store)
    assert(stats1.tombstoneFiles > 0 && stats1.dataFiles > 0
      && stats1.sidecarPresent)
    C.compactStore(spark, store)
    assert(spark.read.parquet(store)
      .filter(col("bench_id") === 100L).count() === 0L,
      "retracted benchmark rows survived compaction")
    assert(graft.ingest.StoreStats.of(spark, store).tombstoneFiles
      === 0, "compaction must consume the tombstone backlog")
    C.buildBloomSidecar(spark, store)
    assert(ids(C.newClean(probe, "text", "doc_id", store))
      === Seq(2L), "post-compaction gate drifted")
  }

  test("ContaminationStore laws: re-registration is probe-idempotent, " +
    "the gate is monotone in minSharedGrams, and null ids are one " +
    "pooled identity (the family contract)") {
    import spark.implicits._
    val C = graft.ingest.ContaminationStore
    val store = tmpDir("contam-laws") + "/bench_grams"
    val bench = Seq((100L, "one two three four five"))
      .toDF("doc_id", "text")
    C.recordBenchmark(bench, "text", "doc_id", store)
    val probe = Seq(
      (1L, "xx one two three yy"),        // 1 shared gram
      (2L, "one two three four zz"))      // 2 shared grams
      .toDF("doc_id", "text")
    def overlapRows(): Set[(Long, Long, Long)] =
      C.overlap(probe, "text", "doc_id", store).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val once = overlapRows()
    // idempotence: registering the SAME benchmark again changes no
    // probe answer (countDISTINCT arithmetic; compaction reclaims)
    C.recordBenchmark(bench, "text", "doc_id", store)
    assert(overlapRows() === once,
      "re-registration must be probe-idempotent")
    def survivors(minShared: Int): Seq[Long] =
      C.newClean(probe, "text", "doc_id", store, minShared)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // monotone: raising the threshold only ADMITS documents
    assert(survivors(1) === Seq())
    assert(survivors(2) === Seq(1L))
    assert(survivors(3) === Seq(1L, 2L))
    // null ids pool: two null-id rows each sharing ONE distinct gram
    // form one identity whose pooled distinct count crosses 2 — both
    // rows drop at minSharedGrams = 2, exactly like a single doc that
    // carried both grams (SpanStore's documented cohort semantics)
    val nullProbe = Seq(
      (Option.empty[Long], "aa one two three bb"),  // gram A
      (Option.empty[Long], "cc three four five dd"), // gram B
      (Some(9L), "clean words only here"))
      .toDF("doc_id", "text")
    val pooled = C.newClean(nullProbe, "text", "doc_id", store,
        minSharedGrams = 2)
      .select("doc_id").collect().map(r =>
        if (r.isNullAt(0)) -1L else r.getLong(0)).sorted.toSeq
    assert(pooled === Seq(9L),
      "null-id rows must pool into one identity at the threshold")
  }

  test("DedupStore.newUnseen (the blocklist/membership probe): row " +
    "multiplicity preserved, normalization gives case-insensitive " +
    "keys, un-listing retracts, and the bloom path answers " +
    "identically through residual appends") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    val store = tmpDir("blocklist") + "/keys"
    D.recordHashes(Seq(Tuple1("spam.example.com"))
      .toDF("domain"), "domain", store)
    val docs = Seq(
      (1L, "good.example.com"),
      (2L, "good.example.com"),  // same unlisted domain — BOTH survive
      (3L, "spam.example.com"),
      (4L, "SPAM.Example.COM")) // normalization: case-insensitive hit
      .toDF("doc_id", "domain")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(D.newUnseen(docs, "domain", store)) === Seq(1L, 2L),
      "membership gate must keep EVERY row of an unlisted key")
    assert(D.newUnseen(docs, "domain", store).columns.toSeq
      === Seq("doc_id", "domain"), "output columns must be the input's")
    // contrast pin: the dedup probe's keeper collapse is the WRONG
    // shape here (one row per unlisted domain)
    assert(D.newUnique(docs, "domain", "doc_id", store).count() === 1L)
    // bloom parity, incl. a residual (post-sidecar) listing
    D.buildBloomSidecar(spark, store)
    assert(ids(D.newUnseen(docs, "domain", store))
      === Seq(1L, 2L))
    D.recordHashes(Seq(Tuple1("good.example.com")).toDF("domain"),
      "domain", store)
    assert(ids(D.newUnseen(docs, "domain", store)) === Seq(),
      "a residual listing must gate through the miss leg")
    // un-listing = the standard retraction: probes reopen immediately
    D.retract(Seq(Tuple1("spam.example.com")).toDF("domain"),
      "domain", store)
    assert(ids(D.newUnseen(docs, "domain", store)) === Seq(3L, 4L),
      "retraction must un-list the key for every row")
  }

  test("O5 validate: accepts exact and superset columns, rejects missing") {
    import spark.implicits._
    val ok = Seq(("a", "b", "c", "d", "e", "f")).toDF(
      "client_id", "nom", "prenom", "email", "telephone", "adresse")
    assert(Ingest.validateColumns(ok, Tables.requiredColumns("clients"))
      === Ingest.Valid)
    val extra = ok.withColumn("extra", lit(1))
    assert(Ingest.validateColumns(extra, Tables.requiredColumns("clients"))
      === Ingest.Valid)
    val bad = ok.drop("email")
    assert(Ingest.validateColumns(bad, Tables.requiredColumns("clients"))
      === Ingest.MissingColumns(Seq("email")))
  }

  test("§1.2 Excel serial 45787.604166666664 → 2025-05-10 14:30:00 UTC") {
    import spark.implicits._
    val got = Seq(45787.604166666664).toDF("serial")
      .select(Ingest.excelSerialToTimestamp(col("serial")).as("ts"))
      .collect().head.getTimestamp(0)
    assert(got.toString === "2025-05-10 14:30:00.0")
  }

  test("O6 lineage: source_file + imported_at present and populated") {
    import spark.implicits._
    val df = Ingest.withLineage(Seq(1).toDF("x"), "clients.csv")
    val row = df.collect().head
    assert(row.getAs[String]("source_file") === "clients.csv")
    assert(row.getAs[java.sql.Timestamp]("imported_at") != null)
  }

  test("O9 dedupe: in-batch dups dropped, existing keys anti-joined") {
    import spark.implicits._
    val batch = Seq(("k1", 1), ("k1", 2), ("k2", 3)).toDF("id", "v")
    val noExisting = Ingest.dedupe(batch, None, Seq("id"))
    assert(noExisting.count() === 2)
    val existing = Seq(("k2", 9)).toDF("id", "v")
    val after = Ingest.dedupe(batch, Some(existing), Seq("id"))
    assert(after.select("id").collect().map(_.getString(0)).toSet
      === Set("k1"))
  }

  test("O9 strict: duplicate key count vs existing (reject-batch parity)") {
    import spark.implicits._
    val batch = Seq(("k1", 1), ("k2", 2)).toDF("id", "v")
    val existing = Seq(("k2", 9), ("k3", 8)).toDF("id", "v")
    assert(Ingest.duplicateKeyCount(batch, existing, Seq("id")) === 1L)
  }

  test("O10 orphans: ventes referencing unknown client detected") {
    import spark.implicits._
    val ventes = Seq(("V1", "CLI001"), ("V2", "CLI999"))
      .toDF("vente_id", "client_id")
    val clients = Seq(("CLI001", "Dupont")).toDF("client_id", "nom")
    val bad = Ingest.orphans(ventes, clients, "client_id")
    assert(bad.collect().map(_.getAs[String]("vente_id")).toSeq
      === Seq("V2"))
  }

  test("O12 metadata upsert: latest-wins per filename") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val existing = Seq(
      ("a.csv", ts("2025-01-01 00:00:00"), ts("2025-01-01 00:00:01"),
        "success")).toDF(
      "filename", "last_modified", "last_processed", "status")
    val updates = Seq(
      ("a.csv", ts("2025-01-02 00:00:00"), ts("2025-01-02 00:00:01"),
        "error"),
      ("b.csv", ts("2025-01-02 00:00:00"), ts("2025-01-02 00:00:01"),
        "success")).toDF(
      "filename", "last_modified", "last_processed", "status")
    val merged = Ingest.upsertMetadata(existing, updates).collect()
      .map(r => r.getAs[String]("filename") -> r.getAs[String]("status"))
      .toMap
    assert(merged === Map("a.csv" -> "error", "b.csv" -> "success"))
  }

  test("O3 incremental: unseen or newer-mtime files selected, others skipped") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val listing = Seq(
      ("old.csv", ts("2025-01-01 00:00:00")),
      ("touched.csv", ts("2025-02-01 00:00:00")),
      ("new.csv", ts("2025-01-15 00:00:00")))
      .toDF("filename", "last_modified")
    val meta = Seq(
      ("old.csv", ts("2025-01-01 00:00:00"), ts("2025-01-01 00:01:00"),
        "success"),
      ("touched.csv", ts("2025-01-01 00:00:00"), ts("2025-01-01 00:01:00"),
        "success")).toDF(
      "filename", "last_modified", "last_processed", "status")
    val need = Ingest.filesNeedingProcessing(listing, meta)
      .select("filename").collect().map(_.getString(0)).toSet
    assert(need === Set("touched.csv", "new.csv"))
  }

  test("O11 router: substring dispatch incl. unrecognized; O2 lock filter") {
    assert(Ingest.entityFor("/w/clients_2025.csv") === Some("clients"))
    assert(Ingest.entityFor("PRODUITS.csv") === Some("produits"))
    assert(Ingest.entityFor("ventes-jan.parquet") === Some("ventes"))
    assert(Ingest.entityFor("unknown.csv") === None)
    import spark.implicits._
    val names = Seq("/w/~$clients.csv", "/w/clients.csv").toDF("f")
    val kept = names.filter(!Ingest.isLockFile(col("f")))
      .collect().map(_.getString(0))
    assert(kept === Array("/w/clients.csv"))
  }

  test("pollOnce bounds each cycle to maxFilesPerCycle oldest-first; " +
    "the backlog drains across cycles with nothing starved") {
    val watch = tmpDir("watch-capped")
    val wh = new Warehouse(spark, tmpDir("wh-capped"))
    writeFile(watch, "clients.csv", clientsCsv)
    writeFile(watch, "produits.csv", produitsCsv)
    // distinct mtimes so oldest-first is deterministic: clients oldest
    val fc = new java.io.File(watch, "clients.csv")
    val fp = new java.io.File(watch, "produits.csv")
    assert(fc.setLastModified(System.currentTimeMillis() - 60000))
    assert(fp.setLastModified(System.currentTimeMillis() - 30000))
    val st1 = wh.pollOnce(watch, maxFilesPerCycle = 1)
    assert(st1 === Map("clients.csv" -> "success"))
    val st2 = wh.pollOnce(watch, maxFilesPerCycle = 1)
    assert(st2 === Map("produits.csv" -> "success"))
    // backlog drained: nothing left for cycle three
    assert(wh.pollOnce(watch, maxFilesPerCycle = 1) === Map.empty)
    assert(wh.table("clients").get.count() === 3)
    assert(wh.table("produits").get.count() === 2)
  }

  test("E1 end-to-end: poll cycle over fixture CSVs, then idempotent re-poll") {
    val watch = tmpDir("watch")
    val wh = new Warehouse(spark, tmpDir("wh"))
    writeFile(watch, "clients.csv", clientsCsv)
    writeFile(watch, "produits.csv", produitsCsv)
    writeFile(watch, "ventes.csv", ventesCsv)
    writeFile(watch, "~$clients.csv", "garbage") // lock artifact → ignored
    writeFile(watch, "notes.csv", "a,b\n1,2\n") // unrecognized → skipped

    val st = wh.pollOnce(watch)
    assert(st === Map("clients.csv" -> "success",
      "produits.csv" -> "success", "ventes.csv" -> "success"))
    assert(wh.table("clients").get.count() === 3)
    assert(wh.table("produits").get.count() === 2)
    val ventes = wh.table("ventes").get.collect()
    assert(ventes.length === 1)
    // Excel serial converted + lineage present (FIXTURES.md quirks).
    assert(ventes.head.getAs[java.sql.Timestamp]("date_vente").toString
      === "2025-05-10 14:30:00.0")
    assert(ventes.head.getAs[String]("source_file") === "ventes.csv")
    // prix_total coerced to DECIMAL(10,2).
    assert(wh.table("ventes").get.schema("prix_total").dataType
      === DecimalType(10, 2))

    // Second poll: nothing modified → nothing reprocessed (O3).
    assert(wh.pollOnce(watch) === Map.empty)
    assert(wh.table("clients").get.count() === 3)

    // Touch clients.csv (reference reprocess procedure, readme.md:125-129):
    // reprocessed but dedup keeps the table idempotent (O9).
    val f = new java.io.File(watch, "clients.csv")
    assert(f.setLastModified(f.lastModified() + 5000))
    val st2 = wh.pollOnce(watch)
    assert(st2 === Map("clients.csv" -> "success"))
    assert(wh.table("clients").get.count() === 3)
  }

  /** Simulate a killed write into `dir`: a part file exists ONLY under
    * _temporary/. (Named so Spark's own output committer would not
    * claim it if a real write later reused this directory.)
    */
  private def interruptedWrite(dir: java.nio.file.Path): Unit = {
    val tmpAttempt = dir.resolve("_temporary/0/_temporary/attempt_1")
    Files.createDirectories(tmpAttempt)
    Files.writeString(tmpAttempt.resolve("part-00000.snappy.parquet"),
      "not a real footer")
  }

  test("table(): interrupted write leaving only _temporary files is " +
    "'no data yet', not a persistent failure; committed data reads") {
    val root = tmpDir("wh-tmp")
    val wh = new Warehouse(spark, root)
    interruptedWrite(java.nio.file.Paths.get(root, "clients"))
    assert(wh.table("clients").isEmpty,
      "_temporary leftovers must read as empty, not crash every poll")
    // A committed file alongside the stale markers counts as data
    // again: write a real parquet file elsewhere and move the part file
    // in by hand (a Spark append would sweep our fake staging dir).
    import spark.implicits._
    val side = tmpDir("wh-side")
    Seq(("CLI001", "n", "p", "e", "t", "a")).toDF("client_id", "nom",
      "prenom", "email", "telephone", "adresse")
      .coalesce(1).write.parquet(s"$side/out")
    val listing = Files.list(java.nio.file.Paths.get(side, "out"))
    val part =
      try listing.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      finally listing.close()
    Files.copy(part,
      java.nio.file.Paths.get(root, "clients", part.getFileName.toString))
    assert(wh.table("clients").get.count() === 1)
  }

  test("file_metadata: an interrupted control-table write reads as an " +
    "empty control table, so polling resumes and replaces it") {
    val root = tmpDir("wh-meta-tmp")
    val wh = new Warehouse(spark, root)
    interruptedWrite(java.nio.file.Paths.get(root, "file_metadata"))
    assert(wh.metadata.count() === 0)
    val watch = tmpDir("watch-meta-tmp")
    writeFile(watch, "clients.csv", clientsCsv)
    assert(wh.pollForever(watch, maxCycles = 1, sleep = _ => ()) === 1,
      "the cycle must succeed, not back off")
    assert(wh.metadata.collect()
      .map(r => r.getAs[String]("filename") -> r.getAs[String]("status"))
      .toMap === Map("clients.csv" -> "success"))
    assert(wh.table("clients").get.count() === 3)
  }

  test("_keys: an interrupted keys-projection write falls back to the " +
    "full table for dedup, and the next append rebuilds the projection " +
    "from the table") {
    val root = tmpDir("wh-keys-tmp")
    val wh = new Warehouse(spark, root)
    val watch = tmpDir("watch-keys-tmp")
    writeFile(watch, "clients.csv", clientsCsv)
    assert(wh.pollOnce(watch) === Map("clients.csv" -> "success"))
    val keys = new org.apache.hadoop.fs.Path(s"$root/_keys/clients")
    keys.getFileSystem(spark.sessionState.newHadoopConf()).delete(keys, true)
    interruptedWrite(java.nio.file.Paths.get(keys.toString))
    assert(wh.keyProjection("clients").isEmpty)
    // a re-delivered key (CLI001) and a new one
    writeFile(watch, "clients_2.csv",
      """client_id,nom,prenom,email,telephone,adresse
        |CLI001,Dupont,Jean,jean.dupont@email.com,612345678,Paris
        |CLI004,Durand,Paul,p.durand@email.com,634567890,Nantes
        |""".stripMargin)
    assert(wh.pollOnce(watch) === Map("clients_2.csv" -> "success"))
    assert(wh.table("clients").get.select("client_id").collect()
      .map(_.getString(0)).sorted.toSeq ===
      Seq("CLI001", "CLI002", "CLI003", "CLI004"),
      "the full-table fallback must still drop the re-delivered key")
    assert(wh.keyProjection("clients").get.collect()
      .map(_.getString(0)).sorted.toSeq ===
      Seq("CLI001", "CLI002", "CLI003", "CLI004"),
      "the projection must be rebuilt from the table, not hold one batch")
  }

  test("pollOnce: two deliveries of one cycle sharing a key land the " +
    "older file's row, whatever the file names") {
    val header = "client_id,nom,prenom,email,telephone,adresse\n"
    for ((older, newer) <- Seq(("clients_a.csv", "clients_b.csv"),
      ("clients_b.csv", "clients_a.csv"))) {
      val watch = tmpDir("watch-order")
      val wh = new Warehouse(spark, tmpDir("wh-order"))
      writeFile(watch, older, header + "CLI001,Ancien,Jean,j@e.com,1,a\n")
      writeFile(watch, newer, header + "CLI001,Nouveau,Jean,j@e.com,1,a\n")
      val now = System.currentTimeMillis()
      assert(new java.io.File(watch, older).setLastModified(now - 60000))
      assert(new java.io.File(watch, newer).setLastModified(now - 30000))
      assert(wh.pollOnce(watch) ===
        Map(older -> "success", newer -> "success"))
      assert(wh.table("clients").get.select("nom").collect()
        .map(_.getString(0)).toSeq === Seq("Ancien"),
        s"$older is older than $newer, so its row must land")
    }
  }

  private def writeE1Fixture(watch: String): Unit = {
    writeFile(watch, "clients.csv", clientsCsv)
    writeFile(watch, "produits.csv", produitsCsv)
    writeFile(watch, "ventes.csv", ventesCsv)
  }

  test("work-counter law: building the frames of storedTable(), " +
    "keyProjection() and metadata runs ZERO Spark jobs, and each carries " +
    "the schema parquet inference finds") {
    val root = tmpDir("wh-zero")
    val wh = new Warehouse(spark, root)
    val (_, emptyJobs) = jobsDuring(wh.metadata)
    assert(emptyJobs.size === 0,
      s"the empty control table ran ${emptyJobs.size} Spark jobs")
    val watch = tmpDir("watch-zero")
    writeE1Fixture(watch)
    assert(wh.pollOnce(watch).values.toSet === Set("success"))
    val entities = Seq("clients", "produits", "ventes")
    val (frames, jobs) = jobsDuring {
      (entities :+ "file_metadata").map(n => n -> wh.storedTable(n).get) ++
        entities.map(n => s"_keys/$n" -> wh.keyProjection(n).get) :+
        ("file_metadata" -> wh.metadata)
    }
    assert(jobs.size === 0,
      s"building the frames ran ${jobs.size} Spark jobs: ${jobNames(jobs)}")
    frames.foreach { case (rel, df) =>
      assert(df.schema === spark.read.parquet(s"$root/$rel").schema, rel)
    }
  }

  test("work-counter pin: one pollOnce over the E1 fixture runs " +
    "exactly 25 Spark jobs") {
    // an exact work pin: a new count is a work change to justify, like
    // a changed plan pin
    val watch = tmpDir("watch-pin")
    val wh = new Warehouse(spark, tmpDir("wh-pin"))
    writeE1Fixture(watch)
    val (st, jobs) = jobsDuring(wh.pollOnce(watch))
    assert(st === Map("clients.csv" -> "success",
      "produits.csv" -> "success", "ventes.csv" -> "success"))
    assert(jobs.size === 25, jobNames(jobs))
  }

  test("a re-touched delivery with no new rows commits nothing: no " +
    "file lands under the table or its keys projection, the status " +
    "stays success, and the pollOnce runs exactly 15 Spark jobs") {
    val watch = tmpDir("watch-retouch")
    val root = tmpDir("wh-retouch")
    val wh = new Warehouse(spark, root)
    writeE1Fixture(watch)
    assert(wh.pollOnce(watch).values.toSet === Set("success"))
    def files(): Set[String] = {
      val top = java.nio.file.Paths.get(root)
      val walk = Files.walk(top)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(top.relativize(_).toString)
        .filterNot(_.startsWith("file_metadata")).toSet
      finally walk.close()
    }
    val before = files()
    // a dim and the fact, each re-delivered whole under a newer mtime
    val later = System.currentTimeMillis() + 60000
    for (f <- Seq("clients.csv", "ventes.csv"))
      assert(new java.io.File(watch, f).setLastModified(later))
    val (st, jobs) = jobsDuring(wh.pollOnce(watch))
    assert(st === Map("clients.csv" -> "success", "ventes.csv" -> "success"))
    assert(files() === before,
      "a delivery with no new rows must add no file to any table")
    assert(wh.table("clients").get.count() === 3L)
    assert(wh.table("ventes").get.count() === 1L)
    assert(jobs.size === 15, jobNames(jobs))
  }

  test("work-counter pin: one pollOnce over 1, 2 and 4 clients CSV " +
    "files runs one plan — each extra file adds exactly its header read") {
    val header = "client_id,nom,prenom,email,telephone,adresse\n"
    def poll(n: Int): Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
      val watch = tmpDir(s"watch-files-$n")
      val wh = new Warehouse(spark, tmpDir(s"wh-files-$n"))
      for (i <- 1 to n)
        writeFile(watch, s"clients_$i.csv", header +
          s"CLI00$i,N$i,P$i,e$i@x.com,$i,a$i\nCLI100,Shared,S,s@x.com,0,s\n")
      val (st, jobs) = jobsDuring(wh.pollOnce(watch))
      assert(st === (1 to n).map(i => s"clients_$i.csv" -> "success").toMap)
      assert(wh.table("clients").get.count() === n + 1L)
      jobs
    }
    val byFiles = Seq(1, 2, 4).map(n => n -> poll(n)).toMap
    def headerReads(n: Int) = jobNames(byFiles(n)).split("; ")
      .count(_.startsWith("csv at "))
    for (n <- Seq(1, 2, 4)) {
      assert(headerReads(n) === n, jobNames(byFiles(n)))
      assert(byFiles(n).size === byFiles(1).size + (n - 1),
        s"$n files: ${jobNames(byFiles(n))}")
    }
  }

  test("pollOnce: an older ventes file failing the FK check does not " +
    "shadow a newer file's row with the same key, and that row is " +
    "FK-checked in its own file") {
    val dims = Seq(
      "clients.csv" -> ("client_id,nom,prenom,email,telephone,adresse\n" +
        "CLI001,D,J,e,1,2\n"),
      "produits.csv" -> ("produit_id,nom,categorie,prix_unitaire," +
        "stock_disponible,description\nPRO001,X,c,5,1,d\n"))
    val header = "vente_id,client_id,produit_id,quantite,prix_total,date_vente\n"
    val orphan = "VNT001,CLI999,PRO001,1,5,2025-05-10 10:00:00\n"
    def poll(newer: String): (Map[String, String], Warehouse) = {
      val watch = tmpDir("watch-fk-shadow")
      val wh = new Warehouse(spark, tmpDir("wh-fk-shadow"))
      dims.foreach { case (n, c) => writeFile(watch, n, c) }
      writeFile(watch, "ventes_a.csv", header + orphan)
      writeFile(watch, "ventes_b.csv", header + newer)
      val now = System.currentTimeMillis()
      assert(new java.io.File(watch, "ventes_a.csv").setLastModified(now - 60000))
      assert(new java.io.File(watch, "ventes_b.csv").setLastModified(now - 30000))
      (wh.pollOnce(watch), wh)
    }
    // the newer file's VNT001 is valid: it lands, from ventes_b
    val (st, wh) = poll("VNT001,CLI001,PRO001,2,10,2025-05-11 10:00:00\n" +
      "VNT002,CLI001,PRO001,1,5,2025-05-12 10:00:00\n")
    assert(st === Map("clients.csv" -> "success", "produits.csv" -> "success",
      "ventes_a.csv" -> "error", "ventes_b.csv" -> "success"))
    assert(wh.table("ventes").get.select("vente_id", "source_file").collect()
      .map(r => r.getString(0) -> r.getString(1)).sorted.toSeq ===
      Seq("VNT001" -> "ventes_b.csv", "VNT002" -> "ventes_b.csv"))
    assert(wh.keyProjection("ventes").get.count() === 2)
    // the newer file's VNT001 is itself an orphan: once the older file
    // is out, the newer one fails too, and nothing lands
    val (st2, wh2) = poll("VNT001,CLI998,PRO001,2,10,2025-05-11 10:00:00\n" +
      "VNT002,CLI001,PRO001,1,5,2025-05-12 10:00:00\n")
    assert(st2("ventes_a.csv") === "error" && st2("ventes_b.csv") === "error")
    assert(wh2.table("ventes").isEmpty)
  }

  test("pollOnce: a file whose rows fail at execution is in error alone; " +
    "the entity's other files land") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true",
      "premise: an unreadable number fails the cast at execution")
    val watch = tmpDir("watch-corrupt")
    val wh = new Warehouse(spark, tmpDir("wh-corrupt"))
    val header = "produit_id,nom,categorie,prix_unitaire,stock_disponible," +
      "description\n"
    writeFile(watch, "produits_a.csv", header + "PRO001,A,c,5,1,d\n")
    writeFile(watch, "produits_b.csv", header + "PRO002,B,c,5,lots,d\n")
    writeFile(watch, "produits_c.csv", header + "PRO003,C,c,5,3,d\n")
    assert(wh.pollOnce(watch) === Map("produits_a.csv" -> "success",
      "produits_b.csv" -> "error", "produits_c.csv" -> "success"))
    assert(wh.table("produits").get.select("produit_id").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("PRO001", "PRO003"))
  }

  test("a ventes fact in the earlier daily-partitioned layout is refused " +
    "loudly, before the cycle writes anything, and never appended to") {
    import spark.implicits._
    val root = tmpDir("wh-daily")
    Seq(("VNT000", "CLI001", "PRO001", 1, java.sql.Timestamp.valueOf(
      "2025-05-01 10:00:00"))).toDF("vente_id", "client_id", "produit_id",
      "quantite", "date_vente")
      .withColumn("sale_date", to_date(col("date_vente")))
      .write.partitionBy("sale_date").parquet(s"$root/ventes")
    def listing(): Set[String] = {
      val top = java.nio.file.Paths.get(root)
      val walk = Files.walk(top)
      try walk.iterator().asScala.map(top.relativize(_).toString).toSet
      finally walk.close()
    }
    val before = listing()
    val watch = tmpDir("watch-daily")
    writeE1Fixture(watch)
    val wh = new Warehouse(spark, root)
    for (attempt <- Seq[() => Any](() => wh.pollOnce(watch),
      () => wh.table("ventes"))) {
      val e = intercept[IllegalStateException](attempt())
      assert(e.getMessage.contains("sale_date=") &&
        e.getMessage.contains("Rewrite it once"), e.getMessage)
    }
    assert(listing() === before, "the refused cycle must write nothing")
  }

  test("E1 negative: missing column → error; FK orphan ventes → error") {
    val watch = tmpDir("watch2")
    val wh = new Warehouse(spark, tmpDir("wh2"))
    // clients file missing 'email' → validation reject (etl/app.py:151-155)
    writeFile(watch, "clients.csv",
      "client_id,nom,prenom,telephone,adresse\nCLI001,D,J,1,2\n")
    // ventes referencing unloaded dims → FK orphan → error
    writeFile(watch, "ventes.csv", ventesCsv)
    val st = wh.pollOnce(watch)
    assert(st === Map("clients.csv" -> "error", "ventes.csv" -> "error"))
    assert(wh.table("clients").isEmpty)
    assert(wh.table("ventes").isEmpty)
    // metadata recorded both outcomes (O13)
    val meta = wh.metadata.collect()
      .map(r => r.getAs[String]("filename") -> r.getAs[String]("status"))
      .toMap
    assert(meta === Map("clients.csv" -> "error", "ventes.csv" -> "error"))
  }
}
