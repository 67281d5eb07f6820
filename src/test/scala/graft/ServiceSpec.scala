package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ingest.{Ingest, Warehouse}

/** Service-loop + layout parity added in r2 (VERDICT r1 items 7-10):
  * the sale_date-clustered fact append, pollForever error-recovery
  * loop, SERIAL emulation, and read retry.
  */
class ServiceSpec extends SparkSuite {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeFile(dir: String, name: String, content: String): Unit =
    Files.writeString(java.nio.file.Paths.get(dir, name), content)

  test("O8 layout: ventes append writes a flat table clustered by " +
    "sale_date; a day filter is pushed to the scan") {
    val watch = tmpDir("svc-watch")
    val whRoot = tmpDir("svc-wh")
    val wh = new Warehouse(spark, whRoot)
    writeFile(watch, "clients.csv",
      "client_id,nom,prenom,email,telephone,adresse\nCLI001,D,J,e,1,2\n")
    writeFile(watch, "produits.csv",
      "produit_id,nom,categorie,prix_unitaire,stock_disponible,description\nPRO001,X,c,5,1,d\n")
    // six sales on six days, delivered out of date order
    val days = Seq("2025-06-01", "2025-05-10", "2025-07-04", "2025-05-11",
      "2025-12-31", "2025-01-02")
    writeFile(watch, "ventes.csv",
      "vente_id,client_id,produit_id,quantite,prix_total,date_vente\n" +
        days.zipWithIndex.map { case (d, i) =>
          s"VNT00$i,CLI001,PRO001,1,5,$d 14:30:00\n" }.mkString)
    assert(wh.pollOnce(watch).values.forall(_ == "success"))
    // flat: no directory under the table, and the append writes one
    // file per written partition (at most the shuffle partitions), not
    // one per sale date
    val entries = new java.io.File(s"$whRoot/ventes").listFiles()
    assert(entries.filter(_.isDirectory).map(_.getName).toSeq === Nil)
    val parts = entries.map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts.nonEmpty && parts.length <=
      spark.conf.get("spark.sql.shuffle.partitions").toInt &&
      parts.length < days.size, entries.map(_.getName).sorted.toSeq)
    // sale_date is a stored column, last, as the partitioned layout
    // exposed it; each file holds its rows in sale_date order
    val ventes = wh.table("ventes").get
    assert(ventes.columns.last === "sale_date")
    for (f <- parts) {
      val dates = spark.read.parquet(s"$whRoot/ventes/$f")
        .select("sale_date").collect().map(_.getDate(0).toString).toSeq
      assert(dates === dates.sorted, f)
    }
    assert(ventes.count() === days.size)
    // a day filter reads back exactly that day, pushed to the scan
    val oneDay = ventes.filter(col("sale_date") === "2025-05-10")
    assert(oneDay.collect().map(_.getAs[String]("vente_id")).toSeq ===
      Seq("VNT001"))
    val pushed = oneDay.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "[]")
    }
    assert(pushed.exists(_.contains("EqualTo(sale_date,")), pushed)
  }

  test("O9 scale path: keys projection maintained on append; dedup " +
    "correct with and without it") {
    val watch = tmpDir("keys-watch")
    val whRoot = tmpDir("keys-wh")
    val wh = new Warehouse(spark, whRoot)
    writeFile(watch, "clients_a.csv",
      "client_id,nom,prenom,email,telephone,adresse\nCLI001,D,J,e,1,2\nCLI002,M,S,e2,3,4\n")
    assert(wh.pollOnce(watch) === Map("clients_a.csv" -> "success"))
    // Narrow projection exists and matches the table's key set.
    val keys = wh.keyProjection("clients").get
    assert(keys.columns.toSeq === Seq("client_id"))
    assert(keys.collect().map(_.getString(0)).sorted.toSeq
      === Seq("CLI001", "CLI002"))
    // Re-delivery dedups against the projection.
    writeFile(watch, "clients_b.csv",
      "client_id,nom,prenom,email,telephone,adresse\nCLI002,M,S,e2,3,4\nCLI003,X,Y,e3,5,6\n")
    assert(wh.pollOnce(watch) === Map("clients_b.csv" -> "success"))
    assert(wh.table("clients").get.count() === 3)
    assert(wh.keyProjection("clients").get.count() === 3)
    // Deleted projection -> fallback to the full table, still idempotent.
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$whRoot/_keys")).deleteRecursively()
    assert(wh.keyProjection("clients").isEmpty)
    writeFile(watch, "clients_c.csv",
      "client_id,nom,prenom,email,telephone,adresse\nCLI003,X,Y,e3,5,6\nCLI004,Z,W,e4,7,8\n")
    assert(wh.pollOnce(watch) === Map("clients_c.csv" -> "success"))
    val ids = wh.table("clients").get.select("client_id")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(ids === Seq("CLI001", "CLI002", "CLI003", "CLI004"))
    // The rebuilt projection must be COMPLETE (from the full table) —
    // a batch-only rebuild would re-admit CLI001-003 on re-delivery.
    assert(wh.keyProjection("clients").get
      .collect().map(_.getString(0)).sorted.toSeq
      === Seq("CLI001", "CLI002", "CLI003", "CLI004"))
  }

  test("O14 pollForever: failing cycle backs off and the loop recovers") {
    val wh = new Warehouse(spark, tmpDir("svc-wh2"))
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var calls = 0
    val ok = wh.pollForever("unused", pollIntervalMs = 60L,
      errorBackoffMs = 10000L, maxCycles = 3,
      sleep = sleeps.append(_),
      cycle = { _ =>
        calls += 1
        if (calls == 1) throw new RuntimeException("transient db down")
        Map.empty
      })
    assert(calls === 3)
    assert(ok === 2) // cycle 1 failed, cycles 2-3 succeeded
    // failure → error backoff; success → poll interval; last cycle no sleep
    assert(sleeps.toSeq === Seq(10000L, 60L))
  }

  test("§1.2 SERIAL emulation: contiguous 1..N ids over explicit order") {
    import spark.implicits._
    val df = Seq("c", "a", "b", "d").toDF("k").repartition(3)
    val ids = Ingest.withSerial(df, Seq(col("k")), "id")
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("k")))
    assert(ids.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(ids.map(_._2).toSeq === Seq("a", "b", "c", "d"))
  }

  test("O4 retry: transient failures retried with backoff, then succeed; " +
    "exhausted retries rethrow") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var attempts = 0
    val v = Ingest.withRetry(maxRetries = 3, delayMs = 2000,
      sleep = sleeps.append(_)) {
      attempts += 1
      if (attempts < 3) throw new RuntimeException("locked")
      42
    }
    assert(v === 42 && attempts === 3)
    assert(sleeps.toSeq === Seq(2000L, 2000L))
    val e = intercept[RuntimeException] {
      Ingest.withRetry(maxRetries = 2, delayMs = 1, sleep = _ => ()) {
        throw new RuntimeException("always")
      }
    }
    assert(e.getMessage === "always")
  }
}
