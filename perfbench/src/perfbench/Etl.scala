package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

/** `warehouse_etl`: each cycle lands one generated delivery in the watch
  * directory, runs `Warehouse.pollOnce`, then the dashboard SQL set over
  * `SqlSurface.registerWarehouse`. Closed loop, one client.
  */
object Etl {

  /** The dashboard reads run after every cycle. */
  val dashboards: Seq[(String, String)] = Seq(
    "revenue_by_category_month" ->
      """SELECT p.categorie, date_trunc('MONTH', v.date_vente) AS month,
        |       sum(v.prix_total) AS revenue
        |FROM ventes v JOIN produits p ON v.produit_id = p.produit_id
        |GROUP BY p.categorie, date_trunc('MONTH', v.date_vente)""".stripMargin,
    "top_clients" ->
      """SELECT c.client_id, c.nom, sum(v.prix_total) AS revenue
        |FROM ventes v JOIN clients c ON v.client_id = c.client_id
        |GROUP BY c.client_id, c.nom
        |ORDER BY revenue DESC, c.client_id LIMIT 10""".stripMargin,
    "orphan_free_ventes" ->
      """SELECT count(*) FROM ventes v
        |JOIN clients c ON v.client_id = c.client_id
        |JOIN produits p ON v.produit_id = p.produit_id""".stripMargin)

  /** Fixed work of a traced run, in cycles. */
  val tracedCycles = 1

  private final case class Cycle(dir: String, files: Seq[String],
      retouch: Seq[String], expect: JsonNode)

  final class Stream(r: Run, inputs: String, root: String) {
    val watch = s"$root/watch"
    val wh = s"$root/warehouse"
    Files.createDirectories(Paths.get(watch))
    private val mtime0 = 1700000000000L
    val warehouse = new graft.ingest.Warehouse(r.spark, wh)
    var inputCommitted = 0L
    var inputProcessed = 0L
    /** Rows each cycle committed to the warehouse, in cycle order. */
    val rowsByCycle: scala.collection.mutable.ArrayBuffer[Long] =
      scala.collection.mutable.ArrayBuffer.empty
    var errors = 0
    var filesWritten = 0L
    var bytesWritten = 0L
    private var seen = Map.empty[String, Long]
    private var prevRows = 0L
    private val footerRows = scala.collection.mutable.Map.empty[String, Long]

    /** Copy cycle c's files in and re-touch earlier ones. */
    def land(c: Int, cy: Cycle): Unit = {
      val t = FileTime.fromMillis(mtime0 + c * 10000L)
      val src = Paths.get(s"$inputs/${cy.dir}")
      Files.list(src).iterator().asScala.toSeq.sortBy(_.toString).foreach { p =>
        val dst = Paths.get(watch, p.getFileName.toString)
        Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst, t)
      }
      cy.retouch.foreach(f => Files.setLastModifiedTime(Paths.get(watch, f), t))
    }

    /** Runs cycle c (landing excluded from the time); returns its seconds. */
    def cycle(c: Int, cy: Cycle, op: Int): Double = {
      land(c, cy)
      val t0 = System.nanoTime()
      val got = r.tracer.span("ingest.poll", op)(warehouse.pollOnce(watch))
      val secs = (System.nanoTime() - t0) / 1e9
      val statuses = cy.expect.get("statuses")
      val want = (cy.files ++ cy.retouch).map(f =>
        f -> statuses.get(f).asText()).toMap
      r.check(s"cycle $c statuses", got == want,
        s"got ${got.toSeq.sorted}, expected ${want.toSeq.sorted}")
      errors += got.values.count(_ == "error")
      val processedBytes = got.keys.toSeq.map(f => Files.size(Paths.get(watch, f)))
      inputProcessed += processedBytes.sum
      inputCommitted += cy.files.filter(f => want(f) == "success")
        .map(f => Files.size(Paths.get(watch, f))).sum
      // rows committed, read back from the parquet footers of the keys
      // projections the commit maintains (one key per committed row; a
      // table whose projection is missing is counted whole)
      val rows = Seq("clients", "produits", "ventes").map { e =>
        val keys = s"$wh/_keys/$e"
        Stats.parquetRows(if (Files.exists(Paths.get(keys))) keys else s"$wh/$e",
          footerRows)
      }.sum
      val wantRows = Seq("clients", "produits", "ventes")
        .map(e => cy.expect.get(e).asLong()).sum
      r.check(s"cycle $c rows committed", rows == wantRows,
        s"$rows rows in the warehouse, expected $wantRows")
      rowsByCycle += rows - prevRows
      prevRows = rows
      if (r.tracer.active) {
        val now = Stats.listing(wh)
        val fresh = now.filter { case (p, _) => !seen.contains(p) }
        filesWritten += fresh.size
        bytesWritten += fresh.values.sum
        seen = now
      }
      secs
    }

    /** The dashboard set; returns its seconds. Checks every answer. */
    def dashboard(c: Int, cy: Cycle, op: Int): Double = {
      val t = r.tracer
      val t0 = System.nanoTime()
      t.span("dashboard", op) {
        t.span("sqlsurface.register", op)(
          graft.SqlSurface.registerWarehouse(r.spark, wh))
        dashboards.foreach { case (name, sql) =>
          val df = t.span("sqlsurface.plan", op) {
            val d = r.spark.sql(sql)
            d.queryExecution.executedPlan
            d
          }
          val rows = t.span("sqlsurface.exec", op)(df.collect())
          if (t.active) t.count("files_scanned", Layers.filesScanned(df))
          name match {
            case "revenue_by_category_month" =>
              val cents = rows.map(_.getDecimal(2).movePointRight(2)
                .longValueExact()).sum
              val want = cy.expect.get("revenue_cents").asLong()
              r.check(s"cycle $c dashboard revenue", cents == want,
                s"$cents cents, expected $want")
            case "top_clients" =>
              r.check(s"cycle $c dashboard top clients",
                rows.length == 10, s"${rows.length} rows")
            case _ =>
              val n = rows(0).getLong(0)
              val want = cy.expect.get("ventes").asLong()
              r.check(s"cycle $c dashboard ventes", n == want,
                s"$n, expected $want")
          }
        }
      }
      (System.nanoTime() - t0) / 1e9
    }

    /** End-of-run checks of row counts, key sets and file_metadata. */
    def finalChecks(last: Cycle, keys: JsonNode): Unit = {
      for ((entity, key) <- Seq("clients" -> "client_id",
        "produits" -> "produit_id", "ventes" -> "vente_id")) {
        val n = last.expect.get(entity).asInt()
        val want = keys.get(entity).elements().asScala.take(n)
          .map(_.asText()).toSet
        val df = warehouse.table(entity)
        val got = df.map(_.select(key).collect().map(_.getString(0)).toSeq)
          .getOrElse(Seq.empty)
        r.check(s"final $entity row count", got.size == n,
          s"${got.size} rows, expected $n")
        r.check(s"final $entity key set", got.toSet == want,
          s"${(got.toSet -- want).size} unexpected, " +
            s"${(want -- got.toSet).size} missing")
      }
      val meta = warehouse.metadata.collect()
        .map(x => x.getString(0) -> x.getString(3)).toMap
      val want = last.expect.get("statuses").fields().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
      r.check("final file_metadata statuses", meta == want,
        s"${meta.size} rows, ${(meta.toSet -- want.toSet).size} differ")
    }
  }

  def run(r: Run, inputs: String, traced: Boolean, setupStart: Long): Unit = {
    val plan = new ObjectMapper().readTree(
      Paths.get(s"$inputs/expected.json").toFile)
    val cycles = plan.get("cycles").elements().asScala.map { c =>
      Cycle(c.get("dir").asText(),
        c.get("files").elements().asScala.map(_.asText()).toSeq,
        c.get("retouch").elements().asScala.map(_.asText()).toSeq,
        c.get("expect"))
    }.toIndexedSeq
    def step(s: Stream, c: Int): (Double, Double) = {
      require(c < cycles.size, s"only ${cycles.size} cycles generated")
      val op = r.tracer.newOp()
      val secs = r.tracer.span("cycle", op)(s.cycle(c, cycles(c), op))
      (secs, s.dashboard(c, cycles(c), op))
    }
    // set-up: cycle 0 and its dashboards warm the engine on the measured
    // warehouse; timed cycles start at 1
    val s = new Stream(r, inputs, s"${r.workDir}/etl")
    val (poll0, dash0) = step(s, 0)
    r.notes += f"set-up: cycle 0 took $poll0%.2f s, its dashboards $dash0%.2f s"
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val timed =
      if (!traced) {
        val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
        val out = Seq.newBuilder[(Double, Double)]
        var c = 1
        while (!r.warmupOnly && (c == 1 || System.nanoTime() < deadline)) {
          out += step(s, c); c += 1
        }
        out.result()
      } else {
        // fixed work: cycles 1..K here untraced, and cycles 0..K traced on
        // a second warehouse fed the same deliveries; from cycle 1 the two
        // alternate which runs first
        r.tracer.install(r.spark)
        val t = new Stream(r, inputs, s"${r.workDir}/etl_traced")
        def traced(c: Int) = r.tracer.enabledDo(step(t, c))
        traced(0)
        val pairs = (1 to tracedCycles).map { c =>
          if (c % 2 == 1) { val p = step(s, c); (p, traced(c)) }
          else { val x = traced(c); (step(s, c), x) }
        }
        r.tracer.drain()
        t.finalChecks(cycles(tracedCycles), plan.get("keys"))
        Layers.etl(r, t, pairs.map(_._1._1), pairs.map(_._2._1))
        pairs.map(_._1)
      }
    s.finalChecks(cycles(timed.size), plan.get("keys"))
    val (cyc, dash) = (timed.map(_._1), timed.map(_._2))
    r.notes += s"${cyc.size} cycles"
    Report.latency(r, "cycle", cyc, setupS)
    r.shown("rows_per_s") = (s.rowsByCycle.drop(1).sum / cyc.sum, "1/s")
    if (dash.nonEmpty) r.shown("dashboard_p50_s") = (Stats.median(dash), "s")
    val (_, whBytes) = Stats.du(s.wh)
    r.shown("space_amp") = (whBytes.toDouble / s.inputCommitted, "ratio")
    r.e2e("throughput_per_s") = (r.shown("rows_per_s")._1, "1/s")
  }
}
