package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * builds this program and starts it with
  *
  *   --workload star_olap|curation_sql|warehouse_etl|curation_feed|train
  *   --seconds <measure time>  --trace 0|1  --inputs <dir>  --work <dir>
  *   --out <result.json>  [--queries subset|all]  [--tables <dir>]
  *
  * It prints every metric by name with its unit and every failed check,
  * and writes the result object for `run.py` to print last.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val traced = opt.getOrElse("trace", "0") == "1"
    val setupStart = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors().toString
    // Bench's session settings; the two directories only keep the run's
    // files inside its work directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - setupStart) / 1e9
    def run() = new Run(spark, new Tracer(spark.sparkContext),
      opt("seconds").toDouble, opt("work"), warmupOnly = workload == "train")
    val r = run()
    r.notes += f"set-up: Spark session ready $sessionS%.2f s after start"
    workload match {
      case "train" =>
        // every workload's set-up, for the build's class-data archive
        Queries.run(r, "curation_sql", s"${opt("inputs")}/tables", "subset",
          traced = false, setupStart)
        Etl.run(run(), s"${opt("inputs")}/warehouse", traced = false, setupStart)
        Feed.run(run(), s"${opt("inputs")}/feed", traced = false, setupStart)
      case "star_olap" | "curation_sql" =>
        Queries.run(r, workload,
          opt.getOrElse("tables", s"${opt("inputs")}/tables"),
          opt.getOrElse("queries", "subset"), traced, setupStart)
      case "warehouse_etl" =>
        Etl.run(r, s"${opt("inputs")}/warehouse", traced, setupStart)
      case "curation_feed" =>
        Feed.run(r, s"${opt("inputs")}/feed", traced, setupStart)
      case other => sys.error(s"unknown workload $other")
    }
    Report.finish(r, workload, traced, opt("out"))
    spark.stop()
  }
}

object Report {
  /** Median and tail of an operation's latency, plus set-up time. */
  def latency(r: Run, kind: String, secs: Seq[Double], setupS: Double): Unit = {
    r.e2e("setup_s") = (setupS, "s")
    r.shown("setup_s") = (setupS, "s")
    if (secs.nonEmpty) {
      val lvl = Stats.tailLevel(secs.size)
      val p50 = Stats.median(secs)
      val tail = Stats.quantile(secs, lvl)
      r.shown(s"${kind}_p50_s") = (p50, "s")
      r.shown(s"${kind}_tail_s") = (tail, "s")
      r.e2e("p50_s") = (p50, "s")
      r.notes += f"tail = p${lvl * 100}%.0f of ${secs.size} samples"
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def finish(r: Run, workload: String, traced: Boolean, out: String): Unit = {
    val share = if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted
    r.shown("failed_share") = (share, "share")
    r.e2e("ok_share") = (1 - share, "share")
    // printed, not a contract metric: G1's heap growth makes VmHWM step
    // by a fifth between identical warehouse runs
    r.shown("peak_rss_mb") = (Stats.peakRssMb(), "MB")
    r.notes.foreach(n => println(s"[bench] $workload: $n"))
    r.shown.foreach { case (k, (v, u)) =>
      println(f"[bench] $workload $k%-18s ${num(v)} $u") }
    println(s"[bench] $workload checks: ${r.attempted} attempted, " +
      s"${r.failed} failed")
    r.failures.foreach(f => println(s"[bench] $workload FAILED $f"))
    val metrics =
      if (traced) Layers.names.map(n =>
        s""""$n":{"value":${num(r.layer.getOrElse(n, 0.0))},"unit":"${unit(n)}"}""")
      else r.e2e.toSeq.map { case (k, (v, u)) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val json = s"""{"correct":${r.failed == 0},"attempted":${r.attempted},""" +
      s""""failed":${r.failed},"metrics":${metrics.mkString("{", ",", "}")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def unit(n: String): String =
    if (n.endsWith("_s")) "s"
    else if (n.endsWith("_bytes") || n.endsWith(".bytes") ||
      n.endsWith("bytes_written") || n.endsWith("bytes_rewritten")) "bytes"
    else if (n.endsWith("_share") || n.endsWith("_amp")) "ratio"
    else "count"
}
