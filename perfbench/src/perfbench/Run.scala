package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** State of one benchmark run: its output checks and the metrics it
  * reports. A `warmupOnly` run stops after the workload's set-up (the
  * build's class-data training run).
  */
final class Run(val spark: SparkSession, val tracer: Tracer,
    val seconds: Double, val workDir: String, val warmupOnly: Boolean) {
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** The contract metrics (BENCHMARK.json end_to_end). */
  val e2e: mutable.LinkedHashMap[String, (Double, String)] =
    mutable.LinkedHashMap.empty
  /** The workload's own end-to-end metrics, printed by name. */
  val shown: mutable.LinkedHashMap[String, (Double, String)] =
    mutable.LinkedHashMap.empty
  /** Per-layer metrics (BENCHMARK.json per_layer), traced runs only. */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** One attempted operation or output check; a failure is kept by name. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) failures += (if (detail.isEmpty) name else s"$name: $detail")
    ok
  }

  def failed: Long = failures.size.toLong

  /** Run `f`, counting an exception as a failed operation. */
  def attempt[T](name: String)(f: => T): Option[T] =
    try Some(f)
    catch {
      case e: Throwable =>
        check(name, ok = false, String.valueOf(e.getMessage).take(300))
        None
    }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.size == 1) s.head
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    * it; p50 when the sample is smaller than 20.
    */
  def tailLevel(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(p => n * (1 - p) >= 10).getOrElse(0.5)

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** (files, bytes) of every regular file below `dir`. */
  def du(dir: String): (Long, Long) = {
    val l = listing(dir)
    (l.size.toLong, l.values.sum)
  }

  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Rows in the parquet data files below `dir`, from their footers;
    * files under `_`- or `.`-prefixed directories are not data. `seen`
    * caches the count of every file read (data files are never rewritten
    * in place).
    */
  def parquetRows(dir: String, seen: mutable.Map[String, Long]): Long =
    listing(dir).keys.filter { p =>
      val rel = p.stripPrefix(dir).split('/').filter(_.nonEmpty)
      p.endsWith(".parquet") && rel.forall(c => !c.startsWith("_") && !c.startsWith("."))
    }.toSeq.map(p => seen.getOrElseUpdate(p, {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), hadoopConf))
      try reader.getRecordCount finally reader.close()
    })).sum

  /** path → size of every regular file below `dir`. */
  def listing(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        val b = Map.newBuilder[String, Long]
        st.filter(java.nio.file.Files.isRegularFile(_)).forEach(p =>
          b += p.toString -> java.nio.file.Files.size(p))
        b.result()
      } finally st.close()
    }
  }
}
