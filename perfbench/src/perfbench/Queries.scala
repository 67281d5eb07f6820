package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** `star_olap` and `curation_sql`: registry queries, one at a time, each
  * built, planned and executed under Bench's all-column
  * `xxhash64`/`bit_xor` checksum, in a closed loop with one client.
  */
object Queries {

  /** The default per-run query sets. A contract run has about half a minute
    * in all, less than one cold pass over a full registry takes, so each
    * workload runs a fixed subset chosen for the layers it exercises;
    * `--queries all` runs the whole registry instead.
    *
    * star_olap: scans, star joins, rollup, window, sessionize, funnel and
    * the one CoreAnalytics builder barrier (q144).
    */
  val star: Seq[String] = Seq("q01_", "q02_", "q03_", "q08_", "q10_",
    "q22_", "q134_", "q144_")

  /** curation_sql: builder barriers (the q103 pair sides, the q111 chain,
    * q60's iterative loop) and native kernels (MinHash, window hashes,
    * tok_fids).
    */
  val curation: Seq[String] = Seq("q60_", "q101_", "q103_", "q111_")

  def names(workload: String, scope: String): Seq[String] = {
    val registry =
      if (workload == "star_olap") graft.queries.CoreAnalytics.queries.keys
      else graft.queries.LlmPipeline.queries.keys
    val all = registry.toSeq.sorted
    if (scope == "all") all
    else (if (workload == "star_olap") star else curation)
      .map(p => all.find(_.startsWith(p)).getOrElse(
        sys.error(s"no registry query with prefix $p")))
  }

  private def checksum(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)"))

  /** One execution: (seconds, checksum as text). */
  private def exec(r: Run, dir: String, name: String): (Double, String) = {
    val t = r.tracer
    val op = t.newOp()
    t.labels(op) = name
    val t0 = System.nanoTime()
    val v = t.span("query", op) {
      val df = t.span("queries.builder", op) {
        graft.SparkEntry.queries(name)(r.spark, dir)
      }
      val ck = checksum(df)
      t.span("catalyst.plan", op)(ck.queryExecution.executedPlan)
      t.span("execute", op)(ck.collect())
    }
    ((System.nanoTime() - t0) / 1e9, String.valueOf(v(0).get(0)))
  }

  /** Bench's between-queries cleanup: blocking unpersist and a driver GC,
    * outside any timed region.
    */
  private def cleanup(r: Run): Unit = {
    r.spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** One pass over `names`; returns (name, seconds) of the executions that
    * completed with the expected checksum.
    */
  private def pass(r: Run, dir: String, names: Seq[String],
      expected: Map[String, String], label: String): Seq[(String, Double)] =
    names.flatMap { n =>
      cleanup(r)
      r.attempt(s"$label $n")(exec(r, dir, n)).flatMap { case (s, ck) =>
        if (r.check(s"checksum $n ($label)", expected.get(n).contains(ck),
          s"got $ck, warm-up gave ${expected.getOrElse(n, "nothing")}"))
          Some(n -> s)
        else None
      }
    }

  def run(r: Run, workload: String, dir: String, scope: String,
      traced: Boolean, setupStart: Long): Unit = {
    val names = this.names(workload, scope)
    // set-up: one warm-up execution per query records its checksum
    val expected = names.flatMap { n =>
      cleanup(r)
      r.attempt(s"warm-up $n")(exec(r, dir, n)).map(n -> _._2)
    }.toMap
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val samples =
      if (!traced) {
        val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
        val out = Seq.newBuilder[(String, Double)]
        var passes = 0
        while (!r.warmupOnly && (passes < 2 || System.nanoTime() < deadline)) {
          out ++= pass(r, dir, names, expected, s"pass ${passes + 1}")
          passes += 1
        }
        r.notes += s"$passes timed passes over ${names.size} queries"
        out.result()
      } else {
        // fixed work: every query once untraced and once traced, the order
        // alternating between queries so that neither side is always the
        // warmer one
        r.tracer.install(r.spark)
        val pairs = names.zipWithIndex.map { case (n, i) =>
          def plain = pass(r, dir, Seq(n), expected, "untraced")
          def traced = r.tracer.enabledDo(pass(r, dir, Seq(n), expected, "traced"))
          if (i % 2 == 0) { val p = plain; (p, traced) }
          else { val t = traced; (plain, t) }
        }
        r.tracer.drain()
        Layers.queries(r, pairs.flatMap(_._1).map(_._2),
          pairs.flatMap(_._2).map(_._2))
        pairs.flatMap(_._1)
      }
    val secs = samples.map(_._2)
    samples.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (n, xs) =>
      r.notes += f"$n%-28s median ${Stats.median(xs.map(_._2))}%.4f s of ${xs.size}"
    }
    Report.latency(r, "query", secs, setupS)
    if (secs.nonEmpty)
      r.shown("queries_per_s") = (secs.size / secs.sum, "1/s")
    r.e2e("throughput_per_s") = (r.shown.get("queries_per_s").fold(0.0)(_._1), "1/s")
  }
}
