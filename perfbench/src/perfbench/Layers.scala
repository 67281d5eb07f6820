package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Per-layer metrics of a traced run, read from the tracer's spans.
  * Every metric is reported on every workload; a layer the workload does
  * not reach reads 0.
  */
object Layers {
  private object Plans extends AdaptiveSparkPlanHelper

  val outcomes: Seq[String] = graft.operators.CurationOutcome.stages

  val names: Seq[String] = Seq(
    "queries.builder_s", "queries.builder_jobs", "queries.builder_share",
    "catalyst.plan_s",
    "execute.wall_s", "execute.outside_task_s", "execute.jobs",
    "execute.stages", "execute.tasks", "execute.single_task_stage_share",
    "execute.task_run_s", "execute.task_cpu_s", "execute.gc_s",
    "execute.shuffle_write_bytes", "execute.spill_bytes",
    "tables.scan_bytes", "tables.scan_rows",
    "ingest.poll_s", "ingest.poll_jobs", "ingest.rows_committed",
    "ingest.files_error", "ingest.bytes_written", "ingest.write_amp",
    "ingest.files_written", "ingest.warehouse_files",
    "ingest.warehouse_bytes",
    "sqlsurface.register_s", "sqlsurface.dashboard_plan_s",
    "sqlsurface.dashboard_exec_s", "sqlsurface.dashboard_files_scanned",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
    "streaming.wal_commit_s", "streaming.jobs_per_batch",
    "streaming.tasks_per_batch", "streaming.input_rows",
    "streaming.kept_share") ++ outcomes.map(o => s"streaming.rejects.$o") ++
    Seq("stores.bytes", "stores.files", "stores.maintenance_batches",
      "stores.bytes_rewritten", "trace.overhead_share")

  /** Files read by the scans of an executed frame (the scan's numFiles). */
  def filesScanned(df: DataFrame): Double =
    Plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").fold(0L)(_.value)
    }.sum.toDouble

  private def wall(t: Tracer, n: String) = t.named(n).map(_.wallS).sum
  private def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

  private def overhead(r: Run, plain: Seq[Double], traced: Seq[Double]): Unit =
    if (plain.nonEmpty && traced.nonEmpty) {
      val (p, t) = (Stats.median(plain), Stats.median(traced))
      r.layer("trace.overhead_share") = t / p - 1
      println(f"[trace] tracing overhead: median operation $t%.4f s traced " +
        f"vs $p%.4f s untraced, same operations run alternately " +
        f"(${(t / p - 1) * 100}%+.1f%%)")
    }

  /** Self time, wait and counters per span name. */
  private def table(r: Run, names: Seq[String]): Unit = {
    val t = r.tracer
    println(f"[trace] ${"layer"}%-22s ${"spans"}%6s ${"wall_s"}%9s " +
      f"${"self_s"}%9s ${"wait_s"}%9s ${"jobs"}%6s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"task_cpu_s"}%10s ${"shuffle_B"}%11s ${"scan_B"}%11s")
    names.foreach { n =>
      val ss = t.named(n)
      def c(k: String) = ss.map(_.counters(k)).sum
      println(f"[trace] $n%-22s ${ss.size}%6d ${ss.map(_.wallS).sum}%9.4f " +
        f"${ss.map(t.selfS).sum}%9.4f ${ss.map(t.outsideTaskS).sum}%9.4f " +
        f"${c("jobs")}%6.0f ${c("stages")}%6.0f ${c("tasks")}%6.0f " +
        f"${c("task_cpu_s")}%10.4f ${c("shuffle_write_bytes")}%11.0f " +
        f"${c("scan_bytes")}%11.0f")
    }
    println("[trace] wait_s = span wall time with none of its own or its " +
      "children's tasks running")
  }

  def queries(r: Run, plain: Seq[Double], traced: Seq[Double]): Unit = {
    val t = r.tracer
    val ex = t.named("execute")
    def exc(k: String) = ex.map(_.counters(k)).sum
    val L = r.layer
    L("queries.builder_s") = wall(t, "queries.builder")
    L("queries.builder_jobs") = t.sum("queries.builder", "jobs")
    L("queries.builder_share") = ratio(wall(t, "queries.builder"), wall(t, "query"))
    L("catalyst.plan_s") = wall(t, "catalyst.plan")
    L("execute.wall_s") = wall(t, "execute")
    L("execute.outside_task_s") = ex.map(t.outsideTaskS).sum
    Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
      "shuffle_write_bytes", "spill_bytes").foreach(k => L(s"execute.$k") = exc(k))
    L("execute.single_task_stage_share") =
      ratio(exc("single_task_stages"), exc("stages"))
    val all = Seq("queries.builder", "catalyst.plan", "execute")
    L("tables.scan_bytes") = all.map(t.sum(_, "scan_bytes")).sum
    L("tables.scan_rows") = all.map(t.sum(_, "scan_rows")).sum
    overhead(r, plain, traced)
    table(r, "query" +: all)
    println(f"[trace] builder share = builder ${L("queries.builder_s")}%.4f s " +
      f"/ query wall ${wall(t, "query")}%.4f s; single-task stage share = " +
      f"${exc("single_task_stages")}%.0f / ${exc("stages")}%.0f stages")
    println(f"[trace] ${"query"}%-28s ${"builder_s"}%9s ${"b_jobs"}%6s " +
      f"${"plan_s"}%8s ${"exec_s"}%8s ${"wait_s"}%8s ${"jobs"}%5s " +
      f"${"tasks"}%5s ${"task_cpu_s"}%10s ${"shuffle_B"}%10s")
    t.named("query").foreach { q =>
      def kid(n: String) = t.spans.filter(s => s.parent == q.id && s.name == n)
      val b = kid("queries.builder"); val p = kid("catalyst.plan")
      val e = kid("execute")
      def ec(k: String) = e.map(_.counters(k)).sum
      println(f"[trace] ${t.label(q.op)}%-28s ${b.map(_.wallS).sum}%9.4f " +
        f"${b.map(_.counters("jobs")).sum}%6.0f ${p.map(_.wallS).sum}%8.4f " +
        f"${e.map(_.wallS).sum}%8.4f ${e.map(t.outsideTaskS).sum}%8.4f " +
        f"${ec("jobs")}%5.0f ${ec("tasks")}%5.0f ${ec("task_cpu_s")}%10.4f " +
        f"${ec("shuffle_write_bytes")}%10.0f")
    }
  }

  def etl(r: Run, s: Etl.Stream, plain: Seq[Double], traced: Seq[Double]): Unit = {
    val t = r.tracer
    val L = r.layer
    L("ingest.poll_s") = wall(t, "ingest.poll")
    L("ingest.poll_jobs") = t.sum("ingest.poll", "jobs")
    L("ingest.rows_committed") = s.rowsByCycle.sum.toDouble
    L("ingest.files_error") = s.errors.toDouble
    L("ingest.bytes_written") = s.bytesWritten.toDouble
    L("ingest.write_amp") = ratio(s.bytesWritten, s.inputProcessed)
    L("ingest.files_written") = s.filesWritten.toDouble
    val (files, bytes) = Stats.du(s.wh)
    L("ingest.warehouse_files") = files.toDouble
    L("ingest.warehouse_bytes") = bytes.toDouble
    L("sqlsurface.register_s") = wall(t, "sqlsurface.register")
    L("sqlsurface.dashboard_plan_s") = wall(t, "sqlsurface.plan")
    L("sqlsurface.dashboard_exec_s") = wall(t, "sqlsurface.exec")
    L("sqlsurface.dashboard_files_scanned") = t.sum("dashboard", "files_scanned")
    overhead(r, plain, traced)
    table(r, Seq("cycle", "ingest.poll", "dashboard", "sqlsurface.register",
      "sqlsurface.plan", "sqlsurface.exec"))
    println(f"[trace] write amplification = ${s.bytesWritten} bytes written " +
      f"/ ${s.inputProcessed} input bytes processed; rows committed " +
      f"${s.rowsByCycle.sum}, files in error ${s.errors}")
  }

  def feed(r: Run, s: Feed.Stream, plain: Seq[Double], traced: Seq[Double]): Unit = {
    val t = r.tracer
    val L = r.layer
    // only the traced feed's progress; the feed restarts per batch, so a
    // restart's empty trigger may report progress too, and only triggers
    // that read rows are batches
    val ps = t.progress.map(_.progress)
      .filter(p => p.id == s.queryId && p.numInputRows > 0).toSeq
    val n = ps.size.max(1)
    def dur(k: String) = ps.map(p =>
      Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)).sum / 1e3 / n
    L("streaming.trigger_s") = dur("triggerExecution")
    L("streaming.add_batch_s") = dur("addBatch")
    L("streaming.planning_s") = dur("queryPlanning")
    L("streaming.wal_commit_s") = dur("walCommit")
    L("streaming.jobs_per_batch") = t.sum("streaming.run", "jobs") / n
    L("streaming.tasks_per_batch") = t.sum("streaming.run", "tasks") / n
    L("streaming.input_rows") = ps.map(_.numInputRows.toDouble).sum
    val y = graft.streaming.Streams.readCurationYields(r.spark, s.yields)
      .collect().map(x => x.getString(0) -> x.getLong(1).toDouble).toMap
    L("streaming.kept_share") = ratio(y.getOrElse("kept", 0.0),
      L("streaming.input_rows"))
    outcomes.foreach(o => L(s"streaming.rejects.$o") = y.getOrElse(o, 0.0))
    val (files, bytes) = Stats.du(s.stores)
    L("stores.bytes") = bytes.toDouble
    L("stores.files") = files.toDouble
    L("stores.maintenance_batches") = s.maintenanceBatches.toDouble
    L("stores.bytes_rewritten") = s.bytesRewritten.toDouble
    overhead(r, plain, traced)
    table(r, Seq("batch", "streaming.run"))
    println(f"[trace] ${ps.size} micro-batches: trigger ${L("streaming.trigger_s")}%.4f s, " +
      f"addBatch ${L("streaming.add_batch_s")}%.4f s, planning " +
      f"${L("streaming.planning_s")}%.4f s, walCommit ${L("streaming.wal_commit_s")}%.4f s " +
      "per batch")
    println(f"[trace] kept share = ${y.getOrElse("kept", 0.0)}%.0f kept / " +
      f"${L("streaming.input_rows")}%.0f input rows; store bytes written " +
      f"${s.storeBytesWritten}, of which ${s.bytesRewritten} in " +
      f"${s.maintenanceBatches} maintenance batches")
  }
}
