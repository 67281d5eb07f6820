package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. `op` groups the spans of one operation
  * (one query execution, one poll cycle, one feed batch).
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val op: Int, val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  val counters: mutable.Map[String, Double] =
    mutable.Map.empty.withDefaultValue(0.0)
  /** (launch, finish) epoch-ms intervals of the tasks run for this span. */
  val tasks: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans recorded by the benchmark around its own calls into the engine.
  *
  * Outside [[enabledDo]], `span` is a plain call. Inside, each span sets the Spark
  * local property `perfbench.span`, which jobs started by the calling
  * thread carry (and which a streaming query's thread inherits when it is
  * started inside the span), and a SparkListener plus a
  * StreamingQueryListener attribute their counters to that span. Spans
  * stay in memory; the report reads them after the run.
  */
final class Tracer(sc: SparkContext) {
  /** Spans are recorded only inside [[enabledDo]]. */
  private var enabled = false
  def active: Boolean = enabled
  def enabledDo[T](f: => T): T = {
    enabled = true
    try f finally enabled = false
  }
  /** Every span, in start order; a span's id is its position + 1. */
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private val Prop = "perfbench.span"

  def newOp(): Int = { nextOp += 1; nextOp }

  /** Operation id → what it ran (a query name), for the per-op table. */
  val labels: mutable.Map[Int, String] = mutable.Map.empty
  def label(op: Int): String = labels.getOrElse(op, "")

  def span[T](name: String, op: Int)(f: => T): T =
    if (!enabled) f
    else {
      val s = new Span(spans.size + 1, name, stack.headOption.fold(0)(_.id),
        op, System.nanoTime(), System.currentTimeMillis())
      spans.synchronized(spans += s)
      stack = s :: stack
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add a counter to the innermost open span (benchmark-side counts). */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.counters(key) += v)

  private def spanOf(id: String): Option[Span] =
    Option(id).flatMap(_.toIntOption).flatMap(i =>
      spans.synchronized(spans.lift(i - 1)))

  private val stageSpan = mutable.Map[Int, Span]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(Option(e.properties).map(_.getProperty(Prop)).orNull)
        .foreach { s =>
          s.counters("jobs") += 1
          e.stageInfos.foreach(si =>
            stageSpan.synchronized(stageSpan.getOrElseUpdate(si.stageId, s)))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.synchronized(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.counters("stages") += 1
        if (e.stageInfo.numTasks == 1) s.counters("single_task_stages") += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.synchronized(stageSpan.get(e.stageId)).foreach { s =>
        val c = s.counters
        c("tasks") += 1
        s.tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          c("task_run_s") += m.executorRunTime / 1e3
          c("task_cpu_s") += m.executorCpuTime / 1e9
          c("gc_s") += m.jvmGCTime / 1e3
          c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
          c("scan_bytes") += m.inputMetrics.bytesRead
          c("scan_rows") += m.inputMetrics.recordsRead
          c("bytes_written") += m.outputMetrics.bytesWritten
        }
      }
  }

  /** Progress of every micro-batch, in arrival order. */
  val progress: mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent] =
    mutable.ArrayBuffer.empty

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e)
  }

  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drain(sc)

  /** Self time: the span's wall time minus the time its children cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- kids) {
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    s.wallS - covered / 1e9
  }

  private def tasksUnder(s: Span): Seq[(Long, Long)] =
    s.tasks.toSeq ++ spans.filter(_.parent == s.id).flatMap(tasksUnder)

  /** Wall time of the span during which none of its (or its children's)
    * tasks ran.
    */
  def outsideTaskS(s: Span): Double = {
    val iv = tasksUnder(s).map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.startMs + (s.wallS * 1e3).toLong))
    }.filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curS = 0L
    var curE = -1L
    for ((a, b) <- iv) {
      if (a > curE) { if (curE >= 0) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE >= 0) busy += curE - curS
    math.max(0.0, s.wallS - busy / 1e3)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def sum(name: String, key: String): Double = named(name).map(_.counters(key)).sum
}
