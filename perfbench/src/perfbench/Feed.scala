package perfbench

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types._

/** `curation_feed`: the observed flagship feed
  * `Streams.fullStackCurationFeed` (yield observability on, inline store
  * maintenance on) over a file stream of generated document batches. The
  * producer delivers batch i+1 only after batch i commits.
  */
object Feed {

  /** Fixed work of a traced run, in batches. */
  val tracedBatches = 1
  val maintenanceEvery = 1
  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("domain", StringType)))

  /** Models and read-only gate stores, built in set-up from the training
    * slice (disjoint from every delivered batch).
    */
  final class Models(r: Run, inputs: String, dir: String, dims: Int,
      spamToken: String) {
    private val spark = r.spark
    import spark.implicits._
    val train = spark.read.parquet(s"$inputs/train.parquet")
    val lidDims = 512
    val lid: Seq[(String, Seq[Long])] = graft.operators.LangId.collectModels(
      graft.operators.LangId.train(train, "text", "lang", lidDims), lidDims)
    val ulm: Seq[(String, Long)] = graft.operators.Ulm.train(
      train.filter(col("doc_id") < 100).select("doc_id", "text"), "text",
      maxLen = 4, maxVocab = 256, emRounds = 0)
    // clean (ids below 100) and out-of-vocabulary (100..199) training
    // texts, scored in one pass
    private val (cleanLl, oovLl) = graft.operators.Ulm.scoreDocs(
      train.filter(col("doc_id") < 200).select("doc_id", "text"), "text",
      ulm, 4).collect().toSeq.partition(_.getAs[Long]("doc_id") < 100) match {
      case (c, o) => (c.map(_.getAs[Long]("ll_mean_fp")),
        o.map(_.getAs[Long]("ll_mean_fp")))
    }
    r.check("set-up: ULM separates clean from out-of-vocabulary text",
      oovLl.max < cleanLl.min, s"oov max ${oovLl.max}, clean min ${cleanLl.min}")
    /** Midway between the two training populations. */
    val minLl: Long = (oovLl.max + cleanLl.min) / 2
    private val spamFid = Seq(Tuple1(Seq(spamToken))).toDF("toks")
      .select(explode(graft.operators.QualityModel.featuresExpr("toks", dims)))
      .collect()(0).getLong(0)
    val dense: Seq[Long] = Seq.tabulate(dims)(i =>
      if (i.toLong == spamFid) -1000000L else 1000L)
    val blockStore = s"$dir/blocklist"
    val contamStore = s"$dir/contamination"
    graft.ingest.DedupStore.recordHashes(
      scala.io.Source.fromFile(s"$inputs/blocklist.txt").getLines()
        .filter(_.nonEmpty).toSeq.toDF("domain"), "domain", blockStore)
    graft.ingest.DedupStore.buildBloomSidecar(spark, blockStore)
    graft.ingest.ContaminationStore.recordBenchmark(
      spark.read.parquet(s"$inputs/bench.parquet"), "text", "doc_id",
      contamStore)
    graft.ingest.ContaminationStore.buildBloomSidecar(spark, contamStore)
  }

  final class Stream(r: Run, inputs: String, root: String, m: Models,
      dims: Int) {
    private val spark = r.spark
    val src = s"$root/src"
    val out = s"$root/out"
    val yields = s"$root/yields"
    val stores = s"$root/stores"
    private val planted = scala.collection.mutable.Map[String, Set[Long]]()

    /** Record a committed batch's planted ids. */
    def delivered(batch: JsonNode): Unit =
      batch.get("planted").fields().asScala.foreach { e =>
        planted(e.getKey) = planted.getOrElse(e.getKey, Set.empty[Long]) ++
          e.getValue.elements().asScala.map(_.asLong())
      }
    /** The feed's streaming query id (kept by its checkpoint). */
    var queryId: java.util.UUID = null
    var storeBytesWritten = 0L
    var bytesRewritten = 0L
    var maintenanceBatches = 0
    private var seen = Map.empty[String, Long]

    /** Deliver batch b and run the feed until it commits; seconds. */
    def batch(b: Int, file: String, op: Int): Double = {
      val dst = Paths.get(s"$src/b$b/part-0.parquet")
      Files.createDirectories(dst.getParent)
      Files.copy(Paths.get(s"$inputs/$file"), dst)
      val t0 = System.nanoTime()
      r.tracer.span("streaming.run", op) {
        val q = graft.streaming.Streams.fullStackCurationFeed(
          spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true").parquet(src),
          "text", "doc_id", "domain", m.blockStore, m.lid, m.lidDims,
          Set("en"), m.contamStore, m.dense, 0L, dims, m.ulm, m.minLl,
          s"$stores/exact", s"$stores/near", s"$stores/span", out,
          s"$root/checkpoint", maintenanceEvery = maintenanceEvery,
          yieldDir = Some(yields))
        q.awaitTermination()
        queryId = q.id
      }
      val secs = (System.nanoTime() - t0) / 1e9
      if (r.tracer.active) {
        val now = Stats.listing(stores)
        val fresh = now.filter { case (p, _) => !seen.contains(p) }
        val written = fresh.values.sum
        storeBytesWritten += written
        if (seen.keys.exists(p => !now.contains(p))) {
          maintenanceBatches += 1
          bytesRewritten += written
        }
        seen = now
      }
      secs
    }

    /** Exactly-once output, planted rejects absent, yields as planted. */
    def finalChecks(last: JsonNode): Unit = {
      val ids = spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).toSeq
      r.check("feed output written exactly once", ids.size == ids.toSet.size,
        s"${ids.size - ids.toSet.size} ids written twice")
      val kept = planted.getOrElse("kept", Set.empty)
      r.check("feed output is exactly the kept documents", ids.toSet == kept,
        s"${(ids.toSet -- kept).size} unexpected, ${(kept -- ids.toSet).size} missing")
      val rejects = (planted - "kept").values.flatten.toSet
      r.check("planted copies and gate rejects never land",
        (ids.toSet & rejects).isEmpty, s"${(ids.toSet & rejects).size} landed")
      val got = graft.streaming.Streams.readCurationYields(spark, yields)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      val want = last.get("cumulative").fields().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap
      // every deterministic gate must count exactly its planted documents;
      // the near (MinHash/LSH) and span legs may split the recycled
      // documents between them, so only their sum is exact
      val O = graft.operators.CurationOutcome
      def n(m: Map[String, Long], os: String*) = os.map(m.getOrElse(_, 0L)).sum
      val exact = (O.stages.filterNot(Set(O.NearDup, O.SpanDup)) :+ O.Kept)
        .map(o => o -> Seq(o)) :+ (s"${O.NearDup}+${O.SpanDup}" ->
        Seq(O.NearDup, O.SpanDup))
      for ((label, os) <- exact)
        r.check(s"feed yield $label", n(got, os: _*) == n(want, os: _*),
          s"${n(got, os: _*)}, planted ${n(want, os: _*)}")
    }
  }

  def run(r: Run, inputs: String, traced: Boolean, setupStart: Long): Unit = {
    val plan = new ObjectMapper().readTree(
      Paths.get(s"$inputs/expected.json").toFile)
    val dims = plan.get("dims").asInt()
    val batches = plan.get("batches").elements().asScala.toIndexedSeq
    val m = new Models(r, inputs, s"${r.workDir}/feed_models", dims,
      plan.get("spam_token").asText())
    r.notes += f"set-up: models and gate stores ready ${(System.nanoTime() - setupStart) / 1e9}%.2f s after start"
    def step(s: Stream, b: Int): Double = {
      require(b < batches.size, s"only ${batches.size} batches generated")
      val op = r.tracer.newOp()
      val secs = r.tracer.span("batch", op)(
        s.batch(b, batches(b).get("file").asText(), op))
      s.delivered(batches(b))
      r.check(s"batch $b committed", true)
      secs
    }
    // set-up: batch 0 warms the engine and fills the stores of the
    // measured feed; timed batches start at 1, the first with planted
    // copies, near edits and span mashups of earlier batches
    val s = new Stream(r, inputs, s"${r.workDir}/feed", m, dims)
    r.notes += f"set-up: batch 0 took ${step(s, 0)}%.2f s"
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val secs =
      if (!traced) {
        val deadline = System.nanoTime() + (r.seconds * 1e9).toLong
        val out = Seq.newBuilder[Double]
        var b = 1
        while (!r.warmupOnly && (b == 1 || System.nanoTime() < deadline)) {
          out += step(s, b); b += 1
        }
        out.result()
      } else {
        // fixed work: batches 1..K untraced here, and batches 0..K traced
        // through a second feed with its own stores; from batch 1 the two
        // alternate which runs a batch first
        r.tracer.install(r.spark)
        val t = new Stream(r, inputs, s"${r.workDir}/feed_traced", m, dims)
        def traced(b: Int) = r.tracer.enabledDo(step(t, b))
        traced(0)
        val pairs = (1 to tracedBatches).map { b =>
          if (b % 2 == 1) { val p = step(s, b); (p, traced(b)) }
          else { val x = traced(b); (step(s, b), x) }
        }
        r.tracer.drain()
        t.finalChecks(batches(tracedBatches))
        Layers.feed(r, t, pairs.map(_._1), pairs.map(_._2))
        pairs.map(_._1)
      }
    s.finalChecks(batches(secs.size))
    r.notes += s"${secs.size} batches"
    Report.latency(r, "batch", secs, setupS)
    r.shown("docs_per_s") = (batches.slice(1, secs.size + 1)
      .map(_.get("docs").asLong()).sum / secs.sum, "1/s")
    r.e2e("throughput_per_s") = (r.shown("docs_per_s")._1, "1/s")
  }
}
