package graft

import org.apache.spark.sql.functions._
import graft.queries.LlmPipeline

/** Gates for the LLM-pipeline operators that the DuckDB oracle cannot
  * check (sketches) or where determinism itself is the property.
  */
class LlmPipelineSpec extends SparkSuite {

  test("every SparkEntry query (all modules) executes at sf0.001; " +
    "every oracle key names a declared query") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q69 compression ratio: repetitive < prose < incompressible") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val docs = Seq(
      (1L, "spam " * 400), // pathological repetition
      (2L, "The quick brown fox jumps over the lazy dog. " * 40 +
        "Some varied prose with different words appearing here."),
      (3L, Array.fill(2000)((rnd.nextInt(94) + 33).toChar).mkString))
    val dir = java.nio.file.Files.createTempDirectory("q69").toString
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmPipeline.queries("q69_compression_ratio")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) < 0.05, s"repetition should crush: ${out(1L)}")
    assert(out(1L) < out(2L) && out(2L) < out(3L),
      s"ordering violated: $out")
    assert(out(3L) > 0.7, s"random noise near-incompressible: ${out(3L)}")
    // deterministic across runs (rows-only gate leans on this)
    val again = LlmPipeline.queries("q69_compression_ratio")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(again === out)
  }

  test("q85 IVF KNN join: recall@3 vs the exact q84 answer") {
    // q85 is deterministic and oracle-checked for its own semantics;
    // this gates its QUALITY as an ANN index: probing nprobe=2 of 8
    // inverted lists must recover most of the true top-3 neighbor sets
    // (measured 0.93 at sf0.001/sf0.01 — floor set with headroom for
    // future testdata regeneration).
    def sets(name: String): Map[Long, Set[Long]] =
      LlmPipeline.queries(name)(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = sets("q84_knn_join")
    val approx = sets("q85_ivf_knn_join")
    assert(exact.nonEmpty && exact.keySet === approx.keySet)
    val recalls = exact.map { case (q, t) =>
      approx(q).intersect(t).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@3 $mean below floor (per-query " +
      s"${recalls.toSeq.sorted.mkString(", ")})")
  }

  test("q87 k-means: second Lloyd iteration does not increase " +
    "distortion; all seed clusters survive; rerun-deterministic") {
    val out = LlmPipeline.queries("q87_kmeans")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._2).distinct.sorted.toSeq === (1L to 8L),
      "a seed cluster emptied at sf0.001")
    // Lloyd's guarantee: re-assigning against the updated centroids
    // cannot raise total distortion vs the seed assignment. Recompute
    // the seed-assignment distortion independently here (same quantized
    // metric) so the gate does not trust the query's own internals.
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select(col("vec_id"), col("v"))
    val seeds = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val seedDistortion = e.crossJoin(broadcast(seeds))
      .withColumn("dist_fp", expr(
        "aggregate(zip_with(v, cv, (x, y) -> " +
          "cast(floor(((x - y) * (x - y)) * 1000000000000d) as bigint))," +
          " 0L, (acc, d) -> acc + d)"))
      .groupBy("vec_id").agg(min(col("dist_fp")).as("d"))
      .agg(sum(col("d"))).collect()(0).getLong(0)
    val finalDistortion = out.map(_._3).sum
    assert(finalDistortion <= seedDistortion,
      s"Lloyd regressed: $finalDistortion > $seedDistortion")
    val again = LlmPipeline.queries("q87_kmeans")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === out.toSeq)
  }

  test("q89 random projection: unbiased distance scaling (E[||Sv||^2] " +
    "= k * ||v||^2) over deterministic pairs") {
    // For a +-1 sign matrix, the expected squared norm of the projection
    // is k x the original (k = 16 out-dims). Measured 16.007 at sf0.01;
    // gate the mean projected/original squared-distance ratio over
    // consecutive-vector pairs at k +- 20%.
    val proj = LlmPipeline.queries("q89_random_projection")(spark, sf)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getLong(1)).map(_.getDouble(2)) }
    val orig = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def sq(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = orig.keys.toSeq.sorted
    val ratios = ids.grouped(2).collect { case Seq(a, b) =>
      sq(proj(a), proj(b)) / sq(orig(a), orig(b)) }.toSeq
    val mean = ratios.sum / ratios.size
    assert(mean >= 12.8 && mean <= 19.2,
      s"projection biased: mean ratio $mean, expected ~16")
  }

  test("q47 approx distinct: within 5% relative error of exact, per lang") {
    val approx = LlmPipeline.queries("q47_approx_distinct")(spark, sf)
    val exact = Tables.load(spark, sf, "documents")
      .select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '\\\\w+', 0)"))
          .as("tok"))
      .groupBy("lang").agg(countDistinct(col("tok")).as("exact_terms"))
    val rows = approx.join(exact, "lang").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[Long]("approx_terms").toDouble
      val e = r.getAs[Long]("exact_terms").toDouble
      assert(math.abs(a - e) / e <= 0.05,
        s"lang=${r.getAs[String]("lang")} approx=$a exact=$e")
    }
  }

  test("q53 contamination: no benchmark doc reports itself; every flagged " +
    "doc genuinely shares a shingle with some benchmark doc") {
    val flagged = LlmPipeline.queries("q53_contamination")(spark, sf)
      .collect()
    assert(flagged.nonEmpty, "synthetic corpus should overlap its benchmark")
    assert(flagged.forall(_.getAs[Long]("doc_id") % 97 != 0),
      "benchmark docs must be excluded from the corpus side")
    assert(flagged.forall(r => r.getAs[Long]("n_shared_grams") >= 1 &&
      r.getAs[Long]("n_bench_docs") >= 1))
    // Ground-truth one flagged doc by brute force over shingle sets.
    graft.functions.Functions.register(spark)
    val some = flagged.head.getAs[Long]("doc_id")
    val sets = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), expr("shingle_hashes(text)").as("shd"))
      .filter(col("shd").isNotNull).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet).toMap
    val benchIds = sets.keySet.filter(_ % 97 == 0)
    assert(benchIds.exists(b => (sets(some) & sets(b)).nonEmpty))
  }

  test("q54 gopher quality: verdicts split the corpus and agree with " +
    "recomputed rules") {
    val rows = LlmPipeline.queries("q54_gopher_quality")(spark, sf).collect()
    val n = rows.length
    val passed = rows.count(_.getAs[Boolean]("passes"))
    assert(passed > 0 && passed < n,
      s"rule thresholds degenerate: $passed/$n pass")
    rows.foreach { r =>
      val expect = r.getAs[Long]("n_tokens") >= 40 &&
        r.getAs[Long]("n_tokens") <= 100000 &&
        r.getAs[Double]("mean_tok_len") >= 3.5 &&
        r.getAs[Double]("mean_tok_len") <= 5.5 &&
        r.getAs[Double]("distinct_ratio") >= 0.3 &&
        r.getAs[Double]("alpha_ratio") >= 0.9
      assert(r.getAs[Boolean]("passes") === expect)
    }
  }

  test("q56 chunk dedup: fractions well-formed; dup chunks imply a " +
    "matching chunk hash in another document") {
    val rows = LlmPipeline.queries("q56_chunk_dedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nc = r.getAs[Long]("n_chunks")
      val nd = r.getAs[Long]("n_dup_chunks")
      assert(nc >= 1 && nd >= 0 && nd <= nc)
      assert(r.getAs[Double]("dup_frac") === nd.toDouble / nc.toDouble)
    }
  }

  test("q126 CDC chunking: an insertion-shifted duplicate shares " +
    "chunks under content-defined boundaries but none under fixed " +
    "10-token boundaries, and boundaries realign past the edit") {
    import spark.implicits._
    // 61 varied tokens; doc 2 = doc 1 with ONE token prepended, so
    // every fixed 10-token window shifts by one
    val baseToks = (1 to 61).map(i => s"tok${i * 7 % 97}word$i")
    val docs = Seq(
      (1L, baseToks.mkString(" ")),
      (2L, ("inserted" +: baseToks).mkString(" ")),
      (3L, (100 to 160).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val cdc = LlmPipeline.cdcChunks(docs)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = cdc.groupBy(_._1).map { case (d, xs) =>
      d -> xs.map(_._2).toSet }
    val shared12 = byDoc(1L).intersect(byDoc(2L))
    assert(shared12.nonEmpty,
      "CDC must realign boundaries past the insertion and share chunks")
    assert(byDoc(1L).intersect(byDoc(3L)).isEmpty,
      "unrelated documents must not share CDC chunks")
    // the fixed-boundary flank structurally misses the same duplicate
    val fixed = docs
      .withColumn("toks", expr(LlmPipeline.toksE))
      .filter(size(col("toks")) >= 10)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, cast(floor(size(toks) / 10) as int) - 1), " +
          "i -> md5(concat_ws(' ', slice(toks, i * 10 + 1, 10))))"))
        .as("ch"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val fByDoc = fixed.groupBy(_._1).map { case (d, xs) =>
      d -> xs.map(_._2).toSet }
    assert(fByDoc(1L).intersect(fByDoc(2L)).isEmpty,
      "fixed 10-token chunks should all shift under a 1-token insertion")
  }

  test("q133 audio near-dup: the banded join equals all-pairs Hamming " +
    "semantics and every planted re-mix surfaces at its designed " +
    "distance") {
    // independent reference: the fixture's analytic energy formula,
    // frame pooling, and bit rule in pure Scala — so the assertion
    // covers the WAV encode/decode round trip AND the banded join
    val ids = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 8 >= 4).sorted
    def hash(id: Long): Long = {
      val g = id / 4
      val h = (1 + g % 3).toInt
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(g.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      val pat0 = java.lang.Long.parseLong(hex, 16)
      val pat = if (id % 4 >= 2) pat0 ^ ((1L << h) - 1) else pat0
      val n = (256 + (g % 3) * 64).toInt
      val es = new Array[Long](64)
      val cs = new Array[Long](64)
      for (i <- 0 until n) {
        val j = (i.toLong * 64 / n).toInt
        val r = ((g * 31 + i * 17) % 64).toInt
        val a = if (((pat >> j) & 1L) == 1L) 1600 + r else r - 32
        es(j) += a.toLong * a
        cs(j) += 1
      }
      val te = es.sum
      val tc = cs.sum
      (0 until 64).foldLeft(0L) { (acc, j) =>
        if (BigInt(es(j)) * tc > BigInt(te) * cs(j)) acc | (1L << j)
        else acc
      }
    }
    val hs = ids.map(id => id -> hash(id)).toMap
    val expected = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(hs(a) ^ hs(b)) if d <= 3
    } yield (a, b, d.toLong)).toSet
    val got = LlmPipeline.queries("q133_audio_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === expected, "band-join report != all-pairs semantics")
    // planted classes per complete group: the base pair is hash-exact
    // (Hamming 0) and each cross pair sits at EXACTLY h = 1 + g%3 —
    // the re-mixed recording only the near-dup join catches
    val groups = ids.groupBy(_ / 4).filter(_._2.length == 4)
    assert(groups.nonEmpty, "fixture must contain complete groups")
    groups.foreach { case (g, _) =>
      val h = 1L + g % 3
      assert(got.contains((4 * g, 4 * g + 1, 0L)),
        s"group $g base pair must be hash-exact")
      assert(got.contains((4 * g, 4 * g + 2, h)),
        s"group $g cross pair must sit at Hamming $h")
      assert(got.contains((4 * g + 2, 4 * g + 3, 0L)),
        s"group $g variant pair must be hash-exact")
    }
  }

  test("q58 stratified sample: en sampled near 10%, others near 25%") {
    val rows = LlmPipeline.queries("q58_stratified_sample")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[String]("lang")).distinct.length === rows.length)
    rows.foreach { r =>
      val frac = r.getAs[Double]("sample_frac")
      val target = if (r.getAs[String]("lang") == "en") 0.10 else 0.25
      // md5 slots are uniform; small strata wobble, so gate loosely.
      assert(math.abs(frac - target) < 0.15,
        s"${r.getAs[String]("lang")}: frac $frac vs target $target")
    }
  }

  test("q60 clusters: keeper is the component min, sizes reconcile, and " +
    "every q28 pair lands in one cluster") {
    val rows = LlmPipeline.queries("q60_neardup_clusters")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_keeper"),
        r.getAs[Long]("cluster_size")))
    assert(rows.nonEmpty)
    val byKeeper = rows.groupBy(_._2)
    byKeeper.foreach { case (keeper, members) =>
      // keeper is a member and the minimum of its component
      assert(members.map(_._1).min === keeper)
      // every member agrees on the size = component cardinality
      assert(members.forall(_._3 === members.length))
    }
    // clustering covers exactly the endpoints of the pair set, and both
    // endpoints of every pair share a keeper (pairs are 1-hop edges).
    val keeperOf = rows.map(r => r._1 -> r._2).toMap
    val pairs = LlmPipeline.queries("q28_minhash_neardup")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.flatMap(p => Seq(p._1, p._2)).toSet === keeperOf.keySet)
    pairs.foreach { case (a, b) =>
      assert(keeperOf(a) === keeperOf(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("MainContent edge cases: a links-only line is boilerplate by " +
    "link density even past the token floor; an all-boilerplate page " +
    "extracts to the empty string; a newline-free plain document is " +
    "the identity; extract preserves every other column") {
    import spark.implicits._
    val MC = graft.operators.MainContent
    val body = (1 to 20).map(i => s"word$i token$i").mkString(" ")
    // nine+ tokens of anchor text: clears the floor, fails link density
    val linksOnly = "<div>" + (1 to 9).map(i =>
      s"""<a href="/$i">linked$i</a>""").mkString(" ") + "</div>"
    val page = linksOnly + "\n<p>" + body + "</p>"
    val r = MC.report(Seq((1L, page)).toDF("doc_id", "text"), "text")
      .collect()(0)
    assert(r.getAs[Long]("n_lines") === 2L)
    assert(r.getAs[Long]("n_content_lines") === 1L,
      "the links-only line must fall to link density")
    assert(r.getAs[String]("content") === body)
    // all boilerplate → empty extraction, not null/crash
    val r2 = MC.report(Seq((2L, linksOnly)).toDF("doc_id", "text"),
      "text").collect()(0)
    assert(r2.getAs[Long]("n_content_lines") === 0L)
    assert(r2.getAs[String]("content") === "")
    assert(r2.getAs[Long]("content_chars") === 0L)
    // a plain newline-free document with enough tokens passes through
    val r3 = MC.extract(
      Seq((3L, body, "keep")).toDF("doc_id", "text", "extra"), "text")
      .collect()(0)
    assert(r3.getAs[String]("text") === body, "plain text is identity")
    assert(r3.getAs[String]("extra") === "keep",
      "extract must pass other columns through")
    assert(r3.schema.fieldNames.toSeq === Seq("doc_id", "text", "extra"),
      "extract must preserve column order and drop helpers")
  }

  test("MainContent r20 rules: context smoothing keeps a high-stopword " +
    "short line only between two content lines; the short band's " +
    "stopword-density test drops prose-free short lines even there; " +
    "an attribute-free <a> anchor counts toward link density") {
    import spark.implicits._
    val MC = graft.operators.MainContent
    val para = (1 to 12).map(i => s"alpha$i beta$i").mkString(" ")
    val near = "It was the best of the lot." // 7 toks, 3 stopwords
    val noStop = "Widget Pro Deluxe Max Nine" // 5 toks, 0 stopwords
    def content(page: String): String =
      MC.report(Seq((1L, page)).toDF("doc_id", "text"), "text")
        .collect()(0).getAs[String]("content")
    // NEAR between two CONTENT lines → promoted
    assert(content(s"<p>$para</p>\n<p>$near</p>\n<p>$para</p>")
      === s"$para $near $para",
      "a short prose line between two paragraphs is body text")
    // same NEAR line against a boilerplate neighbour → dropped
    assert(content(s"<nav>site map</nav>\n<p>$near</p>\n<p>$para</p>")
      === para,
      "context smoothing requires BOTH neighbours to be content")
    // zero-stopword short line between two CONTENT lines → dropped
    assert(content(s"<p>$para</p>\n<p>$noStop</p>\n<p>$para</p>")
      === s"$para $para",
      "the short band's stopword test drops prose-free lines")
    // attribute-free <a> counts link chars: nine tokens of bare-anchor
    // text clears the token floor yet fails link density
    val bare = "<div>" + (1 to 9).map(i => s"<a>linked$i</a>")
      .mkString(" ") + "</div>"
    assert(content(s"$bare\n<p>$para</p>") === para,
      "an attribute-free <a> anchor must count toward link density")
  }

  test("q150 span stage vs SpanStore probe: identical flagged sets on " +
    "history-free frames (the shared-definition law), divergence ONLY " +
    "on the transitive already-dropped-source case — the deliberate " +
    "audit/serving split (frame-wide min-doc election vs " +
    "rejects-never-recorded history)") {
    import spark.implicits._
    def df(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")
    def inQuery(rows: Seq[(Long, String)]): Set[Long] =
      LlmPipeline.spanFirstOccurrenceDrops(df(rows))
        .collect().map(_.getLong(0)).toSet
    // the serving form: feed docs in doc_id order, one per batch,
    // any-single-window match flags, survivors record — exactly the
    // streamed span leg's shape
    def storeFeed(rows: Seq[(Long, String)]): Set[Long] = {
      val store = java.nio.file.Files
        .createTempDirectory("spanlaw").toString + "/windows"
      rows.sortBy(_._1).flatMap { case (id, tx) =>
        val d = df(Seq((id, tx)))
        val survived = graft.ingest.SpanStore
          .newSpanUnique(d, "text", "doc_id", store,
            maxDupShare = 1e-9).count() == 1L
        if (survived)
          graft.ingest.SpanStore
            .recordWindows(d, "text", "doc_id", store)
        if (survived) None else Some(id)
      }.toSet
    }
    def uniq(tag: String): String =
      (1 to 12).map(i => s"$tag-chunk-$i-filler-material").mkString(" ")
    val passage1 = "this exact shared passage runs well past the " +
      "thirty-two character window width"
    val passage2 = "another recycled run of text comfortably " +
      "exceeding the window size threshold"
    // history-free frame: every shared window's first occurrence is a
    // doc that itself SURVIVES → the two rules agree exactly
    val frame = Seq(
      (1L, uniq("aa") + " " + passage1),
      (2L, uniq("bb") + " " + passage1 + " " + uniq("bc")),
      (3L, uniq("cc")),
      (4L, uniq("dd") + " " + passage2),
      (5L, uniq("ee") + " " + passage2))
    assert(inQuery(frame) === Set(2L, 5L))
    assert(storeFeed(frame) === Set(2L, 5L),
      "store feed diverged from the in-query rule on a history-free " +
        "frame")
    // the ONE divergent configuration: doc 3 shares text only with
    // doc 2, which itself span-dropped against doc 1 — the in-query
    // min-doc election still points doc 3 at doc 2 (both are frame
    // members), while the store feed never recorded the reject
    val tailB = "a tail unique to document two but long enough to " +
      "cover a full window"
    val transitive = Seq(
      (1L, uniq("aa") + " " + passage1),
      (2L, uniq("bb") + " " + passage1 + " " + tailB),
      (3L, uniq("ff") + " " + tailB))
    assert(inQuery(transitive) === Set(2L, 3L),
      "audit rule: min-doc election spans ALL frame members")
    assert(storeFeed(transitive) === Set(2L),
      "serving rule: a reject's windows must never flag a later doc")
  }

  test("q60 standing-labels snapshot: invalidates when the documents " +
    "table's content fingerprint changes (a stale store must never " +
    "serve labels for a corpus that no longer exists), and an " +
    "all-singleton corpus round-trips an EMPTY label store") {
    import spark.implicits._
    val confRoot = java.nio.file.Files
      .createTempDirectory("graft-cc-ss").toString
    spark.conf.set("spark.graft.standingStoreRoot", confRoot)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-t")
      .toString
    def writeDocs(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
        .withColumn("source", lit("src0"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    def q60(): Seq[(Long, Long, Long)] =
      LlmPipeline.queries("q60_neardup_clusters")(spark, dir)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("cluster_keeper"),
          r.getAs[Long]("cluster_size"))).sortBy(_._1).toSeq
    try {
      val shared = (1 to 40).map(i => s"alpha$i beta$i gamma$i")
        .mkString(" ")
      // corpus A: docs 1 and 2 are exact copies → one cluster of 2
      writeDocs(Seq((1L, shared), (2L, shared),
        (3L, (1 to 40).map(i => s"delta$i zeta$i").mkString(" "))))
      assert(q60() === Seq((1L, 1L, 2L), (2L, 1L, 2L)),
        "corpus A must cluster the copies")
      // corpus B at the SAME path: all docs distinct → the fingerprint
      // changed, the snapshot must rebuild, and the label store is
      // EMPTY (no pairs) — served as zero rows, not a crash and not
      // corpus A's stale cluster
      writeDocs(Seq((1L, shared),
        (2L, (1 to 40).map(i => s"omega$i kappa$i").mkString(" ")),
        (3L, (1 to 40).map(i => s"delta$i zeta$i").mkString(" "))))
      assert(q60() === Seq.empty,
        "corpus B must serve the rebuilt (empty) snapshot, not corpus " +
          "A's stale labels")
      // and the audits riding the same snapshot agree: q122 weights
      // every doc 1.0 when nothing clusters
      val w = LlmPipeline.queries("q122_soft_dedup_weights")(spark, dir)
        .collect().map(r => r.getAs[Long]("weight_ppm")).toSeq
      assert(w === Seq(1000000L, 1000000L, 1000000L),
        "q122 must ride the rebuilt snapshot")
    } finally {
      spark.conf.unset("spark.graft.standingStoreRoot")
      rmrf(new java.io.File(confRoot))
      rmrf(new java.io.File(dir))
    }
  }

  test("q60 through a RELIABLE checkpoint dir (cluster durability mode) " +
    "produces identical labels to the localCheckpoint mode") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      "shared test session unexpectedly has a checkpoint dir; this test " +
        "must run the localCheckpoint leg first")
    def run() = LlmPipeline.queries("q60_neardup_clusters")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_keeper"),
        r.getAs[Long]("cluster_size"))).sortBy(_._1).toSeq
    val viaLocal = run()
    // every Exec.materialize consumer must be mode-invariant too: pin
    // the barrier queries' results across the flip below
    val barrierQs = Seq("q56_chunk_dedup", "q61_lexical_search",
      "q80_pipeline_e2e", "q86_collocations")
    def runQ(name: String): Seq[String] =
      LlmPipeline.queries(name)(spark, sf)
        .collect().map(_.toString).sorted.toSeq
    val barrierLocal = barrierQs.map(q => q -> runQ(q)).toMap
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    sc.setCheckpointDir(dir) // no public unset: set AFTER the local leg
    val viaReliable = run()
    assert(viaReliable === viaLocal)
    for (q <- barrierQs)
      assert(runQ(q) === barrierLocal(q), s"$q diverged in reliable mode")
    // the reliable path actually engaged: round RDDs were written to it
    def ckptFiles(d: java.io.File): Int =
      d.listFiles.toSeq.map(f =>
        if (f.isDirectory) ckptFiles(f) else 1).sum
    assert(ckptFiles(new java.io.File(dir)) > 0,
      "checkpoint dir untouched — the loop silently used localCheckpoint")
    // …and rounds ROTATE: each round's checkpoint files are deleted as
    // the next round lands (Spark never reclaims them itself), so one
    // more full q60 run adds at most the FINAL round's rdd dir — not
    // one per propagation round
    def rddDirs(d: java.io.File): Int =
      d.listFiles.toSeq.map(f =>
        if (f.isDirectory)
          (if (f.getName.startsWith("rdd-")) 1 else 0) + rddDirs(f)
        else 0).sum
    val dirsBefore = rddDirs(new java.io.File(dir))
    assert(run() === viaLocal)
    val leaked = rddDirs(new java.io.File(dir)) - dirsBefore
    assert(leaked <= 1,
      s"q60 left $leaked checkpoint dirs from one run — round rotation " +
        "is not deleting superseded rounds")
    // Bpe.train's merge loop releases EVERY round (its result is the
    // driver-side rule list, so even the final frame is freed)
    val bpeBefore = rddDirs(new java.io.File(dir))
    val docs = spark.createDataFrame(Seq(
      Tuple1("aa ab aa ab aa"), Tuple1("aa ab ba"))).toDF("text")
    val rules = graft.operators.Bpe.train(docs, "text", nMerges = 4)
    assert(rules.nonEmpty)
    assert(rddDirs(new java.io.File(dir)) === bpeBefore,
      "Bpe.train leaked reliable-checkpoint dirs after releasing all rounds")
  }

  test("q92 recall audit: per-query counts reconcile with an " +
    "independent q84 ∩ q85 recount, recall = n_hit / n_exact") {
    def pairs(q: String): Set[(Long, Long)] =
      LlmPipeline.queries(q)(spark, sf).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .toSet
    val exact = pairs("q84_knn_join")
    val approx = pairs("q85_ivf_knn_join")
    val rows = LlmPipeline.queries("q92_ann_recall")(spark, sf).collect()
    assert(rows.length === 10) // one row per probe vector 0..9
    rows.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      val nExact = exact.count(_._1 == qid)
      val nHit = (exact & approx).count(_._1 == qid)
      assert(r.getAs[Long]("n_exact") === nExact.toLong)
      assert(r.getAs[Long]("n_hit") === nHit.toLong)
      assert(r.getAs[Double]("recall") === nHit.toDouble / nExact)
    }
  }

  test("q127 PQ recall audit: per-query rerank recall dominates raw " +
    "ADC recall (a true top-3 member in the shortlist must re-rank " +
    "in), the bounded exact re-rank buys measurable recall, and the " +
    "ratios reconcile") {
    val rows = LlmPipeline.queries("q127_pq_recall")(spark, sf).collect()
    assert(rows.length === 10) // one row per q84-convention query 0..9
    rows.foreach { r =>
      val nExact = r.getAs[Long]("n_exact")
      val nAdc = r.getAs[Long]("n_hit_adc")
      val nRr = r.getAs[Long]("n_hit_rerank")
      assert(nExact === 3L)
      assert(nAdc >= 0L && nAdc <= nExact && nRr <= nExact)
      assert(nRr >= nAdc,
        s"query ${r.getAs[Long]("query_id")}: re-ranking the ADC " +
          s"shortlist lost a hit ($nRr < $nAdc) — impossible by " +
          "construction")
      assert(r.getAs[Double]("recall_adc") === nAdc.toDouble / nExact)
      assert(r.getAs[Double]("recall_rerank") === nRr.toDouble / nExact)
    }
    assert(rows.map(_.getAs[Long]("n_hit_rerank")).sum >
      rows.map(_.getAs[Long]("n_hit_adc")).sum,
      "on this fixture the exact re-rank is known to buy recall — a " +
        "zero gap says the rerank leg is reading the wrong distances")
  }

  test("q95 corpus shuffle is a permutation: every document exactly " +
    "once, per-bucket positions contiguous from 1, rerun-stable") {
    def run() = LlmPipeline.queries("q95_corpus_shuffle")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket"),
        r.getAs[Long]("pos")))
    val rows = run()
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.length.toLong === nDocs)
    assert(rows.map(_._1).distinct.length.toLong === nDocs)
    rows.groupBy(_._2).foreach { case (b, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (1L to rs.length.toLong),
        s"bucket $b positions not contiguous")
    }
    // content-addressed key ⇒ the shuffle order is reproducible
    assert(run().toSeq === rows.toSeq)
  }

  test("q96 cluster separation: k(k-1)/2 ordered pairs, distances " +
    "match a driver-side recomputation from the trained centroids") {
    val rows = LlmPipeline.queries("q96_cluster_separation")(spark, sf)
      .collect()
      .map(r => ((r.getAs[Long]("cid_a"), r.getAs[Long]("cid_b")),
        r.getAs[Long]("dist_fp"))).toMap
    assert(rows.size === 8 * 7 / 2)
    assert(rows.keys.forall { case (a, b) => a < b })
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", org.apache.spark.sql.functions
        .col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = graft.operators.KMeans
      .trainCollected(e, 1L to 8L, iters = 1).toMap
    for (((a, b), got) <- rows) {
      val (va, vb) = (cents(a.toInt), cents(b.toInt))
      val want = va.zip(vb).map { case (x, y) =>
        math.floor((x - y) * (x - y) * 1e12).toLong }.sum
      assert(got === want, s"pair ($a,$b)")
      assert(got > 0L, s"centroids $a and $b coincide")
    }
  }

  test("q97 vocab coverage: per-language counts reconcile with a " +
    "driver-side recount; the audit measures REAL oov (not all-zero)") {
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("text")))
    val allToks = docs.flatMap(r =>
      "\\w+".r.findAllIn(r._2.toLowerCase).toSeq)
    // the query's own vocab derivation: global top-16 by (count desc,
    // term asc)
    val vocab = allToks.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(16).map(_._1).toSet
    val byLang = docs.groupBy(_._1).map { case (lang, rs) =>
      val toks = rs.flatMap(r =>
        "\\w+".r.findAllIn(r._2.toLowerCase).toSeq)
      lang -> (toks.length.toLong, toks.count(vocab).toLong)
    }
    val rows = LlmPipeline.queries("q97_vocab_coverage")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val (nTok, nCov) = byLang(lang)
      assert(r.getAs[Long]("n_tokens") === nTok, s"lang $lang tokens")
      assert(r.getAs[Long]("n_covered") === nCov, s"lang $lang covered")
      val oov = r.getAs[Double]("oov_rate")
      assert(oov >= 0.0 && oov <= 1.0)
      assert(oov === (nTok - nCov).toDouble / nTok)
    }
    // 31 distinct corpus terms vs a 16-term vocab: some language must
    // see nonzero OOV or the audit is vacuous
    assert(rows.exists(_.getAs[Double]("oov_rate") > 0.0),
      "all languages fully covered — the vocab cap is not exercising OOV")
  }

  test("q98 markup strip: cleaning the synthesized markup recovers the " +
    "whitespace-normalized original text") {
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    val rows = LlmPipeline.queries("q98_markup_strip")(spark, sf)
      .collect()
    assert(rows.length === docs.size)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      // tags → space then collapse: the synthesized wrapper and inline
      // tags vanish, so cleaned ≡ the collapsed original
      val expected = docs(id).replaceAll("\\s+", " ").trim
      val md = java.security.MessageDigest.getInstance("MD5")
      val hash = md.digest(expected.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getAs[String]("text_hash") === hash, s"doc $id")
      assert(r.getAs[Long]("n_text_chars") === expected.length.toLong)
      assert(r.getAs[Long]("n_markup_chars") > r.getAs[Long]("n_text_chars"))
      assert(r.getAs[Long]("n_tags") >= 8L) // wrapper alone contributes 8
    }
  }

  test("q99 sentence stats reconcile with a driver-side re-split") {
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    val rows = LlmPipeline.queries("q99_sentence_stats")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val sents = docs(id).split("\\.\\s+", -1).filter(_.nonEmpty)
      assert(r.getAs[Long]("n_sentences") === sents.length.toLong, s"doc $id")
      val total = sents.map(_.length.toLong).sum
      assert(r.getAs[Long]("total_chars") === total, s"doc $id")
      assert(r.getAs[Double]("mean_sentence_chars") ===
        total.toDouble / sents.length)
    }
  }

  test("q101 dup spans reconcile with a driver-side sliding-window " +
    "recompute on raw substrings") {
    val docs = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val k = 32
    // windows keyed by the substring itself — an md5-free independent
    // oracle for the hash-keyed Spark plan
    val windows = docs.flatMap { case (id, text) =>
      (0 to text.length - k).map(i => (text.substring(i, i + k), id))
    }
    val dupSet = windows.groupBy(_._1)
      .filter(_._2.map(_._2).distinct.length >= 2).keySet
    val expDup = windows.filter(w => dupSet(w._1))
      .groupBy(_._2).map { case (id, ws) => id -> ws.length.toLong }
    val rows = LlmPipeline.queries("q101_dup_spans")(spark, sf).collect()
    assert(rows.length === docs.length, "one row per document")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val nw = math.max(docs.toMap.apply(id).length - k + 1, 0).toLong
      assert(r.getAs[Long]("n_windows") === nw, s"doc $id n_windows")
      assert(r.getAs[Long]("n_dup_windows") === expDup.getOrElse(id, 0L),
        s"doc $id n_dup_windows")
      val ratio = if (nw == 0) 0.0 else expDup.getOrElse(id, 0L).toDouble / nw
      assert(r.getAs[Double]("dup_ratio") === ratio, s"doc $id ratio")
    }
    assert(rows.exists(_.getAs[Long]("n_dup_windows") > 0),
      "corpus has at least one cross-document duplicated span")
  }

  test("q103 minhash precision audit: flagged set equals q28, exact " +
    "jaccard matches a driver-side shingle-set recompute") {
    val q28pairs = LlmPipeline.queries("q28_minhash_neardup")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("n_match")).toMap
    val shingles = Tables.load(spark, sf, "documents").collect().map { r =>
      val toks = "\\w+".r.findAllIn(r.getAs[String]("text").toLowerCase)
        .toVector
      r.getAs[Long]("doc_id") ->
        toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }.toMap
    val rows = LlmPipeline.queries("q103_minhash_precision")(spark, sf)
      .collect()
    assert(rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet === q28pairs.keySet, "audit covers exactly the flagged pairs")
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("n_match") === q28pairs((a, b)))
      val (sa, sb) = (shingles(a), shingles(b))
      val common = (sa & sb).size.toLong
      val union = (sa | sb).size.toLong
      assert(r.getAs[Long]("n_common") === common, s"pair ($a,$b)")
      assert(r.getAs[Long]("n_union") === union, s"pair ($a,$b)")
      assert(r.getAs[Long]("is_true_pos") ===
        (if (common.toDouble / union >= 0.5) 1L else 0L), s"pair ($a,$b)")
    }
  }

  test("q104 per-source dup rates reconcile with a driver-side " +
    "normalized-text recompute; totals cover the corpus") {
    val byuSource = Tables.load(spark, sf, "documents").collect()
      .map(r => (r.getAs[String]("source"),
        r.getAs[String]("text").toLowerCase.replaceAll("\\s+", " ").trim))
      .groupBy(_._1)
    val rows = LlmPipeline.queries("q104_source_dedup_rate")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[String]("source")).toSet === byuSource.keySet)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val texts = byuSource(src).map(_._2)
      assert(r.getAs[Long]("n_docs") === texts.length.toLong, src)
      assert(r.getAs[Long]("n_distinct") === texts.distinct.length.toLong,
        src)
      assert(r.getAs[Long]("n_dupes") ===
        (texts.length - texts.distinct.length).toLong, src)
      assert(r.getAs[Double]("dup_pct") ===
        (texts.length - texts.distinct.length) * 100.0 / texts.length, src)
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      byuSource.values.map(_.length).sum.toLong)
  }

  test("q105 quality keeper: covers exactly the q60 clustered docs, " +
    "one keeper per cluster, keeper is the quality argmax with min-id " +
    "tiebreak") {
    val q60docs = LlmPipeline.queries("q60_neardup_clusters")(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val qual = LlmPipeline.queries("q34_quality_score")(spark, sf)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = LlmPipeline.queries("q105_quality_keeper")(spark, sf)
      .collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet === q60docs)
    rows.groupBy(_.getAs[Long]("cluster_keeper")).foreach {
      case (ck, members) =>
        val kept = members.filter(_.getAs[Long]("kept") == 1L)
        assert(kept.length === 1, s"cluster $ck kept ${kept.length}")
        val best = members
          .map(m => (m.getAs[Long]("doc_id"), m.getAs[Double]("quality")))
          .sortBy { case (id, q) => (-q, id) }.head._1
        assert(kept.head.getAs[Long]("doc_id") === best, s"cluster $ck")
        assert(members.map(_.getAs[Long]("best_keeper")).distinct.toSeq
          === Seq(best), s"cluster $ck best_keeper not constant")
        members.foreach { m =>
          assert(m.getAs[Double]("quality")
            === qual(m.getAs[Long]("doc_id")), "quality drifted from q34")
        }
    }
  }

  test("q100 cluster-size histogram reconciles with the q60 component " +
    "report") {
    val q60rows = LlmPipeline.queries("q60_neardup_clusters")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("cluster_keeper"),
        r.getAs[Long]("cluster_size")))
    val expected = q60rows.distinct.groupBy(_._2)
      .map { case (size, ks) => size -> ks.length.toLong }
    val got = LlmPipeline.queries("q100_cluster_sizes")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        r.getAs[Long]("n_clusters")).toMap
    assert(got === expected)
    // sanity: Σ size·count = number of clustered documents
    assert(got.map { case (s2, n) => s2 * n }.sum === q60rows.length.toLong)
  }

  test("q62 quantization: codes fit int8, reconstruction error bounded " +
    "by scale/2") {
    val rows = LlmPipeline.queries("q62_embedding_quantize")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      assert(r.getAs[Long]("code_max") <= 127L,
        s"vec ${r.getAs[Long]("vec_id")} code out of int8 range")
      // half-up rounding: |x - code*scale| <= scale/2 (+1 ulp slack)
      assert(r.getAs[Double]("max_abs_err") <= scale / 2 * 1.0000001,
        s"vec ${r.getAs[Long]("vec_id")} error ${r.getAs[Double]("max_abs_err")} > ${scale / 2}")
    }
  }

  test("q83 semantic clusters: keeper is the component min, sizes " +
    "reconcile, and every q26 pair shares a keeper") {
    val rows = LlmPipeline.queries("q83_semantic_clusters")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_keeper"),
        r.getAs[Long]("cluster_size")))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (keeper, members) =>
      assert(members.map(_._1).min === keeper)
      assert(members.forall(_._3 === members.length))
    }
    val keeperOf = rows.map(r => r._1 -> r._2).toMap
    val pairs = LlmPipeline.queries("q26_embedding_neardup")(spark, sf)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(pairs.flatMap(p => Seq(p._1, p._2)).toSet === keeperOf.keySet)
    pairs.foreach { case (a, b) =>
      assert(keeperOf(a) === keeperOf(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("q73 packing: offsets in [0,512), bins contiguous from 0 per " +
    "shard, window set identical to q70") {
    val rows = LlmPipeline.queries("q73_sequence_packing")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val off = r.getAs[Long]("bin_offset")
      assert(off >= 0 && off < 512, s"offset $off outside bin capacity")
    }
    // every shard's bins are 0..max with no gaps (chop never skips a
    // sequence), and packing neither invents nor drops windows
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rs) =>
      val bins = rs.map(_.getAs[Long]("bin_id")).distinct.sorted
      assert(bins === (0L to bins.max), s"shard $sh bins not contiguous")
    }
    val q70n = LlmPipeline.queries("q70_token_windows")(spark, sf).count()
    assert(rows.length.toLong === q70n, "packing changed the window set")
  }

  test("q72 canonicalization: variants collapse (fewer canonical urls " +
    "than docs), every canonical url is clean") {
    val rows = LlmPipeline.queries("q72_url_canonical")(spark, sf)
      .collect()
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum === nDocs)
    assert(rows.length < nDocs, "no URL collisions — synthesis broken?")
    assert(rows.exists(_.getAs[Long]("n_raw_variants") > 1),
      "canonicalization never merged distinct raw forms")
    rows.map(_.getAs[String]("canon_url")).foreach { u =>
      assert(u.startsWith("https://"), s"scheme not normalized: $u")
      assert(!u.contains("#") && !u.contains("utm_") && !u.contains("/?"),
        s"mess survived canonicalization: $u")
      assert(u == u.toLowerCase, s"case survived: $u")
    }
  }

  test("q112 semdedup: drops reconcile with a driver-side within-cluster " +
    "pair recompute; a planted exact duplicate is dropped at cosine 1") {
    // reconcile against a brute-force recompute from q87's assignment
    val cl = LlmPipeline.queries("q87_kmeans")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectedDropped = (for {
      (b, cb) <- cl.toSeq
      (a, ca) <- cl.toSeq
      if a < b && ca == cb && cos(vecs(a), vecs(b)) >= 0.3
    } yield b).toSet
    val rows = LlmPipeline.queries("q112_semdedup")(spark, sf).collect()
    assert(rows.length === cl.size) // full per-vector audit
    val dropped = rows.filterNot(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("vec_id")).toSet
    assert(dropped === expectedDropped)
    rows.foreach { r =>
      if (r.getAs[Boolean]("kept")) {
        assert(r.getAs[Long]("n_earlier_dups") === 0L)
        assert(r.isNullAt(r.fieldIndex("max_dup_cosine")))
      } else {
        assert(r.getAs[Long]("n_earlier_dups") >= 1L)
        assert(r.getAs[Double]("max_dup_cosine") >= 0.3)
      }
    }
    // planted duplicate: re-materialize the corpus with an exact copy
    // of vec_id 400 under a fresh max id — semdedup must drop the copy
    // (same cluster by construction: identical vector, same tie-break)
    val dir = java.nio.file.Files.createTempDirectory("q112").toString
    val e0 = Tables.load(spark, sf, "embeddings")
    e0.union(e0.filter(col("vec_id") === 400L)
        .withColumn("vec_id", lit(99001L)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val planted = LlmPipeline.queries("q112_semdedup")(spark, dir)
      .filter(col("vec_id") === 99001L).collect().head
    assert(!planted.getAs[Boolean]("kept"))
    assert(planted.getAs[Double]("max_dup_cosine") > 0.999999)
  }

  test("q113 LM score: per-bigram scores are non-positive, n_bigrams " +
    "reconciles, terciles balanced, frequent-bigram text outscores " +
    "gibberish") {
    val rows = LlmPipeline.queries("q113_lm_score")(spark, sf).collect()
    // n_bigrams reconciles with a driver-side re-tokenization
    val expected = Tables.load(spark, sf, "documents").select(
        col("doc_id"),
        size(expr("regexp_extract_all(lower(text), '\\\\w+', 0)"))
          .as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong)
      .filter(_._2 >= 2).toMap
    assert(rows.length === expected.size)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bigrams") ===
        expected(r.getAs[Long]("doc_id")) - 1L)
      // score(b) = ilog2(c2+1) − ilog2(c1+V) ≤ 0 since c2 ≤ c1 < c1+V
      assert(r.getAs[Long]("ll_sum") <= 0L)
      assert(r.getAs[Long]("ll_mean_fp") <= 0L)
    }
    // CCNet head/middle/tail via the q115 histogram cut (the r14
    // scale form — no global ntile): the cut runs on x = -ll_mean_fp
    // at p = 10, x ascending = score DESCENDING, so the first
    // x-third is tercile 3. Boundary docs share their cut bucket's
    // side, so each cumulative count matches its ceiling rank to
    // within the cut bucket's population (the 2^-10 bracket law),
    // and terciles are monotone in the score (same score can never
    // straddle a tercile, unlike ntile).
    val sizes = rows.groupBy(_.getAs[Long]("tercile"))
      .view.mapValues(_.length).toMap
    assert(sizes.keySet === Set(1L, 2L, 3L))
    def bucket(x: Long): Long =
      if (x < 1024) x
      else {
        val il = 63 - java.lang.Long.numberOfLeadingZeros(x)
        (il - 10).toLong * 1024 + (x >> (il - 10))
      }
    val svals = rows.map(r => -r.getAs[Long]("ll_mean_fp"))
    svals.foreach(s => assert(s >= 0L, "negated score must be >= 0"))
    val histCnt = svals.groupBy(bucket).view.mapValues(_.length).toMap
    val sorted = svals.sorted
    val n = rows.length
    for ((rank, cumCnt) <- Seq(
        ((n + 2) / 3, sizes(3L)),
        ((2 * n + 2) / 3, sizes(3L) + sizes(2L)))) {
      val cutBucket = bucket(sorted(rank - 1))
      assert(cumCnt >= rank && cumCnt < rank + histCnt(cutBucket),
        s"cumulative tercile count $cumCnt must bracket rank $rank " +
          s"within the cut bucket's population ${histCnt(cutBucket)}")
    }
    val maxByT = rows.groupBy(_.getAs[Long]("tercile"))
      .view.mapValues(_.map(_.getAs[Long]("ll_mean_fp"))).toMap
    assert(maxByT(1L).max <= maxByT(2L).min &&
      maxByT(2L).max <= maxByT(3L).min,
      "terciles must be monotone in ll_mean_fp")
    // in-model text must outscore out-of-vocabulary gibberish: plant
    // both into a copy of the corpus and compare their mean scores
    val dir = java.nio.file.Files.createTempDirectory("q113").toString
    val common = Tables.load(spark, sf, "documents")
      .orderBy("doc_id").limit(1).collect().head.getAs[String]("text")
    val gibberish = (1 to 60).map(i => s"zqx${i}v wk${i}jj").mkString(" ")
    import spark.implicits._
    Tables.load(spark, sf, "documents")
      .union(Seq((990001L, common, "en", "src0", common.length.toLong),
        (990002L, gibberish, "en", "src0", gibberish.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = LlmPipeline.queries("q113_lm_score")(spark, dir)
      .filter(col("doc_id") >= 990001L)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("ll_mean_fp"))
      .toMap
    assert(planted(990001L) > planted(990002L),
      s"corpus-frequent bigrams must outscore OOV gibberish: $planted")
  }

  test("q116 curation log: covers every document exactly once and its " +
    "kept set IS the q80 pipeline output") {
    val rows = LlmPipeline.queries("q116_curation_log")(spark, sf)
      .collect()
    val nDocs = Tables.load(spark, sf, "documents").count()
    // exactly once: assert on the ROW count before the Map collapses
    // any would-be duplicates
    assert(rows.length.toLong === nDocs,
      "log must emit each document exactly once")
    val log = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(log.size.toLong === nDocs, "log must cover the whole corpus")
    val outcomes = log.values.toSet
    assert(outcomes.subsetOf(
      Set("kept", "quality", "exact_dup", "near_dup")))
    // the log can never disagree with the pipeline it explains
    val kept = log.collect { case (id, "kept") => id }.toSet
    val q80ids = LlmPipeline.queries("q80_pipeline_e2e")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(kept === q80ids,
      "q116's kept set diverged from the q80 survivors")
    // the gate and at least one dup grade fire on the synthetic
    // corpus (which dup grade is data-dependent: at sf0.001 the
    // planted exact duplicates all fail quality first, so only the
    // near grade survives to fire)
    assert(outcomes.contains("kept") && outcomes.contains("quality"),
      s"gate stages missing in $outcomes")
    assert(outcomes.contains("exact_dup") || outcomes.contains("near_dup"),
      s"no dup stage fired: $outcomes")
  }

  test("q117 term drift: non-negative chi-square, counts reconcile " +
    "with a driver recount, and a planted one-cohort term tops the " +
    "report") {
    val rows = LlmPipeline.queries("q117_term_drift")(spark, sf).collect()
    assert(rows.length === 20)
    // counts reconcile for every reported term
    val recount = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '\\\\w+', 0)"))
          .as("term"))
      .collect().groupBy(_.getString(1)).view.mapValues { rs =>
        (rs.count(_.getLong(0) % 2 == 0).toLong,
          rs.count(_.getLong(0) % 2 != 0).toLong)
      }.toMap
    rows.foreach { r =>
      val (ea, eb) = recount(r.getString(0))
      assert(r.getLong(1) === ea && r.getLong(2) === eb,
        s"counts drifted for ${r.getString(0)}")
      assert(r.getLong(3) >= 0L, "chi-square cannot be negative")
    }
    // planted drift: 30 even-id docs carrying a cohort-exclusive term
    // must put that term at rank 1
    import spark.implicits._
    val planted = (1 to 30).map(i =>
      (900000L + 2 * i, "zzzdrift " * 5 + "filler text here",
        "en", "src0", 60L))
    val dir = java.nio.file.Files.createTempDirectory("q117").toString
    Tables.load(spark, sf, "documents")
      .union(planted.toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top = LlmPipeline.queries("q117_term_drift")(spark, dir)
      .collect().head
    assert(top.getString(0) === "zzzdrift",
      s"planted drift term not at rank 1: ${top.getString(0)}")
    assert(top.getLong(1) === 150L && top.getLong(2) === 0L)
    // one-cohort corpus: chi-square is undefined (zero expected
    // counts) — the report must be EMPTY, not NaN-floored zeros
    val dirOne = java.nio.file.Files.createTempDirectory("q117one")
      .toString
    Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dirOne/documents.parquet")
    assert(LlmPipeline.queries("q117_term_drift")(spark, dirOne)
      .count() === 0L, "empty-cohort corpus must report nothing")
  }

  test("q118 export mix: thresholds equal the CorpusExport operator's, " +
    "per-group selection respects them, and shards spread") {
    val rows = LlmPipeline.queries("q118_export_mix")(spark, sf).collect()
    // the query's in-plan thresholds must be EXACTLY what the operator
    // would hand materialize/exportMixStream — the audit and the export
    // can never disagree about the mix
    val want = graft.operators.CorpusExport.uniformMixThresholds(
      Tables.load(spark, sf, "documents"), "lang", rate = 0.5).toMap
    val got = rows.map(r =>
      r.getString(0) -> r.getAs[Long]("threshold_ppm")).toMap
    assert(got === want.filter { case (g, _) => got.contains(g) } &&
      got.keySet === want.keySet,
      s"in-plan thresholds diverged from the operator: $got vs $want")
    // per-group totals: selected <= group size, and the selected share
    // tracks threshold_ppm (content-addressed slots are ~uniform)
    val byGroup = rows.groupBy(_.getString(0))
    for ((g, rs) <- byGroup) {
      val nTotal = rs.head.getAs[Long]("n_total_group")
      val nSel = rs.map(_.getAs[Long]("n_selected")).sum
      assert(nSel <= nTotal)
      val expect = nTotal * want(g).toDouble / 1000000d
      assert(math.abs(nSel - expect) <= math.max(8d, 0.35 * expect),
        s"group $g selected $nSel vs expected ~$expect")
      // disjoint-hash shards: selection must not collapse into one
      if (nSel >= 16) assert(rs.length >= 4,
        s"group $g landed in only ${rs.length} shards")
    }
  }

  test("q119 embedding health: planted faults classify exactly, ok " +
    "norms bucket by exact ilog2, counts reconcile") {
    val rows = LlmPipeline.queries("q119_embedding_health")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ids = Tables.load(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
    // %41 wins over %37 (the zeroing branch is checked first)
    val wantZero = ids.count(_ % 41 == 0).toLong
    val wantNan = ids.count(i => i % 37 == 0 && i % 41 != 0).toLong
    assert(rows.getOrElse(("zero", -1L), 0L) === wantZero)
    assert(rows.getOrElse(("nan", -1L), 0L) === wantNan)
    val okCount = rows.collect { case (("ok", _), n) => n }.sum
    assert(okCount === ids.length - wantZero - wantNan,
      "every vector must be classified exactly once")
    rows.keys.foreach { case (h, b) =>
      assert(if (h == "ok") b >= 0 else b === -1L) }
  }

  test("q120 PQ distortion: covers every vector in every subspace, " +
    "mean <= max, and reconciles with the q108 encoding") {
    val rows = LlmPipeline.queries("q120_pq_distortion")(spark, sf)
      .collect()
    val nVecs = Tables.load(spark, sf, "embeddings").count()
    assert(rows.length === 8, "one report row per subspace")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vectors") === nVecs)
      assert(r.getAs[Double]("mean_dist_fp") >= 0d)
      assert(r.getAs[Double]("mean_dist_fp") <=
        r.getAs[Long]("max_dist_fp").toDouble)
    }
    // reconciles with q108: the per-subspace max is the max of the
    // encoded corpus's audit column
    val enc = LlmPipeline.queries("q108_pq_encode")(spark, sf)
      .collect().groupBy(_.getAs[Long]("sub"))
      .view.mapValues(_.map(_.getAs[Long]("dist_fp")).max).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("max_dist_fp") ===
        enc(r.getAs[Long]("sub"))) }
  }

  test("q122 soft dedup: weights reconcile with q60's clusters, " +
    "singletons weigh 1.0, and the effective corpus size is the " +
    "weight sum") {
    val rows = LlmPipeline.queries("q122_soft_dedup_weights")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.length.toLong === nDocs,
      "every document gets exactly one weight")
    val q60Sizes = LlmPipeline.queries("q60_neardup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("cluster_size"))
      .toMap
    rows.foreach { case (id, size, w) =>
      assert(size === q60Sizes.getOrElse(id, 1L),
        s"doc $id cluster size diverged from q60")
      assert(w === 1000000L / size)
      if (!q60Sizes.contains(id)) assert(w === 1000000L)
    }
    // soft dedup keeps cluster mass ~once in expectation: the summed
    // weight of every multi-doc cluster is <= 1e6 (+rounding), and
    // the effective corpus size is strictly below the raw count
    val eff = rows.map(_._3).sum
    assert(eff < nDocs * 1000000L)
    rows.groupBy(_._2).foreach { case (size, rs) =>
      if (size > 1)
        assert(rs.map(_._3).sum <= rs.length / size * 1000000L + size)
    }
  }

  test("q123 curriculum stages: covers every document once, stages " +
    "are monotone in quality (1 = best), quartile counts bracket " +
    "within the cut buckets, slots stay in range") {
    val rows = LlmPipeline.queries("q123_curriculum_stages")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.length.toLong === nDocs)
    assert(rows.map(_._3).toSet.subsetOf(Set(1L, 2L, 3L, 4L)))
    assert(rows.forall { case (_, _, _, slot) =>
      slot >= 0L && slot < 10000L })
    // stage 1 = the HIGHEST-quality quartile: scores never increase
    // as the stage number grows
    val byStage = rows.groupBy(_._3)
      .view.mapValues(_.map(_._2).toSeq).toMap
    val stages = byStage.keys.toSeq.sorted
    stages.sliding(2).foreach {
      case Seq(hi, lo) =>
        assert(byStage(hi).min >= byStage(lo).max,
          s"stage $hi scores dip below stage $lo")
      case _ =>
    }
    // quartile bracket law (the q113/q115 histogram argument): each
    // cumulative stage count matches its ceiling rank to within the
    // cut bucket's population
    def bucket(x: Long): Long =
      if (x < 1024) x
      else {
        val il = 63 - java.lang.Long.numberOfLeadingZeros(x)
        (il - 10).toLong * 1024 + (x >> (il - 10))
      }
    val svals = rows.map(_._2)
    val histCnt = svals.groupBy(bucket).view.mapValues(_.length).toMap
    val sorted = svals.sorted
    val n = rows.length
    for (k <- 1 to 3) {
      val rank = (n * k + 3) / 4
      // stages count DOWN in score: cum count at boundary k covers
      // stages 4 .. (4 - k + 1)
      val cum = (4 - k + 1 to 4)
        .map(st => byStage.getOrElse(st.toLong,
          Seq.empty[Long]).length).sum
      val cutBucket = bucket(sorted(rank - 1))
      assert(cum >= rank && cum < rank + histCnt(cutBucket),
        s"cumulative stage count $cum vs rank $rank (bucket pop " +
          s"${histCnt(cutBucket)})")
    }
  }

  test("q136 link rank: the fixed-point PageRank chain — including " +
    "the dangling-mass fold over the planted no-outlink leaves — " +
    "matches an independent driver-side recompute exactly") {
    val got = LlmPipeline.queries("q136_link_rank")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("rank_fp"))).toSeq
    val ids = Tables.load(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val n = ids.length.toLong
    // every 7th doc emits nothing — the planted dangling leaves
    val edges = ids.filter(_ % 7 != 0).flatMap { d =>
      Seq((d * 31 + 7) % n, (d * 17 + 3) % n, (d * 13 + 11) % n)
        .distinct.filter(_ != d).map(dst => (d, dst))
    }
    val outdeg = edges.groupBy(_._1).map { case (src, es) =>
      src -> es.length.toLong }
    var r = ids.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val dd = ids.filter(d => !outdeg.contains(d)).map(r).sum / n
      val in = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      edges.foreach { case (src, dst) => in(dst) += r(src) / outdeg(src) }
      r = ids.map(d => d -> (150000L + 85L * (in(d) + dd) / 100L)).toMap
    }
    val want = ids.map(d => (d, r(d)))
      .sortBy { case (d, rk) => (-rk, d) }.take(20).toSeq
    assert(got === want)
    // the fixture must actually carry dangling mass
    assert(ids.exists(d => !outdeg.contains(d)),
      "fixture lost its dangling leaves")
  }

  test("q137 exact jaccard join: equals the all-pairs semantic spec " +
    "(the prefix filter admits no false negatives) and covers q31's " +
    "min-bucket verify as a subset") {
    val got = LlmPipeline.queries("q137_jaccard_join")(spark, sf)
      .collect().map(r => ((r.getAs[Long]("doc_a"),
        r.getAs[Long]("doc_b")),
        (r.getAs[Long]("n_common"), r.getAs[Long]("n_union")))).toMap
    val sets = SignatureRefs.shingleSetRef(
      Tables.load(spark, sf, "documents"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](1).toSet).toMap
    val keys = sets.keys.toSeq.sorted
    val want = (for {
      a <- keys; b <- keys if a < b
      c = (sets(a) intersect sets(b)).size
      u = sets(a).size + sets(b).size - c
      if u > 0 && c.toDouble / u >= 0.5
    } yield ((a, b), (c.toLong, u.toLong))).toMap
    assert(got === want,
      "prefix-filtered join diverged from the semantic all-pairs spec")
    assert(want.nonEmpty, "fixture has no qualifying pair")
    val q31pairs = LlmPipeline.queries("q31_ngram_jaccard")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_a"),
        r.getAs[Long]("doc_b"))).toSet
    assert(q31pairs.subsetOf(got.keySet),
      "q31's verified pairs must all appear in the exact join")
  }

  test("q137 ppjoin length/positional filters: planted-skew candidates " +
    "drop multiplicatively and the verified answer is unchanged " +
    "(lossless pruning)") {
    import spark.implicits._
    // skew fixture: every doc ends with the same near-stopword
    // trigram run (a high-df shingle that lands in SHORT docs'
    // prefixes), bodies are pairwise-disjoint and wildly
    // length-skewed; docs 101/102 are a true near-dup pair
    val docs = ((1L to 30L).map { i =>
      val body = (1 to (3 + (i % 10).toInt * 6))
        .map(k => s"w${i}x$k").mkString(" ")
      (i, s"$body the end game over now")
    } ++ Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta"),
      (102L, "alpha beta gamma delta epsilon zeta eta iota")))
      .toDF("doc_id", "text")
    def verified(c: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      c.withColumn("nc",
          size(array_intersect(col("shd_a"), col("shd_b"))))
        .withColumn("nu", size(col("shd_a")) + size(col("shd_b"))
          - col("nc"))
        .filter(col("nc").cast("double") / col("nu").cast("double")
          >= 0.5)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unfiltered = LlmPipeline.jaccardCandidates(docs,
      ppjoinFilters = false)
    val filtered = LlmPipeline.jaccardCandidates(docs,
      ppjoinFilters = true)
    val (nUn, nF) = (unfiltered.count(), filtered.count())
    assert(nF < nUn,
      s"ppjoin filters pruned nothing on planted skew ($nF vs $nUn)")
    assert(nUn >= 2 * nF,
      s"expected a multiplicative cut on planted skew ($nF vs $nUn)")
    val want = verified(unfiltered)
    assert(verified(filtered) === want,
      "ppjoin pruning changed the verified answer (false negative)")
    assert(want.contains((101L, 102L)),
      "fixture lost its planted qualifying pair")
  }

  test("q46 deterministic sample: identical across reruns, ~20% rate, " +
    "slot in [0,20)") {
    def ids = LlmPipeline.queries("q46_det_sample")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("sample_slot")))
    val run1 = ids
    val run2 = ids
    assert(run1.toSeq === run2.toSeq) // content-addressed: no rand()
    assert(run1.forall { case (_, slot) => slot >= 0 && slot < 20 })
    val total = Tables.load(spark, sf, "documents").count().toDouble
    val frac = run1.length / total
    assert(frac > 0.10 && frac < 0.30, s"sample fraction $frac")
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete(); ()
  }

  test("standingStore protocol (Generations form): conf-resolved " +
    "root, build-once per (tag, dir, fingerprint); a crashed build " +
    "leaves no manifest and a clean retry; a mid-build concurrent " +
    "install converges under last-writer-wins with the predecessor " +
    "retained; reinstall prunes superseded keys but spares other " +
    "directories' stores and in-flight staging dirs") {
    val confRoot = java.nio.file.Files
      .createTempDirectory("graft-ss-root").toString
    spark.conf.set("spark.graft.standingStoreRoot", confRoot)
    try {
      var builds = 0
      def build(st: String): Unit = {
        builds += 1
        assert(new java.io.File(st).mkdirs(), s"mkdirs $st")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(st, "data.txt"), "x".getBytes("UTF-8"))
        ()
      }
      val p1 = LlmPipeline.standingStore(spark, sf, "spec-tag")(build)
      assert(p1.startsWith(confRoot),
        s"store $p1 ignored spark.graft.standingStoreRoot")
      assert(new java.io.File(p1, "data.txt").exists(), "store content")
      val rootDir = new java.io.File(p1).getParentFile.getParentFile
      assert(new java.io.File(rootDir, "_manifest").exists(),
        "the generation manifest is the commit point")
      assert(new java.io.File(p1).getParentFile.getName
        .startsWith("gen-"), "stores live inside immutable generations")
      assert(builds === 1)
      // manifest hit: same path, no rebuild
      assert(LlmPipeline.standingStore(spark, sf, "spec-tag")(build) === p1)
      assert(builds === 1, "rebuilt despite an installed generation")
      // another DIRECTORY's same-tag store: its install must not prune
      // this directory's live store (the r17 cross-dir-prune fix)
      val pOther = LlmPipeline
        .standingStore(spark, "/root/testdata/sf0.01", "spec-tag")(build)
      assert(builds === 2)
      assert(new java.io.File(p1, "data.txt").exists(),
        "other-directory install pruned this directory's live store")
      // a CRASHED build: no manifest lands, the next call retries
      // cleanly (the generation-level laws live in IngestSpec)
      rmrf(rootDir) // force a rebuild window
      intercept[RuntimeException] {
        LlmPipeline.standingStore(spark, sf, "spec-tag") { st =>
          build(st); sys.error("builder died before commit")
        }
      }
      assert(!new java.io.File(rootDir, "_manifest").exists(),
        "a crashed build must not commit a manifest")
      // superseded KEY of THIS dir is pruned on reinstall; an
      // in-flight staging dir survives
      val base = rootDir.getName
      val keyPrefix = base.substring(0, base.lastIndexOf('-') + 1)
      val oldKey = new java.io.File(confRoot, keyPrefix + "0ldkey")
      assert(new java.io.File(oldKey, "store").mkdirs())
      val inflight = new java.io.File(confRoot,
        "graft-spec-tag-staging-inflight")
      assert(new java.io.File(inflight, "store").mkdirs())
      val preBuilds = builds
      val p2 = LlmPipeline.standingStore(spark, sf, "spec-tag")(build)
      assert(builds === preBuilds + 1, "no manifest -> rebuild")
      assert(new java.io.File(p2, "data.txt").exists())
      assert(!oldKey.exists(), "superseded key survived the prune")
      assert(inflight.exists(), "in-flight staging dir was pruned")
      assert(new java.io.File(pOther, "data.txt").exists(),
        "reinstall pruned another directory's store")
      // mid-build CONCURRENT install: last manifest wins (both builds
      // are deterministic and identical by contract), the earlier
      // winner's generation is RETAINED one cycle for its readers
      val pA = LlmPipeline.standingStore(spark, sf, "spec-tag2")(build)
      val rootA = new java.io.File(pA).getParentFile.getParentFile
      rmrf(rootA)
      var winnerGen: String = null
      val pB = LlmPipeline.standingStore(spark, sf, "spec-tag2") { st =>
        // a concurrent builder completes a full install first
        val fs = new org.apache.hadoop.fs.Path(rootA.getPath)
          .getFileSystem(spark.sessionState.newHadoopConf())
        winnerGen = graft.ingest.Generations.install(fs,
          new org.apache.hadoop.fs.Path(rootA.getPath)) { gen =>
          val d = new java.io.File(gen.toString, "store")
          assert(d.mkdirs())
          java.nio.file.Files.write(java.nio.file.Paths.get(
            d.getPath, "data.txt"), "x".getBytes("UTF-8"))
        }.toString
        build(st)
      }
      assert(new java.io.File(pB, "data.txt").exists(),
        "the last writer's generation must serve")
      assert(new java.io.File(new java.io.File(winnerGen), "store")
        .exists(),
        "the concurrent winner's generation must be retained one cycle")
      assert(pB !== s"$winnerGen/store",
        "last-writer-wins: our manifest supersedes the mid-build winner")
    } finally {
      spark.conf.unset("spark.graft.standingStoreRoot")
      rmrf(new java.io.File(confRoot))
    }
  }

  test("standingStore fingerprint carries a content digest: a source " +
    "rewrite preserving file name, length, AND mtime still keys a " +
    "FRESH store (six trained artifacts hang off this key — stale " +
    "serving is the failure); an unchanged source reuses the " +
    "installed generation without rebuilding") {
    val confRoot = java.nio.file.Files
      .createTempDirectory("graft-fp-ss").toString
    spark.conf.set("spark.graft.standingStoreRoot", confRoot)
    val dir = java.nio.file.Files.createTempDirectory("graft-fp-t")
      .toString
    val src = new java.io.File(s"$dir/documents.parquet")
    val mtime = 1700000000000L
    def writeSrc(content: String): Unit = {
      java.nio.file.Files.write(src.toPath, content.getBytes("UTF-8"))
      assert(src.setLastModified(mtime))
    }
    var builds = 0
    def call(): String =
      LlmPipeline.standingStore(spark, dir, "fpspec") { st =>
        builds += 1
        val p = new org.apache.hadoop.fs.Path(st)
        p.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(p)
      }
    try {
      writeSrc("generation one content AAAA")
      val p1 = call()
      assert(builds === 1)
      assert(call() === p1, "unchanged source must reuse the store")
      assert(builds === 1, "unchanged source must not rebuild")
      // the adversarial rewrite: same name, same byte length, same
      // mtime — only the bytes differ (the r19 advice scenario)
      writeSrc("generation two content BBBB")
      assert(src.length() === "generation one content AAAA".length &&
        src.lastModified() === mtime, "fixture premise: stat-identical")
      val p2 = call()
      assert(builds === 2,
        "a stat-identical content rewrite must key a fresh store")
      assert(p2 !== p1)
    } finally {
      spark.conf.unset("spark.graft.standingStoreRoot")
      rmrf(new java.io.File(confRoot))
      rmrf(new java.io.File(dir))
    }
  }
}
