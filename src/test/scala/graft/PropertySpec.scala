package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ingest.Ingest
import graft.ingest.StoreLayout
import graft.ingest.StoreLayout.Bucketed

/** Property-based operator laws (SURVEY.md §5 commitment): ingest
  * idempotence under arbitrary re-delivery, dedup uniqueness, and
  * append-batching equivalence — checked over ScalaCheck-generated
  * batches (deterministic seeds, bounded iterations: each sample runs
  * real Spark jobs, so we trade sample count for suite latency).
  */
class PropertySpec extends SparkSuite {

  private val keyGen: Gen[String] = Gen.oneOf((1 to 8).map(i => s"K$i"))
  private val rowGen: Gen[(String, Int)] =
    for { k <- keyGen; v <- Gen.choose(0, 100) } yield (k, v)
  private val batchGen: Gen[List[(String, Int)]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, rowGen))

  private val params = Gen.Parameters.default

  /** Draw `n` deterministic samples of `g` (seeded; reproducible). */
  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).map(i => g.pureApply(params, Seed(seed + i)))

  private def df(rows: List[(String, Int)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("dedup law: at most one row per key; key set preserved") {
    for (rows <- samples(batchGen, 12, 1000L)) {
      val out = Ingest.dedupe(df(rows), None, Seq("id"))
      val ids = out.select("id").collect().map(_.getString(0)).toSeq
      assert(ids.distinct.length === ids.length, s"dups in $rows")
      assert(ids.toSet === rows.map(_._1).toSet, s"keys lost in $rows")
    }
  }

  test("idempotence law: re-delivering a loaded batch adds nothing") {
    for (rows <- samples(batchGen, 12, 2000L) if rows.nonEmpty) {
      val loaded = Ingest.dedupe(df(rows), None, Seq("id"))
      val redelivered = Ingest.dedupe(df(rows), Some(loaded), Seq("id"))
      assert(redelivered.count() === 0L, s"re-delivery not empty for $rows")
    }
  }

  test("batching law: load(A then B) keys == load(A union B) keys") {
    val as = samples(batchGen, 8, 3000L)
    val bs = samples(batchGen, 8, 4000L)
    for ((a, b) <- as.zip(bs)) {
      val loadedA = Ingest.dedupe(df(a), None, Seq("id"))
      val thenB = Ingest.dedupe(df(b), Some(loadedA), Seq("id"))
      val sequential = loadedA.select("id")
        .unionByName(thenB.select("id"))
        .collect().map(_.getString(0)).toSet
      val together = Ingest.dedupe(df(a ++ b), None, Seq("id"))
        .select("id").collect().map(_.getString(0)).toSet
      assert(sequential === together, s"batching mismatch for $a / $b")
    }
  }

  test("kernel law: native text signatures equal the SQL-builtin forms " +
    "on arbitrary strings (incl. non-ASCII and astral chars)") {
    // The corpus equivalence tests (FunctionsSpec) only see ASCII; this
    // drives the kernels over generated strings mixing word chars,
    // separators, accents, CJK, and a surrogate-pair emoji — the inputs
    // where a code-unit/code-point or locale divergence would surface.
    graft.functions.Functions.register(spark)
    val charGen: Gen[String] = Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.const(" "),
      1 -> Gen.oneOf("_", ".", ",", "-", "!", "|"),
      1 -> Gen.oneOf("É", "ß", "中", "文", "ñ"),
      1 -> Gen.const("😀")) // astral: 2 UTF-16 units, 1 cp
    val textGen: Gen[String] =
      Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val texts = samples(textGen, 120, 9000L).distinct
    import spark.implicits._
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = docs.selectExpr("doc_id",
      "minhash_sig(text) AS sig", "simhash60(text) AS sh",
      "shingle_hashes(text) AS shd", "min_gram_md5(text, 8) AS fp")

    def refMap[T](df: DataFrame, valueCol: String): Map[Long, T] =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[T](valueCol)).toMap
    val sigRef = refMap[Seq[Long]](SignatureRefs.minhashRef(docs), "ref_sig")
    val shRef = refMap[Long](SignatureRefs.simhashRef(docs), "ref_sh")
    val shdRef = refMap[Seq[Long]](SignatureRefs.shingleSetRef(docs), "ref_shd")
    val fpRef = refMap[String](SignatureRefs.fingerprintRef(docs, 8), "ref_fp")

    native.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val tx = texts(id.toInt)
      assert(Option(r.getAs[Seq[Long]]("sig")) === sigRef.get(id),
        s"minhash_sig diverges on ${tx.take(40)}")
      assert((if (r.isNullAt(2)) None else Some(r.getLong(2))) ===
        shRef.get(id), s"simhash60 diverges on ${tx.take(40)}")
      assert(Option(r.getAs[Seq[Long]]("shd")) === shdRef.get(id),
        s"shingle_hashes diverges on ${tx.take(40)}")
      assert(Option(r.getAs[String]("fp")) === fpRef.get(id),
        s"min_gram_md5 diverges on ${tx.take(40)}")
    }
  }

  test("serial law: ids are a contiguous 1..N permutation for any batch") {
    for (rows <- samples(batchGen, 12, 5000L) if rows.nonEmpty) {
      val unique = df(rows).dropDuplicates("id")
      val n = rows.map(_._1).distinct.length
      val ids = Ingest.withSerial(unique, Seq(col("id")), "sid")
        .select("sid").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === (1L to n.toLong), s"non-contiguous serials for $rows")
    }
  }

  test("canonicalization law: canonicalUrl is idempotent and mess-free " +
    "for any generated raw URL") {
    import spark.implicits._
    // utm params in EVERY position: absent, first, last, repeated, the
    // only param — plus a path segment containing "utm_" that must
    // survive untouched
    val urlGen: Gen[String] = for {
      scheme <- Gen.oneOf("https", "HTTPS", "Https")
      host <- Gen.oneOf("news.example.com", "NEWS.EXAMPLE.COM",
        "Blog.Example.Com")
      seg <- Gen.oneOf("page", "utm_page")
      page <- Gen.choose(0, 30)
      slash <- Gen.oneOf("", "/")
      qs <- Gen.oneOf("", "?id=%d", "?utm_source=feed&id=%d",
        "?id=%d&utm_source=feed", "?utm_only=1",
        "?utm_a=1&utm_b=2&id=%d", "?id=%d&utm_a=1&utm_b=2")
      frag <- Gen.oneOf("", "#sec", "#a1")
    } yield s"$scheme://$host/$seg/$page$slash" +
      qs.replace("%d", page.toString) + frag
    val urls = samples(urlGen, 80, 9000L).distinct
    val out = urls.toDF("url")
      .select(col("url"),
        graft.queries.LlmPipeline.canonicalUrl(col("url")).as("c1"))
      .withColumn("c2",
        graft.queries.LlmPipeline.canonicalUrl(col("c1")))
      .collect()
    out.foreach { r =>
      val (raw, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(c1 === c2, s"not idempotent: $raw -> $c1 -> $c2")
      assert(!c1.contains("#") && !c1.contains("?utm_") &&
        !c1.contains("&utm_") && !c1.contains("/?"),
        s"mess survived: $raw -> $c1")
      assert(c1.takeWhile(_ != '/') === c1.takeWhile(_ != '/').toLowerCase,
        s"scheme case survived: $c1")
      if (raw.contains("/utm_page/"))
        assert(c1.contains("/utm_page/"), s"path mangled: $raw -> $c1")
    }
    // position-independence: the same resource canonicalizes identically
    // wherever the tracking param sits
    val variants = Seq(
      "https://a.example.com/p/1?utm_source=feed&id=1",
      "https://a.example.com/p/1?id=1&utm_source=feed",
      "https://a.example.com/p/1?utm_a=x&id=1&utm_b=y",
      "HTTPS://A.EXAMPLE.COM/p/1/?id=1#frag")
    val canons = variants.toDF("url")
      .select(graft.queries.LlmPipeline.canonicalUrl(col("url")))
      .collect().map(_.getString(0)).distinct
    assert(canons.toSeq === Seq("https://a.example.com/p/1?id=1"), canons)
    // malformed/schemeless inputs pass through (fragment/utm/slash rules
    // still applied) instead of ALL collapsing to the "" canonical key —
    // a frontier dedup would otherwise keep one of them and drop the rest
    val weird = Seq(
      "example.com/a/?utm_source=x&id=1#f",
      "not a url",
      "relative/path/",
      "ftp:/one-slash/z")
    val weirdOut = weird.toDF("url")
      .select(col("url"),
        graft.queries.LlmPipeline.canonicalUrl(col("url")).as("c1"))
      .withColumn("c2", graft.queries.LlmPipeline.canonicalUrl(col("c1")))
      .collect()
    weirdOut.foreach { r =>
      assert(r.getString(1).nonEmpty, s"collapsed to empty: ${r.getString(0)}")
      assert(r.getString(1) === r.getString(2),
        s"not idempotent: ${r.getString(0)} -> ${r.getString(1)}")
    }
    assert(weirdOut.map(_.getString(1)).distinct.length === weird.length)
    assert(weirdOut.head.getString(1) === "example.com/a?id=1")
    // schemeless/protocol-relative authority case: the SAME host spelled
    // in different case must canonicalize together (it is one resource),
    // while non-authority prefixes stay verbatim
    val authPairs = Seq(
      ("EXAMPLE.com/a", "example.com/a"),
      ("//HOST.example/x", "//host.example/x"),
      ("api.Example.COM:8080/v1?id=2", "api.example.com:8080/v1?id=2"))
    val authOut = authPairs.map(_._1).toDF("url")
      .select(graft.queries.LlmPipeline.canonicalUrl(col("url")))
      .collect().map(_.getString(0)).toSeq
    assert(authOut === authPairs.map(_._2))
    val verbatim = Seq("Not a url", "Relative-thing/path", "ftp:/One/z")
    val verbOut = verbatim.toDF("url")
      .select(graft.queries.LlmPipeline.canonicalUrl(col("url")))
      .collect().map(_.getString(0)).toSeq
    assert(verbOut === verbatim)
  }

  test("QuantileSketch expression laws: bucket monotone, lowerBound a " +
    "left inverse on bucket ids, and the bracket law lb <= x < " +
    "lb*(1+2^-p)+1 — over arbitrary non-negative longs at p=5 and " +
    "p=10 (the r14 cut resolutions)") {
    import spark.implicits._
    val Q = graft.operators.QuantileSketch
    // mix magnitudes: exact region, mid, huge — including bucket-edge
    // values (powers of two and their neighbors)
    val edgeGen: Gen[Long] = for {
      e <- Gen.choose(0, 62)
      d <- Gen.oneOf(-1L, 0L, 1L)
    } yield math.max(0L, (1L << e) + d)
    val valGen: Gen[Long] = Gen.frequency(
      3 -> Gen.choose(0L, 4096L),
      3 -> Gen.choose(0L, 100000000L),
      2 -> Gen.choose(0L, Long.MaxValue / 2),
      2 -> edgeGen)
    val xs = samples(valGen, 400, 7000L).distinct.sorted
    for (p <- Seq(5, 10)) {
      val rows = xs.toDF("x")
        .select(col("x"), Q.bucketExpr("x", p).cast("long").as("b"))
        .withColumn("lb", Q.lowerBoundExpr("b", p).cast("long"))
        .withColumn("b2", Q.bucketExpr("lb", p).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      // monotone: sorted x gives nondecreasing buckets
      rows.map(_._2).sliding(2).foreach {
        case Array(a, b) => assert(a <= b, s"bucket not monotone (p=$p)")
        case _ =>
      }
      rows.foreach { case (x, b, lb, b2) =>
        // lowerBound is a LEFT INVERSE on bucket ids — the identity
        // the q113/q123 boundary re-bucketing relies on
        assert(b2 === b, s"bucket(lowerBound($b)) = $b2 (p=$p)")
        // bracket law: the reported quantile value lower-bounds its
        // bucket and the true value sits within relative width 2^-p
        assert(lb <= x, s"lb $lb > x $x (p=$p)")
        assert(x <= lb + (lb >> p) + 1,
          s"x $x outside bracket of lb $lb (p=$p)")
      }
    }
  }

  test("salted-join law: multiset-equal to the plain join for every " +
    "supported join type; the physical join keys carry the salt") {
    import spark.implicits._
    // heavily skewed left: most rows share one hot key (the scenario
    // salting exists for), plus duplicates on both sides so multiset —
    // not set — equality is what's being proven
    val hotRowGen: Gen[(String, Int)] = for {
      k <- Gen.frequency(7 -> Gen.const("K1"), 3 -> keyGen)
      v <- Gen.choose(0, 100)
    } yield (k, v)
    val leftGen = Gen.listOfN(40, hotRowGen)
    val rightGen = Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, rowGen))
    for (trial <- 0 until 4) {
      val l = samples(leftGen, 1, 4200L + trial).head.toDF("id", "v")
      val r = samples(rightGen, 1, 5200L + trial).head.toDF("id", "w")
      for (jt <- Seq("inner", "left", "left_semi", "left_anti")) {
        val plain = l.join(r, Seq("id"), jt)
          .collect().map(_.toString).sorted.toSeq
        val salted = graft.layout.Layout.saltedJoin(l, r, "id", 4, jt)
        val got = salted.collect().map(_.toString).sorted.toSeq
        assert(got === plain, s"trial $trial type $jt diverged")
      }
      // the salt must reach the physical join keys — that spread of the
      // hot key across reducers is the entire point
      val p = graft.layout.Layout.saltedJoin(l, r, "id", 4, "inner")
        .queryExecution.executedPlan.toString
      assert(p.contains("__graft_salt"), s"salt column optimized away:\n$p")
    }
    // right/full outer would replicate unmatched right rows — rejected
    val l0 = Seq(("K1", 1)).toDF("id", "v")
    val r0 = Seq(("K2", 2)).toDF("id", "w")
    intercept[IllegalArgumentException] {
      graft.layout.Layout.saltedJoin(l0, r0, "id", 4, "full_outer")
    }
  }

  test("bloom dedup law: the sidecar path equals the plain path at " +
    "every step of random batch/record/rebuild/compact interleavings") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    // small text pool → plenty of cross-batch duplicates; formatting
    // variants exercise the normalized hash
    val textGen: Gen[String] = Gen.oneOf(
      (1 to 6).map(i => s"doc number $i content") ++
        (1 to 6).map(i => s"DOC  NUMBER $i   CONTENT"))
    val bRowGen: Gen[(Long, String)] =
      for { id <- Gen.choose(1L, 10000L); t <- textGen } yield (id, t)
    val stepGen: Gen[(List[(Long, String)], Int)] = for {
      n <- Gen.choose(1, 6)
      rows <- Gen.listOfN(n, bRowGen)
      action <- Gen.choose(0, 3) // 0 none, 1 rebuild, 2 compact, 3 both
    } yield (rows, action)
    for (trial <- 0 until 3) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"bloomlaw$trial").toString
      // the plain reference: a twin recorded and compacted alike that
      // never gets a sidecar
      val (store, twin) = (dir + "/hashes", dir + "/twin")
      for ((rows, action) <- samples(Gen.listOfN(6, stepGen), 1,
          7000L + trial).head) {
        val batch = rows.toDF("doc_id", "text")
        val plain = D.newUnique(batch, "text", "doc_id", twin)
          .collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[String]("content_hash"))).toSet
        val bloomed = D.newUnique(batch, "text", "doc_id", store)
          .collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[String]("content_hash"))).toSet
        assert(bloomed === plain, s"trial $trial diverged on $rows")
        for (s <- Seq(store, twin)) // record ALL (superset ok)
          D.recordHashes(batch, "text", s)
        if (action == 1 || action == 3) D.buildBloomSidecar(spark, store)
        if (action == 2 || action == 3)
          for (s <- Seq(store, twin)) D.compactStore(spark, s)
      }
      // fixed tail: a usable sidecar, then a fresh delivery recorded
      // and delivered again — its hash sits only in residual files the
      // sidecar does not cover, so the sidecar path must find it there
      D.buildBloomSidecar(spark, store)
      val fresh = Seq((20001L, "doc number 7 content")).toDF("doc_id", "text")
      def survivors(s: String) = D.newUnique(fresh, "text", "doc_id", s)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[String]("content_hash"))).toSet
      assert(survivors(store) === survivors(twin) &&
        survivors(store).nonEmpty, s"trial $trial: tail delivery not fresh")
      for (s <- Seq(store, twin)) D.recordHashes(fresh, "text", s)
      assert(survivors(store).isEmpty && survivors(twin).isEmpty,
        s"trial $trial: a recorded re-delivery passed the sidecar path " +
          s"(${survivors(store)}) or the plain path (${survivors(twin)})")
    }
  }

  test("near-dup store law: recorded content suppresses every later " +
    "variant delivery; unrecorded content always re-delivers, across " +
    "random interleavings with compaction") {
    import spark.implicits._
    val N = graft.ingest.NearDupStore
    // base texts long enough to shingle; variants = light edits that
    // stay within the >=8/16 signature-agreement radius
    def base(k: Int): String =
      (1 to 60).map(i => s"base$k w$i t${i * k} q${i + k}").mkString(" ")
    def variant(k: Int, v: Int): String = v % 3 match {
      case 0 => base(k)
      case 1 => base(k) + s" footer$v"
      case 2 => base(k).toUpperCase
    }
    val stepGen: Gen[(Int, Int, Boolean, Boolean)] = for {
      k <- Gen.choose(1, 4)       // which base family
      v <- Gen.choose(0, 8)       // which variant of it
      record <- Gen.oneOf(true, false)
      compact <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    } yield (k, v, record, compact)
    for (trial <- 0 until 2) {
      val store = java.nio.file.Files
        .createTempDirectory(s"neardlaw$trial").toString + "/bands"
      val recorded = scala.collection.mutable.Set.empty[Int]
      var id = 0L
      for ((k, v, record, compact) <-
          samples(Gen.listOfN(10, stepGen), 1, 9100L + trial).head) {
        id += 1
        val batch = Seq((id, variant(k, v))).toDF("doc_id", "text")
        val out = N.newNearUnique(batch, "text", "doc_id", store).count()
        if (recorded.contains(k))
          assert(out === 0L,
            s"trial $trial: family $k recorded but variant $v passed")
        else {
          assert(out === 1L,
            s"trial $trial: family $k never recorded but was suppressed")
          if (record) { N.recordSignatures(batch, "text", "doc_id", store)
            recorded += k }
        }
        if (compact) N.compactStore(spark, store, 1L << 20)
      }
    }
  }

  test("span store law: recorded text suppresses later full copies AND " +
    "two-family mashups; unrecorded families always pass, across random " +
    "interleavings with compaction") {
    import spark.implicits._
    val S = graft.ingest.SpanStore
    def base(k: Int): String =
      (1 to 30).map(i => f"fam${k}w$i%02d x${i * k}%03d").mkString(" ")
    def mashup(a: Int, b: Int): String = {
      val (ta, tb) = (base(a), base(b))
      ta.substring(0, ta.length / 2) + " " + tb.substring(tb.length / 2)
    }
    // a step delivers either a whole family text (k1 == k2) or a
    // half-and-half mashup of two families; only whole texts record
    val stepGen: Gen[(Int, Int, Boolean, Boolean)] = for {
      k1 <- Gen.choose(1, 4)
      k2 <- Gen.frequency(2 -> Gen.const(-1), 3 -> Gen.choose(1, 4))
      record <- Gen.oneOf(true, false)
      compact <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    } yield (k1, if (k2 == -1) k1 else k2, record, compact)
    for (trial <- 0 until 2) {
      val store = java.nio.file.Files
        .createTempDirectory(s"spanlaw$trial").toString + "/windows"
      val recorded = scala.collection.mutable.Set.empty[Int]
      var id = 0L
      for ((k1, k2, record, compact) <-
          samples(Gen.listOfN(10, stepGen), 1, 4100L + trial).head) {
        id += 1
        val txt = if (k1 == k2) base(k1) else mashup(k1, k2)
        val batch = Seq((id, txt)).toDF("doc_id", "text")
        val out = S.newSpanUnique(batch, "text", "doc_id", store).count()
        if (recorded.contains(k1) && recorded.contains(k2))
          assert(out === 0L, s"trial $trial: ($k1,$k2) fully recorded " +
            "but the delivery passed the span check")
        else if (!recorded.contains(k1) && !recorded.contains(k2))
          assert(out === 1L, s"trial $trial: ($k1,$k2) never recorded " +
            "but was suppressed")
        // mixed recorded/fresh mashups sit AT the share threshold by
        // construction — exercised for robustness, not asserted
        if (k1 == k2 && !recorded.contains(k1) && record) {
          S.recordWindows(batch, "text", "doc_id", store)
          recorded += k1
        }
        if (compact) S.compactStore(spark, store, 1L << 20)
      }
    }
  }

  /** A store as the four-form law drives it: `delivery(id, k1, k2)`
    * is the step's one-row batch for families (k1, k2), `probe` its
    * surviving ids, `record` marks it seen.
    */
  private final case class LawStore(
      store: graft.ingest.KeyStore[StoreLayout],
      delivery: (Long, Int, Int) => DataFrame,
      probe: (DataFrame, StoreLayout) => Seq[Long],
      record: (DataFrame, StoreLayout) => Unit)

  private def survivorIds(df: DataFrame, idCol: String): Seq[Long] =
    df.select(idCol).collect().map(_.getLong(0)).sorted.toSeq

  /** The four-form equivalence law: {Path, Bucketed} × {a twin that
    * never gets a sidecar, a store whose sidecar is rebuilt on the
    * random schedule} answer every delivery identically, across random
    * record / compact / sidecar interleavings. Surviving deliveries
    * record into all four forms and are delivered again at once;
    * compaction runs on all four. A fixed tail then builds the sidecar,
    * records a fresh delivery (family 5, outside the random families
    * 1..4) and delivers it again: every form must agree and suppress
    * it, which the sidecar forms can only do through the residual leg.
    */
  private def fourFormLaw(law: LawStore, table: String, seed: Long,
      steps: Int): Unit = {
    val stepGen: Gen[(Int, Int, Boolean, Boolean, Boolean)] = for {
      k1 <- Gen.choose(1, 4)
      k2 <- Gen.frequency(2 -> Gen.const(-1), 3 -> Gen.choose(1, 4))
      record <- Gen.oneOf(true, false)
      compact <- Gen.frequency(4 -> Gen.const(false), 1 -> Gen.const(true))
      sidecar <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    } yield (k1, if (k2 == -1) k1 else k2, record, compact, sidecar)
    val tables = Seq(table, table + "_plain")
    def drop(): Unit = for (t <- tables; x <- Seq(t, t + "_compact_stage"))
      spark.sql(s"DROP TABLE IF EXISTS $x")
    drop()
    try {
      val dir = java.nio.file.Files.createTempDirectory(table).toString
      val (withSidecar, plain) = (
        Seq[StoreLayout](dir + "/store", Bucketed(table)),
        Seq[StoreLayout](dir + "/plain", Bucketed(table + "_plain")))
      val forms = plain ++ withSidecar
      var id = 0L
      for ((k1, k2, record, compact, sidecar) <-
          samples(Gen.listOfN(steps, stepGen), 1, seed).head) {
        id += 1
        val batch = law.delivery(id, k1, k2)
        val answers = forms.map(law.probe(batch, _))
        assert(answers.distinct.size === 1,
          s"step $id (${(k1, k2, record, compact, sidecar)}): " +
            s"forms disagree: $answers")
        if (record && answers.head.nonEmpty) {
          forms.foreach(law.record(batch, _))
          // the just-recorded keys sit in residual files no sidecar
          // covers: a re-delivery must be judged alike by all four
          val again = forms.map(law.probe(batch, _))
          assert(again.distinct.size === 1,
            s"step $id re-delivery: forms disagree: $again")
        }
        if (compact) forms.foreach {
          case p: StoreLayout.Path => law.store.compactStore(spark, p, 1L << 20)
          case b => law.store.compactStore(spark, b)
        }
        if (sidecar) withSidecar.foreach(law.store.buildBloomSidecar(spark, _))
      }
      withSidecar.foreach(law.store.buildBloomSidecar(spark, _))
      val fresh = law.delivery(id + 1, 5, 5)
      val first = forms.map(law.probe(fresh, _))
      assert(first.distinct.size === 1 && first.head.nonEmpty,
        s"tail: the fresh delivery is not fresh in every form: $first")
      forms.foreach(law.record(fresh, _))
      val again = forms.map(law.probe(fresh, _))
      assert(again.forall(_.isEmpty),
        s"tail: a recorded re-delivery passed some form: $again")
    } finally drop()
  }

  test("span store four-form equivalence law: path/bucketed x " +
    "plain/bloom agree on every delivery across random record/compact/" +
    "sidecar interleavings") {
    import spark.implicits._
    val S = graft.ingest.SpanStore
    def base(k: Int): String =
      (1 to 30).map(i => f"eq${k}w$i%02d y${i * k}%03d").mkString(" ")
    def mashup(a: Int, b: Int): String = {
      val (ta, tb) = (base(a), base(b))
      ta.substring(0, ta.length / 2) + " " + tb.substring(tb.length / 2)
    }
    fourFormLaw(LawStore(S,
      (id, k1, k2) => Seq((id, if (k1 == k2) base(k1) else mashup(k1, k2)))
        .toDF("doc_id", "text"),
      (b, l) => survivorIds(S.newSpanUnique(b, "text", "doc_id", l),
        "doc_id"),
      S.recordWindows(_, "text", "doc_id", _)),
      "graft_prop_span_bucketed", 7300L, 8)
  }

  test("exact store four-form equivalence law: path/bucketed x " +
    "plain/bloom agree on every delivery across random record/compact/" +
    "sidecar interleavings") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    // formatting variants of one family exercise the normalized hash
    fourFormLaw(LawStore(D,
      (id, k1, k2) => Seq((id,
          if (k2 % 2 == 0) s"doc number $k1 content"
          else s"DOC  NUMBER $k1   CONTENT"))
        .toDF("doc_id", "text"),
      (b, l) => survivorIds(D.newUnique(b, "text", "doc_id", l), "doc_id"),
      D.recordHashes(_, "text", _)),
      "graft_prop_exact_bucketed", 7400L, 8)
  }

  test("near store four-form equivalence law: path/bucketed x " +
    "plain/bloom agree on every delivery across random record/compact/" +
    "sidecar interleavings") {
    import spark.implicits._
    val N = graft.ingest.NearDupStore
    def base(k: Int): String =
      (1 to 60).map(i => s"near$k w$i t${i * k} q${i + k}").mkString(" ")
    // light edits stay inside the >=8/16 agreement radius of family k1
    fourFormLaw(LawStore(N,
      (id, k1, k2) => Seq((id, k2 % 3 match {
          case 0 => base(k1)
          case 1 => base(k1) + s" footer$k2"
          case _ => base(k1).toUpperCase
        })).toDF("doc_id", "text"),
      (b, l) => survivorIds(N.newNearUnique(b, "text", "doc_id", l),
        "doc_id"),
      N.recordSignatures(_, "text", "doc_id", _)),
      "graft_prop_near_bucketed", 7500L, 8)
  }

  test("chunk store four-form equivalence law: path/bucketed x " +
    "plain/bloom agree on every delivery across random record/compact/" +
    "sidecar interleavings") {
    import spark.implicits._
    val C = graft.ingest.CdcChunkStore
    def base(k: Int): String =
      (1 to 120).map(i => f"ch${k}t$i%03d z${i * k}%04d").mkString(" ")
    def mashup(a: Int, b: Int): String = {
      val (ta, tb) = (base(a), base(b))
      ta.substring(0, ta.length / 2) + " " + tb.substring(tb.length / 2)
    }
    fourFormLaw(LawStore(C,
      (id, k1, k2) => Seq((id, if (k1 == k2) base(k1) else mashup(k1, k2)))
        .toDF("doc_id", "text"),
      (b, l) => survivorIds(C.newChunkUnique(b, "text", "doc_id", l),
        "doc_id"),
      C.recordChunks(_, "text", "doc_id", _)),
      "graft_prop_chunk_bucketed", 7600L, 8)
  }

  test("media store four-form equivalence law: path/bucketed x " +
    "plain/bloom agree on every delivery across random record/compact/" +
    "sidecar interleavings") {
    import spark.implicits._
    val M = graft.ingest.MediaNearStore
    // family k1's hash, with k2 - 1 low bits of band0 flipped: Hamming
    // 0..3 neighbors of the family (k1 == k2 flips k1 - 1 bits)
    def bands(k1: Int, k2: Int): (Int, Int, Int, Int) =
      ((0x1000 * k1 + 0x0F0) ^ ((1 << (k2 - 1)) - 1), 0x2200 + 17 * k1,
        0x3300 ^ (k1 << 4), 0x4400 + 7 * k1)
    fourFormLaw(LawStore(M,
      (id, k1, k2) => {
        val (b0, b1, b2, b3) = bands(k1, k2)
        Seq((id, b0, b1, b2, b3))
          .toDF("media_id", "band0", "band1", "band2", "band3")
      },
      (h, l) => survivorIds(M.newNearUnique(h.select("media_id"),
        "media_id", h, l), "media_id"),
      M.recordHashes(_, _)),
      "graft_prop_media_bucketed", 7702L, 8)
  }

  test("compaction race law: a LIVE appender recording through " +
    "DedupStore.recordHashes while compactStore runs never loses a " +
    "committed key, across interleavings") {
    import spark.implicits._
    val D = graft.ingest.DedupStore
    // LayoutSpec covers the RECONSTRUCTED crash states; this is the real
    // thing: a writer thread recording one-row batches non-stop while
    // the compaction runs. The law: every record whose call RETURNED
    // must still probe as seen afterwards (a record that THREW is the
    // appender's retry problem — at-least-once, not silent loss).
    for (trial <- 1 to 4) {
      val store = java.nio.file.Files
        .createTempDirectory(s"compact-race-$trial").resolve("t").toString
      for (i <- 1 to 6)
        D.recordHashes(Seq((i.toLong, s"seed$i")).toDF("doc_id", "text"),
          "text", store)
      @volatile var stop = false
      val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val appender = new Thread(() => {
        var i = 0L
        while (!stop) {
          val id = 1000L * trial + i
          try {
            D.recordHashes(Seq((id, s"live$id")).toDF("doc_id", "text"),
              "text", store)
            committed.add(id) // only a RETURNED record joins the law
          } catch { case _: Throwable => () } // thrown = not committed
          i += 1
        }
      })
      appender.start()
      try {
        // vary the interleaving: let the appender get ahead by a
        // trial-dependent amount before compaction starts
        Thread.sleep(50L * trial)
        D.compactStore(spark, store, 1L << 20)
        D.compactStore(spark, store, 1L << 20)
      } finally {
        stop = true
        appender.join(60000)
      }
      import scala.jdk.CollectionConverters._
      val want = (1 to 6).map(i => (i.toLong, s"seed$i")) ++
        committed.iterator().asScala.map(id => (id, s"live$id"))
      val lost = D.newUnique(want.toDF("doc_id", "text"), "text", "doc_id",
        store).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(lost.isEmpty, s"trial $trial lost committed keys: $lost")
    }
  }

  test("component-loop skew law: a star graph (one hub component ≫ " +
    "all others) yields identical labels salted and unsalted, and the " +
    "salted label hop spreads the hub key across >1 partition") {
    import spark.implicits._
    val LP = graft.queries.LlmPipeline
    // hub component: 1—2, 1—3, …, 1—400; plus small islands 1001—1002,
    // 2001—2002 — the shape where every member's label collapses onto
    // the hub's min id and the hop key goes hot
    val hub = (2L to 400L).map(i => (1L, i))
    val pairs = (hub ++ Seq((1001L, 1002L), (2001L, 2002L)))
      .toDF("doc_a", "doc_b")
    def labelMap(salts: Int): Map[Long, Long] =
      LP.connectedComponents(pairs, salts)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = labelMap(8)
    val unsalted = labelMap(1)
    assert(salted === unsalted, "salting changed the labels")
    (2L to 400L).foreach(i => assert(salted(i) === 1L))
    assert(salted(1002L) === 1001L && salted(2002L) === 2001L)
    // partition assertion on the hop itself: 10k rows sharing one hot
    // label must NOT all land on the reducer that owns that label's
    // hash — the salt must fan them out. AQE coalescing and broadcast
    // joins are pinned off so the assertion measures the shuffled
    // join's reducer placement, not a small-data special case.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hot = (1L to 10000L).map(i => (i, 1L)).toDF("doc_id", "label")
      def hopPids(salts: Int): Long = LP.labelHop(hot, salts)
        .withColumn("pid", spark_partition_id())
        .select("pid").distinct().count()
      val pids = hopPids(8)
      assert(pids > 1,
        s"hub key still lands on a single partition (pids=$pids)")
      val pids1 = hopPids(1)
      assert(pids1 === 1L, "control: unsalted hop should collapse to " +
        s"one partition, got $pids1 — the assertion above is vacuous")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("component-loop salt trigger law: ccSkewed fires on a hub " +
    "label and stays quiet on uniform labels; auto mode matches the " +
    "explicit forms on the hub fixture") {
    import spark.implicits._
    val LP = graft.queries.LlmPipeline
    // trigger: one label carrying 400/402 of the rows trips the
    // relative bound once the absolute floor is lowered into range
    val hubLabels = ((2L to 400L).map(i => (i, 1L)) ++
      Seq((1L, 1L), (1002L, 1001L), (2002L, 2001L)))
      .toDF("doc_id", "label")
    assert(LP.ccSkewed(hubLabels, minHubRows = 100),
      "hub label did not trip the probe")
    // quiet #1: every label unique — max_c = 1 fails the relative bound
    val uniform = (1L to 1000L).map(i => (i, i)).toDF("doc_id", "label")
    assert(!LP.ccSkewed(uniform, minHubRows = 100),
      "uniform labels tripped the probe")
    // quiet #2: the DEFAULT absolute floor keeps even a 100%-share hub
    // unsalted when it is too small to straggle a task — the guarantee
    // that bench-scale runs never pay the salt fan-out
    assert(!LP.ccSkewed(hubLabels),
      "sub-straggler hub tripped the default floor")
    // auto (default CcAutoSalt) must produce the same labels as both
    // explicit forms on the skewed fixture — the probe changes the
    // shuffle layout mid-loop, never the result
    val hub = (2L to 400L).map(i => (1L, i))
    val pairs = (hub ++ Seq((1001L, 1002L), (2001L, 2002L)))
      .toDF("doc_a", "doc_b")
    val auto = LP.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (2L to 400L).foreach(i => assert(auto(i) === 1L))
    assert(auto(1002L) === 1001L && auto(2002L) === 2001L)
    // and with the floor lowered into unit-test range, the probe FIRES
    // and the loop switches to the salted hop mid-run — the full
    // auto-salting path executes, and the labels are still identical
    val autoSalted = LP.connectedComponents(pairs,
        minHubRows = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(autoSalted === auto,
      "auto-salted loop (probe fired) diverged from the unsalted run")
  }

  test("Generations law under random install/crash sequences: resolve " +
    "NEVER names an incomplete generation, a crash never moves the " +
    "manifest, a successful install always supersedes, the " +
    "immediately-superseded generation always survives one cycle, " +
    "and the root holds at most live + predecessor + in-flight junk") {
    val root = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("genprop").toString,
      "store")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val G = graft.ingest.Generations
    def write(gen: org.apache.hadoop.fs.Path, v: Int): Unit = {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(gen, "data"), true)
      try out.write(s"v$v".getBytes("UTF-8")) finally out.close()
      val done = fs.create(
        new org.apache.hadoop.fs.Path(gen, "COMPLETE"), true)
      done.close()
    }
    def readData(gen: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(new org.apache.hadoop.fs.Path(gen, "data"))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    // op sequence: true = successful install, false = crashed build
    val opsGen = Gen.choose(3, 14)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(true, false)))
    for ((ops, runIdx) <- samples(opsGen, 8, 4200L).zipWithIndex) {
      fs.delete(root, true)
      var liveGen: Option[org.apache.hadoop.fs.Path] = None
      var prevGen: Option[org.apache.hadoop.fs.Path] = None
      var liveContent: Option[String] = None
      var v = 0
      for (ok <- ops) {
        v += 1
        val vNow = v
        if (ok) {
          val installed = G.install(fs, root) { gen =>
            write(gen, vNow)
          }
          prevGen = liveGen
          liveGen = Some(installed)
          liveContent = Some(s"v$vNow")
        } else {
          intercept[RuntimeException] {
            G.install(fs, root) { gen =>
              // a crash can land before OR after partial content
              if (vNow % 2 == 0) write(gen, vNow)
              sys.error("crash")
            }
          }
        }
        // INVARIANTS after every op:
        val resolved = G.resolve(fs, root)
        assert(resolved.map(_.getName) === liveGen.map(_.getName),
          s"run $runIdx ops $ops: manifest moved on a crash or " +
            "missed an install")
        // resolve never names an incomplete generation, and the
        // served content is exactly the LAST SUCCESSFUL install's
        resolved.foreach { g =>
          assert(fs.exists(new org.apache.hadoop.fs.Path(g, "COMPLETE")),
            s"run $runIdx: resolve named an incomplete generation")
          assert(readData(g) === liveContent.get,
            s"run $runIdx: resolved generation served stale or " +
              "partial content")
        }
        // the immediately-superseded generation survives one cycle
        prevGen.foreach { g =>
          assert(fs.exists(g),
            s"run $runIdx: predecessor GC'd in the same cycle")
        }
      }
    }
  }
}
