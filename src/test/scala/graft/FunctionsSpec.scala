package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import graft.functions.Functions

/** Native cosine_sim expression: bit-exactness vs the higher-order
  * function composition it replaces, null semantics, SQL registration,
  * and the SparkSessionExtensions injection path.
  */
class FunctionsSpec extends SparkSuite {

  private def hofCosine = expr(
    "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x) / " +
      "(sqrt(aggregate(transform(a, x -> x * x), 0D, (acc, x) -> acc + x)) * " +
      "sqrt(aggregate(transform(b, x -> x * x), 0D, (acc, x) -> acc + x)))")

  test("cosine_sim is bit-identical to the zip_with/aggregate fold") {
    import spark.implicits._
    Functions.register(spark)
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(64)((
      Array.fill(64)(rnd.nextDouble() * 2 - 1),
      Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
      .select(expr("cosine_sim(a, b)").as("native"), hofCosine.as("hof"))
    val got = df.collect()
    got.foreach { r =>
      // Bit-level equality, not epsilon: same fold order, same doubles.
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("cosine_sim known values + null + degenerate inputs") {
    import spark.implicits._
    Functions.register(spark)
    val df = Seq(
      (Array(1.0, 0.0), Array(0.0, 1.0)), // orthogonal -> 0
      (Array(1.0, 2.0), Array(2.0, 4.0)), // parallel -> 1
      (Array(1.0, 0.0), Array(-1.0, 0.0))) // opposite -> -1
      .toDF("a", "b").select(expr("cosine_sim(a, b)").as("c"))
    assert(df.collect().map(_.getDouble(0)).toSeq
      .zip(Seq(0.0, 1.0, -1.0)).forall { case (g, e) => math.abs(g - e) < 1e-15 })
    val nulls = spark.sql(
      "SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS c")
    assert(nulls.collect().head.isNullAt(0))
    // mismatched lengths -> NULL (zip_with pads with null, sum poisons)
    val mism = spark.sql(
      "SELECT cosine_sim(array(1.0D, 2.0D), array(1.0D)) AS c")
    assert(mism.collect().head.isNullAt(0))
    // null element -> NULL, same reasoning
    val nullElem = spark.sql(
      "SELECT cosine_sim(array(1.0D, CAST(NULL AS DOUBLE)), " +
        "array(1.0D, 2.0D)) AS c")
    assert(nullElem.collect().head.isNullAt(0))
    // zero-norm -> NaN (exactly like the fold-based form)
    val nan = spark.sql(
      "SELECT cosine_sim(array(0.0D, 0.0D), array(1.0D, 1.0D)) AS c")
    assert(nan.collect().head.getDouble(0).isNaN)
  }

  test("type check rejects non-double arrays") {
    Functions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array('x'), array('y'))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("cosine_sim") ||
      e.getMessage.toLowerCase.contains("data type"))
  }

  test("GraftExtensions injects the function builder") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw
    // imperative path is equivalent and already exercised above
    Functions.register(spark)
    assert(spark.sql("SELECT cosine_sim(array(1.0D), array(1.0D)) AS c")
      .collect().head.getDouble(0) === 1.0)
  }

  // === text-signature kernels vs the independent SQL-expression forms ===
  // The kernels (Java MessageDigest + java.util.regex, one pass per row)
  // must be value-identical to the explode-based Spark-SQL pipelines they
  // replaced (md5/conv/regexp_extract_all built-ins + groupBy aggregates)
  // — a genuinely independent computation path over the REAL documents
  // table, so tokenizer, hash widening, and aggregation semantics are all
  // cross-checked, not just round-tripped.

  private def docs = graft.Tables.load(spark, sf, "documents")

  test("minhash_sig matches the explode+groupBy minhash pipeline") {
    Functions.register(spark)
    val ref = SignatureRefs.minhashRef(docs)
    val native = docs
      .select(col("doc_id"), expr("minhash_sig(text)").as("sig"))
      .filter(col("sig").isNotNull)
    val joined = native.join(ref, "doc_id")
    assert(joined.count() === native.count()) // same doc set survives
    assert(joined.filter(col("sig") =!= col("ref_sig")).count() === 0)
  }

  test("simhash60 matches the explode+vote pipeline") {
    Functions.register(spark)
    val native = docs
      .select(col("doc_id"), expr("simhash60(text)").as("sh"))
      .filter(col("sh").isNotNull)
    val joined = native.join(SignatureRefs.simhashRef(docs), "doc_id")
    assert(joined.count() === native.count())
    assert(joined.filter(col("sh") =!= col("ref_sh")).count() === 0)
  }

  test("shingle_hashes matches collect_set of hashed shingles (sorted)") {
    Functions.register(spark)
    val native = docs
      .select(col("doc_id"), expr("shingle_hashes(text)").as("shd"))
      .filter(col("shd").isNotNull)
    val joined = native.join(SignatureRefs.shingleSetRef(docs), "doc_id")
    assert(joined.count() === native.count())
    assert(joined.filter(col("shd") =!= col("ref_shd")).count() === 0)
  }

  test("min_gram_md5 matches the gram-explode min(md5) pipeline") {
    Functions.register(spark)
    val normed = docs.select(col("doc_id"),
      trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("text"))
    val ref = SignatureRefs.fingerprintRef(normed, 8)
    val native = normed.filter(length(col("text")) >= 8)
      .select(col("doc_id"), expr("min_gram_md5(text, 8)").as("fp"))
    val joined = native.join(ref, "doc_id")
    assert(joined.count() === native.count())
    assert(joined.filter(col("fp") =!= col("ref_fp")).count() === 0)
  }

  test("lid_features matches the SQL md5-hash chain it replaces, " +
    "including non-ASCII (code-point) grams and short/null inputs") {
    import spark.implicits._
    Functions.register(spark)
    val dims = graft.queries.LlmPipeline.LangIdDims
    // the marked corpus exercises the zh code-point branch; the SQL
    // reference is LangId's semantic definition over lower(text)
    val marked = graft.queries.LlmPipeline
      .langMarkedOf(docs)
      .unionByName(Seq(
        (100001L, "ab"), (100002L, ""), (100003L, "的大的小的"),
        (100004L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), allowMissingColumns = true)
    val refSql = "array_distinct(transform(" +
      "if(char_length(lower(text)) < 3, " +
      "  cast(array() as array<string>), " +
      "  transform(sequence(1, char_length(lower(text)) - 2, 1), " +
      s"    i -> substring(lower(text), cast(i as int), 3))), " +
      s"t -> cast(conv(substring(md5(t), 1, 4), 16, 10) as bigint) " +
      s"% $dims))"
    val cmp = marked.select(col("doc_id"),
      expr(s"lid_features(text, $dims, 3)").as("native"),
      expr(refSql).as("ref"))
    assert(cmp.filter(col("native").isNull =!= col("ref").isNull)
      .count() === 0)
    assert(cmp.filter(col("native").isNotNull &&
      col("native") =!= col("ref")).count() === 0)
  }

  test("l2_fp matches the aggregate(zip_with(...)) quantized-L2 fold " +
    "it replaces, including null/length-mismatch semantics") {
    import spark.implicits._
    Functions.register(spark)
    val rnd = new scala.util.Random(21)
    // domain = unit-scale embedding/centroid vectors (values where the
    // SQL fold itself is ANSI-safe; an overflowing sum throws in BOTH
    // forms, checked below)
    val rows = Seq.fill(128)((
      Array.fill(64)(rnd.nextDouble() * 2 - 1),
      Array.fill(64)(rnd.nextDouble() * 2 - 1))) ++
      Seq((Array(1e3, -1e3, 0.33), Array(-1e3, 1e3, 0.999)))
    val foldSql = "aggregate(zip_with(a, b, (x, y) -> " +
      "cast(floor(((x - y) * (x - y)) * 1000000000000d) as bigint)), " +
      "0L, (acc, d) -> acc + d)"
    val got = rows.toDF("a", "b")
      .select(expr("l2_fp(a, b)").as("native"), expr(foldSql).as("ref"))
      .collect()
    got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // null array, length mismatch, null element -> null, like the fold
    val edge = Seq(
      (null.asInstanceOf[Seq[Double]], Seq(1.0)),
      (Seq(1.0, 2.0), Seq(1.0)),
      (Seq(1.0, Double.NaN), Seq(1.0, 2.0))) // NaN floors to 0, non-null
      .toDF("a", "b")
      .select(expr("l2_fp(a, b)").as("native"), expr(foldSql).as("ref"))
      .collect()
    edge.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1))
    }
    // each element 6.25e18 (below the per-element saturation), the sum
    // past 2^63: the ANSI fold raises, and so must the kernel
    val over = Seq((Array(1250.0, 1250.0), Array(-1250.0, -1250.0)))
      .toDF("a", "b")
    for (e <- Seq("l2_fp(a, b)", foldSql)) overflows(over, e)
  }

  /** `e` over `df` throws an ArithmeticException on both evaluation
    * paths: a projection over a local relation may be folded by the
    * optimizer (interpreted), one over a shuffle runs in whole-stage
    * codegen.
    */
  private def overflows(df: org.apache.spark.sql.DataFrame,
      e: String): Unit =
    for (d <- Seq(df, df.repartition(1))) {
      val ex = intercept[Exception](d.select(expr(e)).collect())
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]),
        s"$e: expected a long overflow, got $ex")
    }

  test("pq_codes matches the transform/array_min struct composition " +
    "it replaces, including null/short/long-vector, null-element and " +
    "tie semantics") {
    import spark.implicits._
    Functions.register(spark)
    val rnd = new scala.util.Random(22)
    val m = 4; val d = 4
    val codes: Seq[Seq[Long]] =
      Seq(Seq(2L, 5L, 9L), Seq(7L), Seq(0L, 1L, 2L, 3L), Seq(4L, 8L))
    val cvs0: Seq[Seq[Seq[Double]]] =
      codes.map(cs => cs.map(_ => Seq.fill(d)(rnd.nextDouble() * 2 - 1)))
    // plant a distance tie: subspace 2's codes 1 and 2 share a centroid
    // (argmin must break on the lower code, both forms)
    val cvs = cvs0.updated(2, cvs0(2).updated(2, cvs0(2)(1)))
    def dlit(x: Double): String = java.lang.Double.toString(x) + "D"
    val cbcSql = codes
      .map(cs => cs.map(c => s"${c}L").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val cbvSql = cvs
      .map(sv => sv.map(cv => cv.map(dlit).mkString("array(", ",", ")"))
        .mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val base = Seq.fill(64)(Seq.fill(m * d)(rnd.nextDouble() * 2 - 1))
      .toDF("v")
      // edges: null vector, empty, short (partial subspace), long
      .unionByName(Seq(null.asInstanceOf[Seq[Double]], Seq.empty[Double],
        Seq.fill(5)(0.1), Seq.fill(m * d + 4)(0.2)).toDF("v"))
      // a null ELEMENT poisons only its own subspace's distances
      .unionByName(spark.range(1).selectExpr(
        "array(0.1D, cast(null as double), 0.3D, 0.4D, 0.5D, 0.6D, " +
          "0.7D, 0.8D, 0.9D, 1.0D, 1.1D, 1.2D, 1.3D, 1.4D, 1.5D, 1.6D)" +
          " as v"))
    val refSql =
      s"""transform(sequence(0, ${m - 1}), s ->
         |  array_min(transform(
         |    sequence(1, size(element_at(__cbc, s + 1))), j ->
         |    struct(
         |      l2_fp(slice(v, s * $d + 1, $d),
         |        element_at(element_at(__cbv, s + 1), j)) as dist_fp,
         |      element_at(element_at(__cbc, s + 1), j) as code))))
         |""".stripMargin
    val cmp = base
      .withColumn("__cbc", typedLit(codes))
      .withColumn("__cbv", typedLit(cvs))
      .select(expr(s"pq_codes(v, $cbvSql, $cbcSql, $d)").as("native"),
        expr(refSql).as("ref"))
    assert(cmp.filter(!(col("native") <=> col("ref"))).count() === 0)
  }

  test("gopher_stats matches the four-traversal SQL chain it " +
    "replaces (length fold, alpha regex, distinct count) on the " +
    "real corpus plus adversarial tokens") {
    import spark.implicits._
    Functions.register(spark)
    val edge = Seq(
      (900001L, Seq("abc", "abc", "a1b", "_x", "", "ümläut", "zz")),
      (900002L, Seq("onlyalpha")),
      (900003L, Seq("42", "_", "a")))
      .toDF("doc_id", "toks")
    val base = docs.selectExpr("doc_id", "word_toks(text) AS toks")
      .filter(size(col("toks")) >= 1)
      .unionByName(edge)
    val cmp = base.select(
      expr("gopher_stats(toks)").as("g"),
      size(col("toks")).cast("long").as("r_n"),
      expr("cast(aggregate(transform(toks, x -> length(x)), 0, " +
        "(a, x) -> a + x) as long)").as("r_len"),
      expr("cast(size(filter(toks, x -> x rlike '^[a-z]+$')) as long)")
        .as("r_alpha"),
      size(array_distinct(col("toks"))).cast("long").as("r_dist"))
    assert(cmp.filter(
      col("g.n_tokens") =!= col("r_n") ||
      col("g.len_sum") =!= col("r_len") ||
      col("g.n_alpha") =!= col("r_alpha") ||
      col("g.n_distinct") =!= col("r_dist")).count() === 0)
  }

  test("word_toks matches regexp_extract_all(lower(text), '\\w+', 0) " +
    "on the real corpus and adversarial unicode") {
    import spark.implicits._
    Functions.register(spark)
    val edge = Seq(
      (900001L, "Hello, WORLD_42! naïve café 中文 test"),
      (900002L, ""),
      (900003L, "   \t\n  "),
      (900004L, null.asInstanceOf[String]),
      (900005L, "İstanbul STRASSE ß ﬀ a_b_c 1e9"),
      (900006L, "__ __x 9"),
      (900007L, "中文の間にwordが挟まる"))
      .toDF("doc_id", "text")
    val cmp = docs.select(col("doc_id"), col("text"))
      .unionByName(edge)
      .select(
        expr("word_toks(text)").as("native"),
        expr("regexp_extract_all(lower(text), '\\\\w+', 0)").as("ref"))
    assert(cmp.filter(col("native").isNull =!= col("ref").isNull)
      .count() === 0)
    assert(cmp.filter(col("native").isNotNull &&
      col("native") =!= col("ref")).count() === 0)
  }

  test("tok_bigram_counts equals the zip_with explode + " +
    "(doc_id, w1, w2) groupBy row multiset on the real corpus") {
    Functions.register(spark)
    val base = docs.selectExpr("doc_id",
      "regexp_extract_all(lower(text), '\\\\w+', 0) AS toks")
      .filter(size(col("toks")) >= 2)
    val ref = base.select(col("doc_id"), explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), " +
          "slice(toks, 2, size(toks) - 1), " +
          "(a, b) -> named_struct('w1', a, 'w2', b))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"),
        col("bg.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("n_occ"))
    val got = base.select(col("doc_id"),
        explode(expr("tok_bigram_counts(toks)")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"),
        col("bg.w2").as("w2"), col("bg.n_occ").as("n_occ"))
    assert(got.exceptAll(ref).count() === 0)
    assert(ref.exceptAll(got).count() === 0)
    assert(got.count() === ref.count())
  }

  test("dot_fp matches the aggregate(zip_with(...)) fixed-point dot " +
    "fold it replaces at both house scales (1e6, 1e12)") {
    import spark.implicits._
    Functions.register(spark)
    val rnd = new scala.util.Random(89)
    val rows = Seq.fill(128)((
      Array.fill(64)(rnd.nextDouble() * 2 - 1),
      Array.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0)))
    for (scale <- Seq("1000000d", "1000000000000d")) {
      val foldSql = s"aggregate(zip_with(a, b, (x, y) -> " +
        s"cast(floor((x * y) * $scale) as bigint)), " +
        "0L, (acc, d) -> acc + d)"
      val got = rows.toDF("a", "b")
        .select(expr(s"dot_fp(a, b, $scale)").as("native"),
          expr(foldSql).as("ref"))
        .collect()
      got.foreach(r => assert(r.getLong(0) === r.getLong(1)))
      // each element 6.25e18 at this scale, the sum past 2^63: both
      // forms throw
      val v = math.sqrt(6.25e18 / scale.stripSuffix("d").toDouble)
      overflows(Seq((Array(v, v), Array(v, v))).toDF("a", "b"),
        s"dot_fp(a, b, $scale)")
      overflows(Seq((Array(v, v), Array(v, v))).toDF("a", "b"), foldSql)
    }
    val edge = Seq(
      (null.asInstanceOf[Seq[Double]], Seq(1.0)),
      (Seq(1.0, 2.0), Seq(1.0)))
      .toDF("a", "b")
      .select(expr("dot_fp(a, b, 1000000d)").as("native"))
      .collect()
    edge.foreach(r => assert(r.isNullAt(0)))
  }

  test("tok_fids matches the SQL md5-hash chain it replaces, " +
    "including null arrays, null elements, unicode tokens and dedup " +
    "order") {
    import spark.implicits._
    Functions.register(spark)
    val dims = 512
    // real corpus token arrays + adversarial hand-built ones
    val corpus = docs.selectExpr("doc_id",
      "regexp_extract_all(lower(text), '\\\\w+', 0) AS toks")
    val edge = Seq(
      (900001L, Seq("a", "b", "a", "b", "a")),     // dedup order
      (900002L, Seq.empty[String]),                // empty array
      (900003L, Seq("的", "naïve", "…", "", "的")), // unicode + empty tok
      (900004L, null.asInstanceOf[Seq[String]]),   // null array
      (900005L, Seq("x", null, "x", null)))        // null elements
      .toDF("doc_id", "toks")
    val refSql = "array_distinct(transform(toks, t -> " +
      s"cast(conv(substring(md5(t), 1, 4), 16, 10) as bigint) % $dims))"
    val cmp = corpus.unionByName(edge)
      .select(col("doc_id"),
        expr(s"tok_fids(toks, $dims)").as("native"),
        expr(refSql).as("ref"))
    assert(cmp.filter(col("native").isNull =!= col("ref").isNull)
      .count() === 0)
    assert(cmp.filter(col("native").isNotNull &&
      !(col("native") <=> col("ref"))).count() === 0)
  }

  test("text-signature kernels: null and too-short-input semantics") {
    import spark.implicits._
    Functions.register(spark)
    val df = Seq(
      (1L, "only two"),          // 2 tokens: no shingles
      (2L, ""),                  // no tokens at all
      (3L, "three word doc"),    // exactly one shingle
      (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .selectExpr("id", "minhash_sig(text) AS mh", "simhash60(text) AS sh",
        "shingle_hashes(text) AS shd", "min_gram_md5(text, 8) AS fp")
      .orderBy("id").collect()
    assert(df(0).isNullAt(1) && df(0).isNullAt(3)) // <3 tokens: no minhash
    assert(!df(0).isNullAt(2)) // but simhash exists (has tokens)
    assert(!df(0).isNullAt(4)) // "only two" has 8 chars
    assert(df(1).isNullAt(1) && df(1).isNullAt(2) && df(1).isNullAt(3) &&
      df(1).isNullAt(4)) // empty text: everything null
    assert(!df(2).isNullAt(1) && !df(2).isNullAt(3))
    assert(df(2).getSeq[Long](3).length === 1) // one distinct shingle
    assert(df(3).isNullAt(1) && df(3).isNullAt(2) && df(3).isNullAt(3) &&
      df(3).isNullAt(4)) // null text propagates
  }

  test("strip_accents: folds Latin accents, passes ASCII through " +
    "untouched, keeps non-decomposable letters, null-safe") {
    import spark.implicits._
    Functions.register(spark)
    def fold(s: String): String =
      Seq(Tuple1(s)).toDF("t")
        .select(expr("strip_accents(t)")).collect()(0).getString(0)
    assert(fold("café señor naïve àèìòù ÂÊÎÔÛ") ===
      "cafe senor naive aeiou AEIOU")
    // composed (NFC) and decomposed (NFD) spellings collapse to one key
    assert(fold("caf\u00e9") === fold("cafe\u0301"))
    // no decomposition → unchanged (DuckDB strip_accents agrees)
    assert(fold("straße Ærø") === "straße Ærø")
    val ascii = "plain ascii text 123"
    assert(fold(ascii) === ascii)
    // null in, null out (UnaryExpression null propagation)
    val r = Seq(Tuple1(Option.empty[String])).toDF("t")
      .select(expr("strip_accents(t)")).collect()(0)
    assert(r.isNullAt(0))
    // the kernel is a real codegen expression, not a fallback: the
    // projection carries the whole-stage-codegen star over the scan
    val d = Tables.load(spark, sf, "documents")
      .select(expr("strip_accents(text)").as("f"))
    val planStr = d.queryExecution.executedPlan.toString
    assert(planStr.contains("*(1) Project [strip_accents"), planStr)
    assert(d.count() > 0)
  }

  test("min_gram_md5 rejects a non-literal gram length") {
    Functions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT min_gram_md5('abcdefgh', id) FROM range(1)")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal") ||
      e.getMessage.toLowerCase.contains("min_gram_md5"))
  }

  test("quantize_i8 is bit-identical to the HOF quantization pipeline") {
    import spark.implicits._
    Functions.register(spark)
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(64)(Array.fill(64)(rnd.nextDouble() * 2 - 1)) ++
      Seq(Array.fill(64)(0.0), // all-zero: scale 0, codes 0
        Array(0.5), Array.empty[Double]) // single element; empty
    val df = vecs.toDF("v")
      .select(col("v"), expr("quantize_i8(v)").as("q"),
        expr("array_max(transform(v, x -> abs(x))) / 127.0d").as("scale"))
      .withColumn("codes", expr(
        "transform(v, x -> cast(if(scale = 0.0d, 0L, " +
          "floor(x / scale + 0.5d)) as bigint))"))
      .select(col("q"), col("scale"),
        expr("cast(aggregate(codes, 0L, (a, c) -> a + c) as bigint)")
          .as("code_sum"),
        expr("array_max(transform(codes, c -> abs(c)))").as("code_max"),
        expr("array_max(zip_with(v, codes, " +
          "(x, c) -> abs(x - cast(c as double) * scale)))")
          .as("max_abs_err"))
    df.collect().foreach { r =>
      val q = r.getStruct(0)
      def bitsEq(a: Double, b: Double) =
        java.lang.Double.doubleToLongBits(a) ===
          java.lang.Double.doubleToLongBits(b)
      if (r.isNullAt(1)) assert(q.isNullAt(0)) // empty: null scale
      else assert(bitsEq(q.getDouble(0), r.getDouble(1)))
      assert(q.getLong(1) === r.getLong(2)) // code_sum (0 when empty)
      if (r.isNullAt(3)) assert(q.isNullAt(2))
      else assert(q.getLong(2) === r.getLong(3))
      if (r.isNullAt(4)) assert(q.isNullAt(3))
      else assert(bitsEq(q.getDouble(3), r.getDouble(4)))
    }
  }

  test("bloom_probe: shard router matches pmod(hash), probe is " +
    "bit-identical to a direct per-shard filter probe, null -> false") {
    import spark.implicits._
    import graft.functions.BloomShards
    Functions.register(spark)
    val s = 16
    val rnd = new scala.util.Random(11)
    val hashes = Seq.fill(400)(
      java.lang.Long.toHexString(rnd.nextLong())).distinct
    // 1. the JVM shard router and the DF pmod(hash(), s) used by the
    // build are bit-identical (same Murmur3 seed over UTF-8 bytes) —
    // the structural precondition the whole sharded design rests on
    hashes.toDF("h")
      .select(col("h"), pmod(hash(col("h")), lit(s)).as("s"))
      .collect().foreach { r =>
        assert(r.getInt(1) === BloomShards.shardOf(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            r.getString(0)), s))
      }
    // 2. build a sharded set over half the hashes; the expression's
    // answer equals a driver-side probe of the SAME shard files with
    // the old UDF's mightContainString — bit parity with the UDF form
    val dir = java.nio.file.Files.createTempDirectory("bloomshards")
      .toString
    val (recorded, fresh) = hashes.splitAt(hashes.size / 2)
    assert(BloomShards.build(recorded.toDF("h"), "h", dir, s, 0.01)
      === recorded.size.toLong)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val shardFilters = (0 until s).map { sid =>
      val p = new org.apache.hadoop.fs.Path(dir,
        BloomShards.shardFileName(sid))
      sid -> (if (!fs.exists(p)) None else {
        val in = fs.open(p)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      })
    }.toMap
    def direct(h: String): Boolean = {
      val sid = BloomShards.shardOf(
        org.apache.spark.unsafe.types.UTF8String.fromString(h), s)
      shardFilters(sid).exists(_.mightContainString(h))
    }
    val got = (recorded ++ fresh).toDF("h")
      .select(col("h"),
        call_function("bloom_probe", col("h"), lit(dir), lit(s)).as("p"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1))
    got.foreach { case (h, p) => assert(p === direct(h), s"hash $h") }
    // recorded hashes can never miss; fresh ones mostly do (fpp 1%)
    recorded.foreach(h => assert(direct(h)))
    assert(fresh.count(direct) <= math.max(2, fresh.size / 10))
    // 3. null input is false, not null (the UDF's null semantics)
    val np = Seq[Option[String]](None).toDF("h")
      .select(call_function("bloom_probe", col("h"), lit(dir), lit(s))
        .as("p")).collect()
    assert(!np.head.isNullAt(0) && !np.head.getBoolean(0))
    // 4. a complete build writes a filter file for EVERY shard — empty
    // shards included — so a probe of an existing-but-empty shard is a
    // definite false, and a MISSING file can only mean the generation
    // vanished
    (0 until s).foreach { sid =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(dir,
        BloomShards.shardFileName(sid))), s"shard $sid file missing")
    }
  }

  test("bloom_probe: a vanished generation (missing shard file) " +
    "answers maybe-contained, never 'definitely new'") {
    import graft.functions.BloomShards
    // empty directory = every shard file missing = the state a reader
    // sees when a rebuild's GC deleted its resolved generation
    val gone = java.nio.file.Files.createTempDirectory("bloomgone")
      .toString
    val h = org.apache.spark.unsafe.types.UTF8String.fromString("abc123")
    assert(BloomShards.mightContain(gone, 8, h),
      "missing shard file must be maybe-contained (true) — false " +
        "would admit a duplicate as definitely-new mid-rebuild")
    assert(!BloomShards.mightContain(gone, 8, null),
      "null hash stays false regardless")
  }

  test("bloom auto-sizing: autoShards floors at 32 and scales " +
    "linearly with store rows toward the per-shard byte target") {
    import graft.functions.BloomShards
    // small stores keep the historical 32-shard layout
    assert(BloomShards.autoShards(0L, 0.01) === 32)
    assert(BloomShards.autoShards(1000L, 0.01) === 32)
    assert(BloomShards.autoShards(1000000L, 0.01) === 32)
    // ~1.2 B/hash at 1% fpp: 64e9 rows ≈ 76.6 GB of filter → ~400
    // shards of ~192 MB each — far past the floor, linear in rows
    val big = BloomShards.autoShards(64000000000L, 0.01)
    assert(big > 350 && big < 450, s"got $big")
    val doubled = BloomShards.autoShards(128000000000L, 0.01)
    assert(math.abs(doubled - 2 * big) <= 2, s"$big -> $doubled")
    // tighter fpp spends more bits → more shards for the same rows
    assert(BloomShards.autoShards(64000000000L, 0.001) > big)
    // the test hook: a tiny target forces multi-shard even on small
    // stores (10k rows ≈ 12 kB of filter / 100 B target → 120 shards)
    assert(BloomShards.autoShards(10000L, 0.01, targetBytes = 100L) > 32)
  }

  test("ulm_seg_stats / ulm_pieces match the nested-aggregate SQL " +
    "Viterbi composition they replace, on real corpus words plus " +
    "unicode, tie, escaping and empty/null edges") {
    import spark.implicits._
    Functions.register(spark)
    // tie-inducing vocab ("aaa" = a+aa = aa+a, same score and piece
    // count — the cut tiebreak must pick the LONGER final piece in
    // both forms), multi-byte pieces (2-byte ü), SQL-escaping hazards
    // (quote, backslash) and low scores that force the unk fallback
    // (min − 1) into play on real corpus words
    val vocab = Seq(
      "a" -> 2L, "aa" -> 4L, "b" -> 1L, "ab" -> 5L, "ba" -> 3L,
      "the" -> 7L, "th" -> 3L, "e" -> 1L, "in" -> 4L, "i" -> 1L,
      "n" -> 1L, "ü" -> 2L, "üü" -> 5L, "'" -> 2L, "\\" -> 2L,
      "s" -> 1L, "t" -> 1L, "er" -> 3L, "o" -> 1L, "r" -> 1L)
    val maxLen = 3
    val edge = Seq("", "aaa", "aaaa", "abab", "üüü", "x🙂a", "🙂",
      "zzz", "a'b", "a\\b", "theine", "qqq'ü\\")
      .toDF("word")
      .unionByName(Seq(Option.empty[String]).toDF("word"))
    val words = docs
      .selectExpr("explode(word_toks(text)) AS word")
      .distinct().limit(512)
      .unionByName(edge)
    val (best, piecesSql) =
      ParityRefs.viterbiExprs("word", vocab, maxLen)
    val ps = vocab.map(p => "'" + p._1.replace("\\", "\\\\")
      .replace("'", "\\'") + "'").mkString("array(", ", ", ")")
    val ss = vocab.map(p => s"${p._2}L").mkString("array(", ", ", ")")
    val cmp = words
      .select(col("word"), explode(array(expr(best))).as("__ulm_best"))
      .withColumn("ref_s",
        expr("element_at(__ulm_best, char_length(word) + 1).s"))
      .withColumn("ref_np",
        expr("element_at(__ulm_best, char_length(word) + 1).np"))
      .withColumn("ref_pieces", expr(piecesSql))
      .withColumn("nat_st",
        expr(s"ulm_seg_stats(word, $ps, $ss, $maxLen)"))
      .withColumn("nat_pieces",
        expr(s"ulm_pieces(word, $ps, $ss, $maxLen)"))
    val bad = cmp.filter(
      !(col("nat_st.s") <=> col("ref_s")) ||
        !(col("nat_st.np") <=> col("ref_np")) ||
        !(col("nat_pieces") <=> col("ref_pieces")))
    assert(bad.count() === 0,
      bad.select("word", "ref_s", "ref_np", "ref_pieces", "nat_st",
        "nat_pieces").take(5).mkString("\n"))
    // the null word is present and BOTH forms null it
    val nullRow = cmp.filter(col("word").isNull)
      .select("ref_s", "nat_st", "nat_pieces").collect()
    assert(nullRow.length === 1 && nullRow.head.isNullAt(0) &&
      nullRow.head.isNullAt(1) && nullRow.head.isNullAt(2))
  }

  test("mc_stats: the kernel report matches the SQL HOF chain on " +
    "real framed pages plus adversarial markup, unicode, whitespace " +
    "and smoothing edges") {
    import graft.operators.MainContent
    import spark.implicits._
    Functions.register(spark)
    val prose = "the quick brown fox jumps over the lazy dog again " +
      "and again to the delight of all"
    val near = "the story of a dog" // 5 toks, 3 stop -> NEAR
    val edge = Seq(
      // anchors: attribute-free, attributed, uppercase (no match),
      // nested <a>, unmatched, empty tag, group-2 truncation at '<'
      s"<div><a>home page</a> <a href='/x'>x</a></div>\n$prose",
      s"<A>upper</A> <a><a>inner</a>\n$prose\n<a>x<b>y</a>",
      // '<>' stays literal; unmatched '<' stays; '<a' alone
      s"a<>b < c <a\n$prose",
      // whitespace zoo: tab, CR, VT, FF, NBSP (kept), runs
      s"x\t\ty\r z\f  w v\n$prose",
      // emoji (surrogate pair) in anchor text and in line; ü tokens
      s"<a>🙂🙂</a> pre\n$prose 🙂 " +
        "ümläut",
      // smoothing: NEAR between two CONTENT lines (kept), NEAR at
      // line 0 (dropped), NEAR next to boilerplate (dropped)
      s"$prose\n$near\n$prose",
      s"$near\n$prose",
      s"$prose\n$near\nnav nav",
      // link-density boilerplate with text; stopword case variants
      "<a>abcdefghij</a> xy",
      s"The THE tHe of OF to a AND and\n$prose",
      // empty / all-ws / trailing-newline / '_' and digit tokens
      "", " \t ", s"$prose\n", "a_1 b_2 c3 4d _ 5 six seven eight")
      .zipWithIndex.map { case (t, i) => (900000L + i, t) }
      .toDF("doc_id", "page")
      .unionByName(Seq((999999L, null.asInstanceOf[String]))
        .toDF("doc_id", "page"))
    val framed = docs.select(col("doc_id"), concat(
      lit("<div class=\"nav\"><a href=\"/\">home</a> | " +
        "<a href=\"/about\">about</a></div>\n"),
      col("text"), lit("\nthe story of the day is a good one to " +
        "read and share\n<footer>© 2026 <a>corp</a></footer>"))
      .as("page"))
      .unionByName(edge)
    val ref = MainContent.reportSql(framed, "page")
    val nat = MainContent.report(framed, "page")
    val cols = ref.columns.toSeq
    val joined = ref.as("r").join(nat.as("n"), Seq("doc_id"), "full")
    val bad = joined.filter(cols.filter(_ != "doc_id").map(c =>
      !(col(s"r.$c") <=> col(s"n.$c"))).reduce(_ || _))
    assert(bad.count() === 0, bad.take(3).mkString("\n"))
    assert(ref.count() === framed.count())
    // at least one NEAR line survived smoothing somewhere (the rule
    // is exercised, not vacuous)
    val smoothed = nat.filter(col("doc_id") === 900005L)
      .select("content").head.getString(0)
    assert(smoothed.contains(near))
  }

  test("cdc_chunk_strs matches the per-position md5 boundary + " +
    "slice-join SQL chain on the real corpus plus boundary-position " +
    "edges") {
    import spark.implicits._
    Functions.register(spark)
    // edges: exactly 3 tokens (single gram decides), a doc whose LAST
    // gram is a boundary vs one whose isn't, a one-token-insertion
    // shifted twin (the FastCDC realignment property the operator
    // plants), long runs of identical tokens
    val edge = Seq(
      (910001L, "alpha beta gamma"),
      (910002L, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
      (910003L, "zz " + Seq.fill(40)("tok").mkString(" ")),
      (910004L, Seq.fill(40)("tok").mkString(" ")),
      (910005L, (1 to 64).map(i => s"w$i").mkString(" ")),
      (910006L, "inserted " + (1 to 64).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val base = docs.select("doc_id", "text").unionByName(edge)
    val ref = graft.queries.LlmPipeline.cdcChunkStrsSqlRef(base)
    val nat = base
      .selectExpr("doc_id", s"word_toks(text) AS toks")
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        expr("cdc_chunk_strs(toks)").as("nat_strs"))
    val joined = ref.join(nat, Seq("doc_id"), "full")
    assert(joined.filter(!(col("chunk_strs") <=> col("nat_strs")))
      .count() === 0)
    assert(ref.count() === nat.count() && ref.count() > 0)
    // at least one multi-chunk doc (boundaries actually fire)
    assert(nat.filter(size(col("nat_strs")) >= 2).count() > 0)
  }
}
