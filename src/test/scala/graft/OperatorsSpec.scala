package graft

import org.apache.spark.sql.functions._

/** Gates for the standalone library operators (graft.operators) whose
  * correctness is defined against an independent in-memory reference
  * implementation rather than the DuckDB oracle (iterative algorithms
  * whose unrolled SQL would be the same code in another syntax).
  */
class OperatorsSpec extends SparkSuite {

  /** Reference greedy left-to-right BPE merge — the semantics
    * Bpe.mergeExpr must match ("aaa" + (a,a) → ["aa","a"]).
    */
  private def refApply(syms: Vector[String], a: String,
      b: String): Vector[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (s <- syms) {
      if (out.nonEmpty && out.last == a && s == b)
        out(out.length - 1) = a + b
      else out += s
    }
    out.toVector
  }

  /** Reference BPE trainer over an in-memory word-freq map, with the
    * identical (count desc, pair lexicographic) tie-break.
    */
  private def refTrain(freq: Map[String, Long],
      n: Int): Seq[(String, String)] = {
    var vocab: Seq[(Vector[String], Long)] =
      freq.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.size < n) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) continue = false
      else {
        val ((a, b), c) = counts.toSeq
          .minBy { case ((x, y), m) => (-m, x, y) }
        if (c < 2) continue = false
        else {
          merges += ((a, b))
          vocab = vocab.map { case (s, f) => (refApply(s, a, b), f) }
        }
      }
    }
    merges.toSeq
  }

  // ── independent in-memory unigram-LM reference (the Bpe refTrain
  // pattern): seed substring counts, ilog2 scores, Viterbi with the
  // (score desc, fewer pieces, longest-final-piece) total order, hard
  // EM recount + top-K + char-coverage reselection. No Spark.
  private def ulmIlog2(x: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(x)
  private def ulmScore(counts: Map[String, Long]): Map[String, Long] = {
    val t = counts.values.sum + counts.size
    counts.map { case (p, n) => p -> (ulmIlog2(n + 1) - ulmIlog2(t)) }
  }
  private def ulmSeed(freq: Map[String, Long],
      maxLen: Int): Map[String, Long] = {
    val m = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- freq; i <- 0 until w.length;
         l <- 1 to math.min(maxLen, w.length - i)) {
      val p = w.substring(i, i + l)
      m(p) = m.getOrElse(p, 0L) + f
    }
    m.toMap
  }
  private def ulmSelect(counts: Map[String, Long],
      maxVocab: Int): Map[String, Long] = {
    val top = counts.toSeq.sortBy { case (p, n) => (-n, p) }
      .take(maxVocab)
    (top ++ counts.filter(_._1.length == 1)).toMap
  }
  private def ulmViterbi(w: String, score: Map[String, Long],
      maxLen: Int): Vector[String] = {
    val unk = score.values.min - 1
    // best(i) = (score, nPieces, cut) for prefix length i
    val best = new Array[(Long, Long, Int)](w.length + 1)
    best(0) = (0L, 0L, 0)
    for (i <- 1 to w.length) {
      var b: (Long, Long, Int) = null
      for (j <- math.max(1, i - maxLen + 1) to i) {
        val piece = w.substring(j - 1, i)
        val sc: Option[Long] = score.get(piece)
          .orElse(if (i == j) Some(unk) else None)
        sc.foreach { s =>
          val cand = (best(j - 1)._1 + s, best(j - 1)._2 + 1, j - 1)
          if (b == null || cand._1 > b._1 ||
              (cand._1 == b._1 && cand._2 < b._2) ||
              (cand._1 == b._1 && cand._2 == b._2 && cand._3 < b._3))
            b = cand
        }
      }
      best(i) = b
    }
    var pos = w.length
    var out = List.empty[String]
    while (pos > 0) {
      val cut = best(pos)._3
      out = w.substring(cut, pos) :: out
      pos = cut
    }
    out.toVector
  }
  private def ulmRefTrain(freq: Map[String, Long], maxLen: Int,
      maxVocab: Int, emRounds: Int): Seq[(String, Long)] = {
    var vocab = ulmScore(ulmSelect(ulmSeed(freq, maxLen), maxVocab))
    for (_ <- 1 to emRounds) {
      val m = scala.collection.mutable.Map.empty[String, Long]
      for ((w, f) <- freq; p <- ulmViterbi(w, vocab, maxLen))
        m(p) = m.getOrElse(p, 0L) + f
      vocab = ulmScore(ulmSelect(m.toMap, maxVocab))
    }
    vocab.toSeq.sortBy(_._1)
  }

  test("unigram-LM training matches the in-memory reference " +
    "round-for-round (hard EM in ilog2 fixed point), Viterbi encode " +
    "segments exactly, and pieces reconstruct every word") {
    val docs = Tables.load(spark, sf, "documents")
    val freq = graft.operators.Bpe.wordFreq(docs, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (maxLen, maxVocab) = (4, 128)
    // seed round alone (emRounds = 0), then the EM rounds
    assert(graft.operators.Ulm.train(docs, "text", maxLen, maxVocab,
      emRounds = 0) === ulmRefTrain(freq, maxLen, maxVocab, 0),
      "seed vocabulary diverged from the reference")
    val got = graft.operators.Ulm.train(docs, "text", maxLen, maxVocab,
      emRounds = 2)
    val want = ulmRefTrain(freq, maxLen, maxVocab, 2)
    assert(got === want, "EM rounds diverged from the reference")
    // EM must actually prune/refine: the trained vocab differs from
    // the seed (otherwise the loop is a no-op on this corpus)
    assert(got !== ulmRefTrain(freq, maxLen, maxVocab, 0),
      "fixture lost discrimination: EM changed nothing")
    // encode: Viterbi under the trained scores, exactly; pieces
    // reconstruct the word; unseen characters ride the unk fallback
    import spark.implicits._
    val vocabMap = got.toMap
    val sample = freq.keys.toSeq.sorted.take(50) :+ "zzqxj7"
    val enc = graft.operators.Ulm
      .segment(sample.toDF("word"), "word", got, maxLen)
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    for (w <- sample) {
      assert(enc(w) === ulmViterbi(w, vocabMap, maxLen), s"word $w")
      assert(enc(w).mkString === w, s"pieces must reconstruct $w")
    }
    // corpus-scale encodeDocs: per-document pieces concatenate to the
    // document's own lowercase token stream
    val sub = docs.limit(10)
    val flat = graft.operators.Ulm.encodeDocs(sub, "text", got, maxLen)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).mkString)
      .toMap
    val toks = sub.select(col("doc_id"), expr(
        "array_join(regexp_extract_all(lower(text), '\\\\w+', 0), '')"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, s) <- toks)
      assert(flat.getOrElse(id, "") === s, s"doc $id reconstruction")
  }

  test("ULM segment guards the empty word (public entry point): no " +
    "illegal-sequence-boundaries error, empty pieces, siblings exact") {
    import spark.implicits._
    val vocab = Seq(("a", -1L), ("b", -2L))
    val out = graft.operators.Ulm
      .segment(Seq("", "ab", "a").toDF("word"), "word", vocab, 4)
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    assert(out("") === Vector.empty, "empty word must segment to nothing")
    assert(out("ab") === Vector("a", "b"))
    assert(out("a") === Vector("a"))
  }

  test("learned language-ID: one-pass multiclass train equals K " +
    "independent QualityModel one-vs-rest trains bit for bit; the " +
    "literal map-only scorer equals the join scorer; the marked " +
    "corpus classifies with a dominant diagonal; empty text is safe") {
    import graft.operators.{LangId, QualityModel}
    val dims = graft.queries.LlmPipeline.LangIdDims
    val docs = graft.queries.LlmPipeline
      .langMarkedOf(Tables.load(spark, sf, "documents"))
      .select("doc_id", "text", "lang")
    val model = LangId.train(docs, "text", "lang", dims)
      .transform(graft.operators.Exec.materialize)
    try {
      // (a) the one-pass grid IS K binary models: for every language,
      // QualityModel.train over the same ngram features produces the
      // same (fid, n_pos, n_neg, weight_fp) rows exactly
      val withNgrams = docs.withColumn("ngrams",
        expr(ParityRefs.ngramsSql("text", 3)))
      val langs = docs.select("lang").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      for (l <- langs) {
        val binary = QualityModel.train(
            withNgrams.withColumn("y", col("lang") === lit(l)),
            "ngrams", "y", dims)
          .select("fid", "n_pos", "n_neg", "weight_fp")
          .collect().map(_.toSeq).toSet
        val slice = model.filter(col("lang") === l)
          .select("fid", "n_pos", "n_neg", "weight_fp")
          .collect().map(_.toSeq).toSet
        assert(slice === binary, s"one-vs-rest drift for lang $l")
      }
      // (b) literal serving ≡ join scoring, doc for doc — prediction
      // AND the no-confidence spread
      val dense = LangId.collectModels(model, dims)
      val lit_ = LangId.predictLiteral(docs, "text", dense, dims)
        .select("doc_id", "pred_lang", "pred_spread")
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val join = LangId.predict(docs, "text", model, dims)
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(lit_ === join, "literal scorer drifted from the join form")
      // (b') r21 shared-scan serving: predictFromFeats over the very
      // frame the grid was trained on (its domain contract) equals
      // the join scorer doc for doc — prediction AND spread
      val feats = LangId.featurize(docs, "text", dims)
      val fromFeats = LangId.predictFromFeats(feats, model)
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(fromFeats === join,
        "shared-scan scorer drifted from the join form")
      // (c) the planted signal is recovered: train-set accuracy on the
      // marked corpus clears 0.8 (measured 0.90 at sf0.001)
      val truth = docs.select("doc_id", "lang")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val correct = lit_.count { case (id, (p, _)) => truth(id) == p }
      assert(lit_.nonEmpty &&
        correct.toDouble / lit_.size >= 0.8,
        s"accuracy ${correct.toDouble / lit_.size} under the 0.8 floor")
      // (d) featureless text drops instead of crashing (the Ulm
      // sequence guard), and scoring others is unaffected
      import spark.implicits._
      val tiny = Seq((1L, ""), (2L, "ab"), (3L, "der gross klein"))
        .toDF("doc_id", "text")
      val preds = LangId.predictLiteral(tiny, "text", dense, dims)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(preds.toSeq === Seq(3L),
        "docs without a single trigram must drop, others score")
      // (e) OUT-OF-VOCABULARY data: trigrams unseen in training
      // contribute weight 0 but still count in the mean's denominator
      // in BOTH serving forms (the QualityModel.rawScores convention)
      // — literal ≡ join on fresh frames too, doc for doc
      val fresh = Seq(
        (20L, "@@@ ### %%% ^^^ &&&"),
        (21L, "der gross @@@ ###"),
        (22L, "le petit rapide ???"))
        .toDF("doc_id", "text")
      val litF = LangId.predictLiteral(fresh, "text", dense, dims)
        .select("doc_id", "pred_lang", "pred_spread")
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val joinF = LangId.predict(fresh, "text", model, dims)
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(litF === joinF,
        "serving forms diverged on out-of-vocabulary features")
      assert(litF.keySet === Set(20L, 21L, 22L),
        "fresh docs with features must score in both forms")
      // (f) NO-CONFIDENCE rule: under a model whose K weight vectors
      // are identical, every document's scores tie across languages
      // (pred_spread = 0 by construction) and the keepLangs gate
      // rejects them all — a vacuous argmax must never admit
      val flat = Seq(("aa", Seq.fill(dims)(7L)), ("bb", Seq.fill(dims)(7L)))
      val flatPreds = LangId.predictLiteral(tiny, "text", flat, dims)
        .select("pred_spread").collect().map(_.getLong(0))
      assert(flatPreds.nonEmpty && flatPreds.forall(_ === 0L),
        "identical models must yield zero spread")
      assert(LangId.keepLangs(tiny, "text", flat, dims,
          Set("aa", "bb")).count() === 0L,
        "the gate admitted a no-confidence prediction")
    } finally graft.operators.Exec.release(model)
  }

  test("BPE training matches the reference implementation " +
    "merge-for-merge; encode applies the learned rules exactly") {
    val docs = Tables.load(spark, sf, "documents")
    val freq = graft.operators.Bpe.wordFreq(docs, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = graft.operators.Bpe.train(docs, "text", 15)
    val want = refTrain(freq, 15)
    assert(got === want)
    assert(got.size === 15, "corpus supports at least 15 merges")
    // encode = the same greedy rewrite per rule, in training order
    val sample = freq.keys.toSeq.sorted.take(50)
    import spark.implicits._
    val enc = graft.operators.Bpe
      .encode(sample.toDF("word"), "word", got)
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    for (w <- sample) {
      var syms = w.map(_.toString).toVector
      for ((a, b) <- got) syms = refApply(syms, a, b)
      assert(enc(w) === syms, s"word $w")
      assert(enc(w).mkString === w, s"pieces must reconstruct $w")
    }
    // corpus-scale encoding: per-document pieces concatenate to the
    // document's own lowercase token stream (word order preserved
    // through the distinct-word factoring and position join)
    val sub = Tables.load(spark, sf, "documents").limit(20)
    val perDoc = graft.operators.Bpe.encodeDocs(sub, "text", got)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val toks = sub.selectExpr("doc_id",
      "regexp_extract_all(lower(text), '\\\\w+', 0) as t")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(perDoc.keySet === toks.keySet.filter(toks(_).nonEmpty))
    for ((id, pieces) <- perDoc)
      assert(pieces.mkString === toks(id).mkString,
        s"doc $id pieces must spell its token stream")
  }

  // ── Product quantization (graft.operators.Pq) ──────────────────────

  /** Reference PQ over in-memory vectors, replicating the operator's
    * exact arithmetic: quantized squared-L2 per subspace, argmin with
    * (dist, code) tie-break, fixed-point centroid means.
    */
  private def refSv(v: Array[Double], sub: Int, d: Int): Array[Double] =
    v.slice(sub * d, sub * d + d)
  private def refDistFp(a: Array[Double], b: Array[Double]): Long =
    a.indices.map(i =>
      math.floor((a(i) - b(i)) * (a(i) - b(i)) * 1e12).toLong).sum
  private def refPqTrain(vecs: Seq[(Long, Array[Double])],
      seeds: Seq[Long], m: Int, dim: Int,
      iters: Int): Map[(Int, Long), Array[Double]] = {
    val d = dim / m
    val byId = vecs.toMap
    var cb: Map[(Int, Long), Array[Double]] =
      (for (s <- 0 until m; id <- seeds)
        yield (s, id) -> refSv(byId(id), s, d)).toMap
    for (_ <- 1 to iters) {
      val assigned = for ((id, v) <- vecs; s <- 0 until m) yield {
        val sv = refSv(v, s, d)
        val code = cb.keys.filter(_._1 == s).toSeq
          .map { case (_, c) => (refDistFp(sv, cb((s, c))), c) }
          .min._2
        (s, code, sv)
      }
      cb = assigned.groupBy(a => (a._1, a._2)).map { case (k, rows) =>
        val n = rows.size
        k -> (0 until d).map(j =>
          rows.map(r => math.floor(r._3(j) * 1e6).toLong).sum
            .toDouble / (1e6 * n)).toArray
      }
    }
    cb
  }
  private def refEncode(vecs: Seq[(Long, Array[Double])],
      cb: Map[(Int, Long), Array[Double]], m: Int,
      dim: Int): Seq[(Long, Int, Long, Long)] = {
    val d = dim / m
    for ((id, v) <- vecs; s <- 0 until m) yield {
      val sv = refSv(v, s, d)
      val (dist, code) = cb.keys.filter(_._1 == s).toSeq
        .map { case (_, c) => (refDistFp(sv, cb((s, c))), c) }.min
      (id, s, code, dist)
    }
  }

  /** Deterministic synthetic vectors: 4 loose clusters (base pattern
    * by id group) + a per-id, per-dim ripple — discriminative enough
    * that codes differ, with every seed id present.
    */
  private def pqFixture: Seq[(Long, Array[Double])] =
    (1L to 40L).map { id =>
      val g = ((id - 1) / 10).toInt
      id -> Array.tabulate(16) { j =>
        g * 0.5 + ((id * 31 + j * 17) % 101) / 101.0 - 0.5
      }
    }

  test("PQ: train/encode match the in-memory reference bit-for-bit, " +
    "training is deterministic, and ADC distances are exactly the " +
    "sum of the query's per-(sub, code) LUT entries") {
    import spark.implicits._
    val P = graft.operators.Pq
    val (m, dim, k) = (4, 16, 4)
    val vecs = pqFixture
    val e = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "v")
    val cb = P.train(e, 1L to k, m, dim, iters = 2)
    // codebook equals the reference (same subspaces, codes, centroids)
    val refCb = refPqTrain(vecs, 1L to k, m, dim, iters = 2)
    val gotCb = cb.collect().map(r => (r.getInt(0), r.getLong(1)) ->
      r.getSeq[Double](2).toArray).toMap
    assert(gotCb.keySet === refCb.keySet)
    for (key <- refCb.keySet)
      assert(gotCb(key).toSeq === refCb(key).toSeq, s"centroid $key")
    // determinism: a second training run is identical
    val cb2 = P.train(e, 1L to k, m, dim, iters = 2).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2))
      .toMap
    assert(cb2 === gotCb.map { case (key, v) => key -> v.toSeq })
    // encode equals the reference
    val gotEnc = P.encode(e, cb, m, dim).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val refEnc = refEncode(vecs, refCb, m, dim)
      .sortBy(t => (t._1, t._2))
    assert(gotEnc === refEnc)
    // ADC: the ranked distance of every vector is exactly the sum of
    // the query's LUT entries at that vector's codes; top-k order is
    // (adist, vec_id)
    val qid = 7L
    val lut = P.adcLut(e.filter(col("vec_id") === qid), cb, m, dim)
    val gotLut = lut.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val qv = vecs.toMap.apply(qid)
    for (((s, c), cv) <- refCb)
      assert(gotLut((s, c)) === refDistFp(refSv(qv, s, dim / m), cv),
        s"lut($s, $c)")
    val refAdc = refEnc.groupBy(_._1).map { case (id, rows) =>
      id -> rows.map(r => gotLut((r._2, r._3))).sum
    }
    val want = refAdc.toSeq.sortBy { case (id, ad) => (ad, id) }.take(10)
    val got = P.adcTopK(P.encode(e, cb, m, dim), lut, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === want)
    // the self-query's ADC distance is its own quantization distortion
    assert(refAdc(qid) === refEnc.filter(_._1 == qid).map(_._4).sum)
  }

  // ── Training-mix export (graft.operators.CorpusExport) ─────────────

  /** The q46 slot convention, driver-side: leading 15 hex digits of
    * md5(id as string) as a long, per-million granularity.
    */
  private def refSlot(id: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % 1000000L
  }

  test("CorpusExport: deterministic uniform-mix materialization — " +
    "reference-exact selection, nested samples across rates, disjoint " +
    "shard hash, and a manifest that records what landed") {
    import spark.implicits._
    val X = graft.operators.CorpusExport
    // skewed corpus: 80 en / 15 fr / 5 de
    val docs = ((1L to 80L).map(i => (i, "en", s"text en $i")) ++
      (81L to 95L).map(i => (i, "fr", s"text fr $i")) ++
      (96L to 100L).map(i => (i, "de", s"text de $i")))
      .toDF("doc_id", "lang", "text")
    // threshold math is exactly q74's weight scaled by the rate
    val th = X.uniformMixThresholds(docs, "lang", rate = 0.3).toMap
    assert(th("en") === math.round(
      math.min(1.0, 0.3 * 100 / (3.0 * 80)) * 1000000))
    assert(th("de") === 1000000L,
      "a small group's capped threshold must keep everything")
    val base = java.nio.file.Files.createTempDirectory("export").toString
    val m1 = X.materializeUniformMix(docs, "lang", "doc_id",
        s"$base/r30", rate = 0.3, numShards = 4)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    // selection is reference-exact: slot < threshold, computed
    // independently here
    val expectIds = (1L to 100L).filter { id =>
      val lang = if (id <= 80) "en" else if (id <= 95) "fr" else "de"
      refSlot(id) < th(lang)
    }.toSet
    val gotRows = spark.read.parquet(s"$base/r30/data")
      .select("doc_id", "shard").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(gotRows.map(_._1).toSet === expectIds,
      "export selection diverged from the reference slot predicate")
    // manifest counts are the landed counts
    val expectByLang = expectIds.groupBy(id =>
      if (id <= 80) "en" else if (id <= 95) "fr" else "de")
      .map { case (l, ids) => l -> ids.size.toLong }
    assert(m1 === Seq("en", "fr", "de")
      .map(l => l -> expectByLang.getOrElse(l, 0L)).toMap, m1.toString)
    // shards: within range, and the union is exactly the selection
    assert(gotRows.forall { case (_, s) => s >= 0 && s < 4 })
    // nested samples: the 30% export is a subset of the 60% export
    val m2 = X.materializeUniformMix(docs, "lang", "doc_id",
      s"$base/r60", rate = 0.6, numShards = 4)
    val ids60 = spark.read.parquet(s"$base/r60/data")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expectIds.subsetOf(ids60),
      "a lower-rate export must nest inside the higher-rate one")
    // determinism: re-export to a fresh dir is identical
    X.materializeUniformMix(docs, "lang", "doc_id", s"$base/r30b",
      rate = 0.3, numShards = 4)
    assert(spark.read.parquet(s"$base/r30b/data")
      .select("doc_id").collect().map(_.getLong(0)).toSet === expectIds)
    // reserved column refused
    intercept[IllegalArgumentException] {
      X.materialize(docs.withColumn("shard", lit(1)), "lang", "doc_id",
        Seq(("en", 1000000L)), s"$base/bad")
    }
  }

  test("CorpusExport weighted: full weight reproduces the unweighted " +
    "export bit-for-bit, selection is the reference weight-scaled " +
    "predicate, nesting holds on BOTH axes, and the weighted " +
    "materialization records what landed") {
    import spark.implicits._
    val X = graft.operators.CorpusExport
    def langOf(id: Long): String =
      if (id <= 80) "en" else if (id <= 95) "fr" else "de"
    // deterministic per-doc weights spanning the range: 1e6 down to 1/4
    def wOf(id: Long): Long = 1000000L / (1L + id % 4)
    val docs = (1L to 100L)
      .map(i => (i, langOf(i), s"text $i", wOf(i)))
      .toDF("doc_id", "lang", "text", "weight_ppm")
    val th = X.uniformMixThresholds(docs, "lang", rate = 0.6)
    val thMap = th.toMap
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_id", "shard").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // weight ≡ 1e6 IS the unweighted export — same set, same shards
    assert(pairs(X.selectAndShardWeighted(
        docs.withColumn("w1", lit(1000000L)), "lang", "doc_id", "w1",
        th, 4))
      === pairs(X.selectAndShard(docs, "lang", "doc_id", th, 4)),
      "full weight must reproduce the unweighted selection exactly")
    // reference predicate: slot < (threshold × weight) DIV 1e6,
    // restated independently driver-side (effective-size math)
    val got = pairs(X.selectAndShardWeighted(docs, "lang", "doc_id",
      "weight_ppm", th, 4))
    val expectIds = (1L to 100L).filter(id => refSlot(id) <
      math.min(1000000L, thMap(langOf(id)) * wOf(id) / 1000000L)).toSet
    assert(got.map(_._1) === expectIds,
      "weighted selection diverged from the reference predicate")
    // axis 1: raising any document's weight only ever ADDS documents
    val heavier = pairs(X.selectAndShardWeighted(
      docs.withColumn("weight_ppm",
        least(col("weight_ppm") * 2, lit(1000000L))),
      "lang", "doc_id", "weight_ppm", th, 4))
    assert(got.subsetOf(heavier),
      "doubling weights must nest the lighter export inside")
    // axis 2: raising the mix rate only ever ADDS documents
    val thLow = X.uniformMixThresholds(docs, "lang", rate = 0.3)
    val lowRate = pairs(X.selectAndShardWeighted(docs, "lang",
      "doc_id", "weight_ppm", thLow, 4))
    assert(lowRate.subsetOf(got),
      "a lower-rate weighted export must nest inside the higher-rate one")
    // materializeWeighted: layout + manifest of what landed, the
    // weight column carried into the export
    val base = java.nio.file.Files.createTempDirectory("wexport").toString
    val m = X.materializeWeighted(docs, "lang", "doc_id", "weight_ppm",
        th, s"$base/w", numShards = 4)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    val landed = spark.read.parquet(s"$base/w/data")
    assert(landed.select("doc_id").collect().map(_.getLong(0)).toSet
      === expectIds)
    assert(landed.columns.contains("weight_ppm"),
      "the weight column must ride into the export")
    assert(m === Seq("en", "fr", "de").map(l =>
      l -> expectIds.count(langOf(_) == l).toLong).toMap, m.toString)
    // the fixture must discriminate: weighting actually cuts documents
    val unweightedIds = (1L to 100L)
      .filter(id => refSlot(id) < thMap(langOf(id))).toSet
    assert(expectIds.size < unweightedIds.size,
      "fixture lost discrimination (weights cut nothing)")
  }

  test("KMeans Lloyd sufficient statistics: the stats/merge/rebuild " +
    "chain is bit-identical to the inline fixed-point mean, and stats " +
    "merge cell-wise across any corpus split") {
    import spark.implicits._
    val K = graft.operators.KMeans
    val e = Tables.load(spark, sf, "embeddings")
      .withColumn("v", col("embedding").cast("array<double>"))
      .select("vec_id", "v")
    val cents = K.train(e, 1L to 6L, 1)
    val assigned = K.assign(e, cents)
    // the inline update arithmetic, restated INDEPENDENTLY (this is
    // the pre-decomposition spelling — the law is that the decomposed
    // chain reproduces it bit-for-bit, not that two calls of the same
    // code agree)
    val inline = assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cid", "dim")
      .agg((sum(expr("cast(floor(x * 1000000d) as bigint)"))
        .cast("double") / (lit(1000000d) * count(lit(1)))).as("cval"))
      .groupBy("cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, cval)))," +
        " p -> p.cval)").as("cv"))
    def centMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.get(0).toString.toLong -> r.getSeq[Double](1).toSeq)
      .toMap
    assert(centMap(K.update(assigned)) === centMap(inline))
    assert(centMap(K.centroidsFromStats(K.statsOf(assigned)))
      === centMap(inline))
    // cell-wise merge law: statsOf(a ∪ b) = mergeStats(statsOf(a),
    // statsOf(b)) for any split — the mergeability the streamed
    // maintainer and the zero-rescan retrain ride
    def cellMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toInt)
        -> (r.getLong(2), r.getLong(3))).toMap
    val a = e.filter(col("vec_id") % 2 === 0)
    val b = e.filter(col("vec_id") % 2 =!= 0)
    assert(cellMap(K.mergeStats(K.statsOf(K.assign(a, cents)),
      K.statsOf(K.assign(b, cents))))
      === cellMap(K.statsOf(assigned)))
  }

  test("quantile histogram: merge- and partitioning-invariant, and " +
    "every quantile answer brackets the exact rank statistic within " +
    "the 2^-5 relative-width contract") {
    import spark.implicits._
    val Q = graft.operators.QuantileSketch
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        (col("l_quantity") * lit(100)).cast("long").as("x"))
    def cellMap(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val hist = Q.build(li, "x", Seq("l_returnflag"))
    val cells = cellMap(hist)
    // mergeability: halves recombine cell-exactly
    val a = li.filter(col("x") % 2 === 0)
    val b = li.filter(col("x") % 2 =!= 0)
    assert(cellMap(Q.merge(Q.build(a, "x", Seq("l_returnflag")),
      Q.build(b, "x", Seq("l_returnflag")), Seq("l_returnflag")))
      === cells)
    // partitioning invariance (byte-identical histogram, the
    // determinism the oracle match rides on)
    assert(cellMap(Q.build(li.repartition(7), "x", Seq("l_returnflag")))
      === cells)
    // accuracy: answer = lower bound of the bucket holding the exact
    // ceil(q*n)-th smallest value → lb <= exact <= lb + lb/32 + 1
    val exactByGroup = li.collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).sorted).toMap
    val got = Q.quantiles(hist, Seq("l_returnflag"),
        Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val fracs = Map("p50" -> (1L, 2L), "p90" -> (9L, 10L),
      "p99" -> (99L, 100L))
    got.foreach { case ((flag, q), lb) =>
      val vs = exactByGroup(flag)
      val (num, den) = fracs(q)
      val exact = vs((((vs.length * num + den - 1) / den) - 1).toInt)
      assert(lb <= exact,
        s"$flag/$q: histogram answer $lb above the exact $exact")
      assert(exact <= lb + lb / 32 + 1,
        s"$flag/$q: exact $exact beyond $lb's bucket width")
    }
  }

  test("count-min: estimates are one-sided over EVERY key, the sketch " +
    "is cell-exact under merge, and an unseen key reads only collision " +
    "mass") {
    import spark.implicits._
    val C = graft.operators.CountMin
    val keys = Tables.load(spark, sf, "lineitem")
      .select(col("l_suppkey").cast("long").as("k"))
    val truth = keys.groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sketch = C.build(keys, "k")
    // ≤ depth × width cells, all positive
    val cells = sketch.collect()
    assert(cells.length <= 4 * 1024)
    assert(cells.forall(_.getLong(2) > 0L))
    // one-sided guarantee for EVERY key, not just heavy hitters
    val est = C.estimate(sketch, keys.distinct(), "k")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.keySet === truth.keySet)
    truth.foreach { case (k, n) =>
      assert(est(k) >= n, s"one-sided guarantee broken for $k")
    }
    // mergeability: sketch(A) + sketch(B) is cell-identical to
    // sketch(A ∪ B) — the property every scale claim rides on
    val a = keys.filter(col("k") % 2 === 0)
    val b = keys.filter(col("k") % 2 =!= 0)
    def cellMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
        .toMap
    assert(cellMap(C.merge(C.build(a, "k"), C.build(b, "k")))
      === cellMap(sketch))
    // weighted build from pre-aggregated (key, n) rows is cell-exact
    // with the raw-stream build (q114 rides this to skip a second
    // corpus scan)
    assert(cellMap(C.buildWeighted(
        keys.groupBy("k").agg(count(lit(1)).as("n")), "k", "n"))
      === cellMap(sketch))
    // an unseen key's estimate is pure collision mass: bounded by the
    // heaviest cell, and deterministic across calls
    val unseen = Seq(999999L).toDF("k")
    val u1 = C.estimate(sketch, unseen, "k").collect()(0).getLong(1)
    val u2 = C.estimate(sketch, unseen, "k").collect()(0).getLong(1)
    assert(u1 === u2)
    assert(u1 <= cells.map(_.getLong(2)).max)
  }

  test("LinkRank: hand-computed chain on a 3-node graph, damping-0 " +
    "degeneracy, no-inlink floor, and deep iteration stays exact") {
    import spark.implicits._
    import graft.operators.LinkRank
    val nodes = Seq(0L, 1L, 2L).toDF("node")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: in(1) = 2e6 -> 1,850,000; in(2) = 1e6 -> 1,000,000
    assert(ranks(LinkRank.train(nodes, edges, iters = 1))
      === Map(0L -> 150000L, 1L -> 1850000L, 2L -> 1000000L))
    // round 2: in(1) = 150000 + 1e6 -> 1,127,500; in(2) = 1,850,000
    // -> 1,722,500; node 0 stays at the no-inlink floor
    assert(ranks(LinkRank.train(nodes, edges, iters = 2))
      === Map(0L -> 150000L, 1L -> 1127500L, 2L -> 1722500L))
    // damping 0: every rank is exactly the base, edges irrelevant
    assert(ranks(LinkRank.train(nodes, edges, iters = 3, dampingPct = 0))
      .values.toSet === Set(1000000L))
    // 12 checkpointed rounds run (the plan cannot blow up) and agree
    // with a driver-side fold of the same arithmetic
    var r = Map(0L -> 1000000L, 1L -> 1000000L, 2L -> 1000000L)
    val es = Seq((0L, 1L), (1L, 2L), (2L, 1L))
    val deg = es.groupBy(_._1).map { case (s0, g) => s0 -> g.size.toLong }
    for (_ <- 1 to 12) {
      val in = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map { case (s0, _) => r(s0) / deg(s0) }.sum }
      r = r.keys.map(k =>
        k -> (150000L + 85L * in.getOrElse(k, 0L) / 100L)).toMap
    }
    assert(ranks(LinkRank.train(nodes, edges, iters = 12)) === r)
  }

  test("LinkRank: dangling mass is redistributed (independent driver-" +
    "fold law) and the convergence stop reaches the exact fixed point") {
    import spark.implicits._
    import graft.operators.LinkRank
    // node 2 has no outlinks, node 3 is fully isolated — BOTH are
    // dangling; the drop-it form would leak their rank every round
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("node")
    val es = Seq((0L, 1L), (0L, 2L), (1L, 2L))
    val edges = es.toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deg = es.groupBy(_._1).map { case (s0, g) => s0 -> g.size.toLong }
    def fold(iters: Int): Map[Long, Long] = {
      var r = Seq(0L, 1L, 2L, 3L).map(_ -> 1000000L).toMap
      for (_ <- 1 to iters) {
        val dd = r.collect {
          case (k, v) if !deg.contains(k) => v }.sum / 4L
        val in = es.groupBy(_._2).map { case (d, g) =>
          d -> g.map { case (s0, _) => r(s0) / deg(s0) }.sum }
        r = r.keys.map(k =>
          k -> (150000L + 85L * (in.getOrElse(k, 0L) + dd) / 100L)).toMap
      }
      r
    }
    assert(ranks(LinkRank.train(nodes, edges, iters = 1)) === fold(1))
    assert(ranks(LinkRank.train(nodes, edges, iters = 4)) === fold(4))
    // convergence stop: tolFp = 1 stops only at an EXACT integer fixed
    // point (max |Δ| = 0); the point must be genuine — folding further
    // rounds from it changes nothing
    val (rdf, rounds, conv) = LinkRank.trainConverged(nodes, edges,
      maxIters = 100, tolFp = 1L)
    assert(rounds < 100, s"never converged within the cap ($rounds)")
    assert(conv, "converged flag must be set when the stop fired")
    val fixed = ranks(rdf)
    assert(fixed === fold(rounds))
    assert(fixed === fold(rounds + 5),
      "stop fired before the chain actually reached its fixed point")
    // tolFp = 0 disables the stop: exactly maxIters rounds run
    val (_, ranAll, convAll) = LinkRank.trainConverged(nodes, edges,
      maxIters = 6, tolFp = 0L)
    assert(ranAll === 6)
    assert(!convAll, "tolFp = 0 has no tolerance to converge against")
    // cap-hit-while-settled vs cap-hit-while-moving: the flag is
    // evaluated on the FINAL round too, so stopping exactly at the
    // fixed point's depth reads converged, one round earlier does not
    val (_, _, atCap) = LinkRank.trainConverged(nodes, edges,
      maxIters = rounds, tolFp = 1L)
    assert(atCap, "converged exactly at the cap must read converged")
    if (rounds > 1) {
      val (_, _, early) = LinkRank.trainConverged(nodes, edges,
        maxIters = rounds - 1, tolFp = 1L)
      assert(!early, "cap hit while still moving must read unconverged")
    }
  }
}
