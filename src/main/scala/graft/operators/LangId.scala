package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** LEARNED language identification — the fastText/CCNet-lineage LID
  * stage every production pretraining pipeline runs before its
  * language-specific filters (CCNet buckets the whole of Common Crawl
  * by a learned LID before anything else touches it). q37's
  * character-trigram HEURISTIC stays as the zero-training flank; this
  * is the trained form, built entirely through [[QualityModel]]'s
  * closed-form machinery — same hashed-feature convention (md5 →
  * 16-bit → mod dims), same Laplace-smoothed class-rate weights in
  * 1e-6 fixed point, same floor-mean doc score — lifted from binary
  * to ONE-VS-REST multiclass: for each language L the binary model
  * "L vs everything else" is fitted, and a document's predicted
  * language is the argmax of its K floor-mean scores (ties break to
  * the lexicographically smallest language — a total order, so the
  * prediction is deterministic and oracle-exact; no softmax, per the
  * q52 no-libm doctrine).
  *
  * Features are hashed character N-GRAMS of the lowercased text (not
  * word tokens): language identity lives in character statistics —
  * n-gram shapes, diacritics, scripts — and char n-grams are exactly
  * what fastText's LID models use. The ngram array builds inside one
  * projection with an explicit empty-text guard (the Ulm
  * sequence(1,0) lesson).
  *
  * Training is ONE corpus scan for ALL K classes (not K scans): the
  * per-(feature, language) document counts and per-language totals
  * are sufficient statistics for every one-vs-rest model at once —
  * n_neg(f, L) = n_all(f) − n_pos(f, L) and t_neg(L) = t_all −
  * t_pos(L) — so the scan's exchange carries ≤ dims·K partially
  * aggregated count rows and the grid completes model-side.
  * OperatorsSpec pins the law that this equals K independent
  * [[QualityModel.train]] runs bit for bit.
  *
  * Scale posture at 100 TB: train = one featurize scan (the count
  * grid materializes once — ≤ dims·K rows, KB) + a docs-count scan;
  * [[predictLiteral]] serves with the K weight vectors as PLAN
  * LITERALS — scoring is a map-side projection computing K integer
  * folds over the doc's feature array behind one Generate barrier
  * (the array is NOT re-derived per language), NO join (plan-pinned);
  * the single exchange on either path is the pre-amplification
  * repartition (work distribution ahead of the ~|text|× ngram
  * blow-up — the windowStream doctrine — not a data-semantics
  * shuffle). The join-based [[scoreAll]] stays the lazy
  * oracle-audited form (broadcast ≤ dims·K model rows), the
  * q110/q111 split.
  */
object LangId {

  /** The NATIVE feature kernel call — one compiled pass per row
    * ([[graft.functions.TextSignatures.lidFeatures]]): lowercased
    * sliding char n-grams, deduplicated and hashed by
    * [[QualityModel]]'s convention, bit-identical to the SQL md5-hash
    * chain it replaced (FunctionsSpec pins the parity): the SQL chain
    * ran the per-gram md5 + hex + conv lambda interpreted with a
    * per-gram UTF8String/hex-string allocation, measured as the q151
    * featurize hot spot. Callers register [[graft.functions.Functions]]
    * first.
    */
  private def featuresKernelSql(textCol: String, dims: Int,
      n: Int): String = s"lid_features($textCol, $dims, $n)"

  /** The input REPARTITIONED by doc_id ahead of the ngram
    * amplification — the windowStream doctrine verbatim: the feature
    * stream is ~|text| × the input rows and the per-ngram md5 is the
    * hot loop, so the work must spread across the cluster BEFORE the
    * amplification; a skinny input (one row-group at small SF, one
    * tail partition at any SF) would otherwise serialize the whole
    * scan onto one core (measured 4.4 s → 0.8 s at sf0.1). Pinned to
    * defaultParallelism because AQE sizes the exchange by the tiny
    * PRE-amplification bytes.
    */
  private def amplified(docs: DataFrame): DataFrame =
    docs.repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))

  /** (doc_id, fid) rows — one per distinct hashed char-ngram feature
    * per document; documents with no ngram contribute no rows (they
    * are outside the model's domain, the ≥ 1-token rule's analog).
    */
  def featurize(docs: DataFrame, textCol: String, dims: Int,
      n: Int = 3): DataFrame =
    featurizeKeyed(docs, textCol, dims)

  /** [[featurize]] with passthrough columns and an optional
    * amplification skip: (doc_id, extra..., fid). Callers that have
    * ALREADY spread the input — e.g. to parallelize an upstream
    * per-row derivation such as q151's marker regexes, which would
    * otherwise run serially below [[amplified]]'s exchange on a
    * few-row-group scan — pass amplify = false and avoid a second
    * exchange on the same key.
    */
  def featurizeKeyed(docs: DataFrame, textCol: String, dims: Int,
      extra: Seq[String] = Seq.empty, n: Int = 3,
      amplify: Boolean = true): DataFrame = {
    graft.functions.Functions.register(docs.sparkSession)
    val base = if (amplify) amplified(docs) else docs
    base.select(
      (col("doc_id") +: extra.map(col)) :+
        explode(expr(featuresKernelSql(textCol, dims, n))).as("fid"): _*)
  }

  /** Fit ALL K one-vs-rest models in one corpus scan: (lang, fid,
    * n_pos, n_neg, weight_fp) — for every feature id observed
    * ANYWHERE and every language (the full grid, so a feature seen
    * only in other languages carries its informative negative weight,
    * exactly as the binary model would fit it). Bit-identical per
    * language to `QualityModel.train(docs.withColumn("y", lang = L),
    * ngrams, "y", dims)` — same integer counts, same IEEE-exact
    * formula (spec-pinned).
    */
  def train(docs: DataFrame, textCol: String, langCol: String,
      dims: Int, n: Int = 3): DataFrame = trainGrid(docs, textCol,
    langCol, dims, n)._2

  /** [[train]] scoped to `use`, with the internal count grid RELEASED
    * afterwards (the Ulm.trainFromWordFreq try/finally discipline):
    * `train` materializes its per-(feature, language) grid eagerly and
    * the returned model references it lazily, so a bare `train` leaks
    * one grid's checkpoint blocks per call until the session dies —
    * fine for a one-shot query, wrong for a long-lived session that
    * retrains periodically. Callers that consume the model within a
    * scope (collect it, write it to a store) go through here; the
    * model frame is UNUSABLE after `use` returns.
    */
  def withTrained[T](docs: DataFrame, textCol: String, langCol: String,
      dims: Int, n: Int = 3)(use: DataFrame => T): T = {
    val (grid, model) = trainGrid(docs, textCol, langCol, dims, n)
    try use(model) finally Exec.release(grid)
  }

  /** The trainer core: returns (materialized count grid, model). The
    * model references the grid lazily — release the grid only once the
    * model is itself materialized or collected ([[withTrained]]).
    */
  private def trainGrid(docs: DataFrame, textCol: String,
      langCol: String, dims: Int, n: Int): (DataFrame, DataFrame) = {
    graft.functions.Functions.register(docs.sparkSession)
    val feats = amplified(docs)
      .select(col(langCol).as("lang"), col("doc_id"),
        explode(expr(featuresKernelSql(textCol, dims, n))).as("fid"))
    // the KB-scale count grid materializes once: perFid AND the final
    // join both reference it, and lazily each reference would re-run
    // the whole featurize scan (the Exec.materialize doctrine) — like
    // Ulm.train, this trainer runs its scan eagerly (callers register
    // through eagerQueries)
    val perLang = Exec.materialize(feats.groupBy("fid", "lang")
      .agg(count(lit(1)).as("n_pos")))
    val langTotals = docs.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("t_pos"))
    perLang -> gridComplete(perLang, langTotals)
  }

  /** The grid-completion epilogue shared by [[trainGrid]] and the
    * shared-scan q151 form: per-(fid, lang) POSITIVE counts + the
    * per-lang doc totals are the sufficient statistics; n_neg and
    * t_neg derive arithmetically (n_all − n_pos, t_all − t_pos) and
    * the weights are [[QualityModel.laplaceWeightFp]] — bit-identical
    * to K binary trains (the OperatorsSpec law). `perLang` is read
    * twice (the per-fid totals and the final grid join); callers pass
    * a materialized or cheap-to-recompute frame.
    */
  private[graft] def gridComplete(perLang: DataFrame,
      langTotals: DataFrame): DataFrame = {
    val perFid = perLang.groupBy("fid").agg(sum("n_pos").as("n_all"))
    // derived from langTotals, not another corpus scan
    val tot = langTotals.agg(sum("t_pos").as("t_all"))
    perFid.crossJoin(broadcast(langTotals))
      .join(perLang, Seq("fid", "lang"), "left")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("fid"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        (col("n_all") - coalesce(col("n_pos"), lit(0L))).as("n_neg"),
        col("t_pos"), (col("t_all") - col("t_pos")).as("t_neg"))
      .select(col("lang"), col("fid"), col("n_pos"), col("n_neg"),
        QualityModel.laplaceWeightFp(col("n_pos"), col("n_neg"),
          col("t_pos"), col("t_neg")).as("weight_fp"))
  }

  /** Deterministic argmax predictions from an EXPLODED (doc_id,
    * extra..., fid) feature frame and a fitted model — the
    * SHARED-SCAN serving form: when the scorer's input is the very
    * frame the trainer aggregated (the q151 audit: train-set
    * predictions), re-deriving features per side doubles the corpus
    * scan; this form broadcast-joins the KB model onto the one
    * materialized frame instead. wmean is [[scoreAll]]'s arithmetic
    * verbatim (integer weight sums, one floor-division per (doc,
    * lang) — the model grid covers every observed fid, so the join is
    * total and the sums equal [[predictLiteral]]'s dense folds bit
    * for bit; OperatorsSpec pins the equivalence). The argmax is the
    * same total order: highest wmean, ties to the lexicographically
    * smallest language (min over (−wmean, lang) structs). Documents
    * with no features have no rows and drop, as in [[predict]].
    *
    * DOMAIN CONTRACT: train-set scoring only. A fid absent from the
    * model drops out of the join and out of the mean's DENOMINATOR,
    * where [[predict]]/[[predictLiteral]] count it with weight 0 —
    * identical results exactly when the model's grid covers every fid
    * in `feats` (always true when `feats` is the frame the grid was
    * trained on, the q151 audit); fresh/OOV frames must go through
    * [[predictLiteral]]. The model must also be a TOTAL grid (every
    * present fid carries all K languages — what [[gridComplete]]
    * produces): the pivoted join drops a fid for all languages at
    * once, where the r21 exploded form dropped per (fid, lang) pair —
    * indistinguishable on total grids, divergent on partial ones.
    */
  def predictFromFeats(feats: DataFrame, model: DataFrame,
      extra: Seq[String] = Seq.empty,
      langsHint: Option[Seq[String]] = None): DataFrame = {
    val keys = col("doc_id") +: extra.map(col)
    // r22 shape: the model broadcasts PIVOTED — one row per fid with
    // K weight columns — so the feature stream is joined 1:1 (never
    // fanned out K×) and ONE K-accumulator hash aggregate per key
    // replaces the (keys, lang) aggregate over the K-times-larger
    // joined stream. Bit-identical by construction: the grid is total
    // (every fid carries all K langs — gridComplete), so per-lang
    // sums/nf/argmax/spread see exactly the same addends in the same
    // exact-long arithmetic; the r21 exploded form's 10M-row hash agg
    // was also the stage's burst-fragile part (same-JVM alternating
    // A/B: medians 1.07 vs 0.86 s, noisy-round readings 3.8 vs 2.0 s —
    // the q101 stall class, shrunk the same way). The K langs MUST
    // equal the model's language domain; callers that know it (q151
    // collects its langTotals once anyway) pass `langsHint` so this
    // serve path never runs an extra job — the fallback collects the
    // KB-scale model's distinct langs, executing its plan once.
    val langs = langsHint.map(_.distinct.sorted).getOrElse(
      model.select("lang").distinct().orderBy("lang")
        .collect().map(_.getString(0)).toSeq)
    require(langs.nonEmpty && !langs.contains("fid") &&
      !langs.contains("doc_id"),
      s"degenerate language set: $langs")
    val wide = model.groupBy("fid")
      .pivot("lang", langs).agg(first("weight_fp"))
      .select(col("fid") +: langs.map(l => col(l).as(s"__w_$l")): _*)
    val sums = feats
      .join(broadcast(wide), Seq("fid"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("__nf"),
        langs.map(l => sum(col(s"__w_$l")).as(s"__ws_$l")): _*)
    val scored = sums.select(keys ++ langs.map(l =>
      floor(col(s"__ws_$l").cast(DoubleType)
          / col("__nf").cast(DoubleType))
        .cast(LongType).as(s"__wm_$l")): _*)
    // same total order as the exploded form: highest wmean, ties to
    // the lexicographically smallest language (min over (−wmean, lang))
    val best = array_min(array(langs.map(l =>
      struct((lit(0L) - col(s"__wm_$l")).as("nw"),
        lit(l).as("l"))): _*))
    val spread =
      if (langs.size == 1) lit(0L) // greatest/least need ≥ 2 args
      else greatest(langs.map(l => col(s"__wm_$l")): _*) -
        least(langs.map(l => col(s"__wm_$l")): _*)
    scored.select(keys :+
      best.getField("l").as("pred_lang") :+
      spread.as("pred_spread"): _*)
  }

  /** Per-document per-language floor-mean scores via a broadcast model
    * join — the lazy, oracle-audited form: (doc_id, lang, wmean).
    * Features MISSING from the model (possible on fresh data, never
    * when scoring the training corpus — the grid covers every
    * observed fid) contribute 0 to the sum and still count in the
    * mean's denominator — the QualityModel.rawScores convention, and
    * exactly what [[predictLiteral]]'s dense fold computes (absent =
    * weight 0), so the two serving forms agree on ANY frame
    * (spec-pinned on out-of-vocabulary data); a doc whose every
    * feature is unseen scores 0 for every language. The featurize
    * subplan is referenced twice (denominator + sums) — acceptable in
    * this audit form; the serving path is [[predictLiteral]].
    */
  def scoreAll(docs: DataFrame, textCol: String, model: DataFrame,
      dims: Int, n: Int = 3): DataFrame = {
    val feats = featurize(docs, textCol, dims, n)
    val nf = feats.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    val sums = feats
      .join(broadcast(model.select("lang", "fid", "weight_fp")),
        Seq("fid"))
      .groupBy("doc_id", "lang").agg(sum("weight_fp").as("wsum"))
    nf.crossJoin(broadcast(model.select("lang").distinct()))
      .join(sums, Seq("doc_id", "lang"), "left")
      .select(col("doc_id"), col("lang"),
        floor(coalesce(col("wsum"), lit(0L)).cast(DoubleType)
            / col("nf").cast(DoubleType))
          .cast(LongType).as("wmean"))
  }

  /** Deterministic argmax over [[scoreAll]]: (doc_id, pred_lang,
    * pred_spread) — highest wmean wins, ties to the lexicographically
    * smallest language; `pred_spread` = max − min of the K scores,
    * the model's separation evidence (0 ⟺ every language scores the
    * same — canonically a document whose every feature is
    * out-of-vocabulary — i.e. a NO-CONFIDENCE prediction, which
    * gates treat as a reject). Documents with no features get no row.
    */
  def predict(docs: DataFrame, textCol: String, model: DataFrame,
      dims: Int, n: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("wmean"), col("lang"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")
    scoreAll(docs, textCol, model, dims, n)
      .withColumn("__rn", row_number().over(w))
      .withColumn("pred_spread",
        max(col("wmean")).over(wAll) - min(col("wmean")).over(wAll))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("lang").as("pred_lang"),
        col("pred_spread"))
  }

  /** Collect a fitted model into its per-language dense weight
    * vectors, language-sorted — ≤ dims·K cells, KB-scale (the
    * codebook/centroid bounded-collect contract).
    */
  def collectModels(model: DataFrame,
      dims: Int): Seq[(String, Seq[Long])] =
    model.select("lang", "fid", "weight_fp").collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        val dense = Array.fill[Long](dims)(0L)
        rows.foreach(r => dense(r.getLong(1).toInt) = r.getLong(2))
        (lang, dense.toSeq)
      }
      .toSeq.sortBy(_._1)

  /** Literal-model SERVING — the map-only form: the K dense weight
    * vectors ride the plan as literals; each document derives its
    * feature array ONCE behind a Generate barrier, folds it K times
    * (one integer (sum, count) fold per language — the
    * QualityModel.scoreLiteral shape), and takes the deterministic
    * argmax in the same projection via an array_max over (score,
    * −index) structs (index = language rank ascending, so equal
    * scores break to the smallest language). Emits `pred_lang` and
    * `pred_spread` (max − min of the K scores — [[predict]]'s
    * no-confidence evidence, same definition). NO join and NO driver
    * lookup at serve time (the one exchange is the pre-amplification
    * repartition) — identical predictions AND spreads to [[predict]]
    * on any frame (bit-exact integer arithmetic; spec-pinned).
    * Documents with no features drop (outside the model's domain).
    */
  def predictLiteral(docs: DataFrame, textCol: String,
      models: Seq[(String, Seq[Long])], dims: Int,
      n: Int = 3): DataFrame = {
    // K = 1 is rejected, not just discouraged: one-vs-rest argmax is
    // meaningless for a single language (pred_spread is identically
    // 0 — max and min of one score), so keepLangs would silently
    // reject EVERY document under its no-confidence rule
    require(models.size >= 2,
      s"one-vs-rest LID needs at least 2 language models, got " +
        s"${models.size}")
    require(models.forall(_._2.size == dims),
      s"every dense weight vector must have size $dims")
    graft.functions.Functions.register(docs.sparkSession)
    val sorted = models.sortBy(_._1)
    val withW = sorted.zipWithIndex.foldLeft(
      amplified(docs).select(col("*"),
        explode(array(expr(featuresKernelSql(textCol, dims, n))))
          .as("__lid_f"))
        .filter(size(col("__lid_f")) >= 1)) {
      case (df, ((_, dense), i)) => df.withColumn(s"__w_$i",
        typedLit(dense))
    }
    val scoreFold = (i: Int) =>
      s"""named_struct(
         | 's', aggregate(__lid_f, named_struct('s', 0L, 'n', 0L),
         |   (a, f) -> named_struct(
         |     's', a.s + element_at(__w_$i, cast(f as int) + 1),
         |     'n', a.n + 1L),
         |   a -> cast(floor(cast(a.s as double)
         |     / cast(a.n as double)) as bigint)),
         | 'nk', ${-i})""".stripMargin
    val arr = s"array(${sorted.indices.map(scoreFold).mkString(", ")})"
    withW
      // the K folds land behind a Generate barrier: __arr is read by
      // BOTH the argmax and the spread, and a plain alias would
      // substitute the folds into each reference (the tokenized
      // lesson)
      .select(col("*"), explode(array(expr(arr))).as("__arr"))
      .withColumn("__best", expr("array_max(__arr)"))
      .withColumn("pred_lang",
        element_at(typedLit(sorted.map(_._1)),
          (lit(0) - col("__best.nk")) + lit(1)))
      .withColumn("pred_spread",
        col("__best.s") - expr("array_min(__arr)").getField("s"))
      .drop((sorted.indices.map(i => s"__w_$i") ++
        Seq("__lid_f", "__arr", "__best")): _*)
  }

  /** The streaming/ingest LANGUAGE gate — CCNet's stage #2 (bucket by
    * learned LID before any content work prices a document): keep
    * only rows whose [[predictLiteral]] language lands in `keep` AND
    * whose prediction carries model evidence (pred_spread > 0 — an
    * all-equal score vector means the model cannot separate the
    * languages at all, canonically a document whose every feature is
    * out-of-vocabulary; its argmax is a vacuous tie-break, and
    * CCNet/fastText LID semantics treat a no-confidence prediction as
    * a reject). Stateless per-row work end to end (plan-literal
    * models, Generate barriers, in-projection argmax — the keepGood
    * posture), so it composes PRE-SINK on a streaming frame;
    * documents with no features drop the same way (no language, no
    * admission), all other columns pass through untouched.
    */
  def keepLangs(docs: DataFrame, textCol: String,
      models: Seq[(String, Seq[Long])], dims: Int,
      keep: Set[String], n: Int = 3): DataFrame = {
    require(keep.nonEmpty, "empty language keep-set")
    predictLiteral(docs, textCol, models, dims, n)
      .filter(col("pred_spread") > lit(0L) &&
        col("pred_lang").isin(keep.toSeq.sorted: _*))
      .drop("pred_lang", "pred_spread")
  }
}
