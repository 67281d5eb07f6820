package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** UNIGRAM-LM tokenizer training (the SentencePiece family's other
  * half, beside [[Bpe]]): a vocabulary of substring PIECES with
  * log-probability scores, trained by EM over the corpus and served by
  * Viterbi segmentation (each word split into the highest-scoring
  * piece sequence). BPE builds its vocab bottom-up by merging; the
  * unigram model starts from an over-complete substring seed and
  * PRUNES — the two production tokenizer families, now both first-class.
  *
  * Determinism contract (the q113 ilog2 doctrine): piece scores are
  * INTEGER log-likelihoods — score(p) = ilog2(count(p)+1) −
  * ilog2(total+|V|), ilog2 = bit-length−1, no libm anywhere — and the
  * EM is HARD (Viterbi-EM): the E-step assigns every word its single
  * best segmentation under the current scores with a TOTAL tie order
  * (higher score, then fewer pieces, then longest-first piece), the
  * M-step recounts pieces from those segmentations and rescores. Every
  * step is integer-exact and replayable on any engine/partitioning —
  * the same reasoning that keeps q113/q136 oracle-green. (Soft EM's
  * float posteriors would be reduce-order-dependent; hard EM is the
  * standard deterministic variant and converges to a segmentation
  * fixed point.)
  *
  * Factoring (the [[Bpe]] shape): everything trains through the
  * (distinct word, freq) table — one corpus scan for [[Bpe.wordFreq]],
  * then every EM round runs over |V| word rows, never corpus rows. The
  * vocabulary is the MODEL: KB-scale, collected to the driver each
  * round (the centroid/codebook doctrine) and re-embedded as a plan
  * literal map, so segmentation is one codegen'd fold per word — no
  * join, no UDF, no state. Corpus-scale encoding segments the DISTINCT
  * words and joins back ([[encodeDocs]]), so 100 TB pays |V| folds
  * plus one hash join on the word.
  *
  * Coverage: the vocab always retains every single character seen at
  * train time (SentencePiece's character-coverage floor), so any
  * trainable word is segmentable. At encode time an UNSEEN character
  * falls back to one-char pieces at `unkScore` = (min vocab score) − 1
  * — strictly worse than any known piece, so it never displaces one.
  */
object Ulm {

  private def lit_(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Integer log2 (bit-length − 1) of a nonnegative long column —
    * q113's ilog2, the module's only "log".
    */
  private def ilog2(c: Column): Column =
    (length(bin(c)) - lit(1)).cast(LongType)

  /** (piece, n) seed statistics: every substring of length 1..`maxLen`
    * of every distinct word, weighted by word frequency — the
    * over-complete candidate pool the unigram model prunes. One hash
    * agg over |V| × O(len·maxLen) generated rows.
    */
  def seedCounts(docs: DataFrame, textCol: String,
      maxLen: Int): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    seedCounts0(Bpe.wordFreq(docs, textCol), maxLen)
  }

  /** ilog2 scores over a (piece, n) count frame: score = ilog2(n+1) −
    * ilog2(Σn + |V|) — shared by the seed audit (q148) and every EM
    * round (ONE definition, so the audit can never drift from the
    * trainer).
    */
  def scored(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum("n").as("t"), count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tot))
      .select(col("piece"), col("n"),
        (ilog2(col("n") + lit(1L)) - ilog2(col("t") + col("v")))
          .as("score_fp"))
  }

  /** The vocab rendered as foldable SQL array literals for the native
    * Viterbi kernels (the `pq_codes` convention — the kernel unpacks
    * them once at plan time): aligned `array<string>` pieces and
    * `array<bigint>` scores.
    */
  private def vocabLits(vocab: Seq[(String, Long)]): (String, String) = {
    require(vocab.nonEmpty, "empty vocabulary")
    (vocab.map(p => lit_(p._1)).mkString("array(", ", ", ")"),
      vocab.map(p => s"${p._2}L").mkString("array(", ", ", ")"))
  }

  /** (…, pieces) — Viterbi segmentation of `wordCol` under `vocab`.
    * r22: the DP is the native `ulm_pieces` kernel
    * ([[graft.functions.UlmPieces]]) — the nested-aggregate SQL
    * composition it replaces (kept as the parity reference in the
    * test tree's `ParityRefs.viterbiExprs`) is CodegenFallback and
    * rebuilds the whole DP array via `concat(acc, array(...))` per
    * step, O(len²) interpreted allocation per word. Same fold, same total tie order, same unk
    * fallback — FunctionsSpec pins the kernel against the SQL form.
    * A word whose every segmentation hits an invalid piece cannot
    * occur (single chars are always scorable), so `pieces` is total.
    */
  def segment(words: DataFrame, wordCol: String,
      vocab: Seq[(String, Long)], maxLen: Int): DataFrame = {
    graft.functions.Functions.register(words.sparkSession)
    val (ps, ss) = vocabLits(vocab)
    words.withColumn("pieces",
      expr(s"ulm_pieces($wordCol, $ps, $ss, $maxLen)"))
  }

  /** (…, score_fp, n_pieces) — the Viterbi-optimal segmentation's
    * TOTAL score and piece count of `wordCol` under `vocab`, read
    * straight from the DP's final cell (no piece reconstruction):
    * the native `ulm_seg_stats` kernel, one struct per word behind a
    * Generate barrier (both fields read it — the house barrier
    * pattern). Same DP as [[segment]] — ONE Viterbi definition
    * ([[graft.functions.UlmViterbi.dp]]), so a score can never
    * disagree with the segmentation it prices. The empty word scores
    * (0, 0).
    */
  def segmentStats(words: DataFrame, wordCol: String,
      vocab: Seq[(String, Long)], maxLen: Int): DataFrame = {
    graft.functions.Functions.register(words.sparkSession)
    val (ps, ss) = vocabLits(vocab)
    words
      .select(col("*"), explode(array(
        expr(s"ulm_seg_stats($wordCol, $ps, $ss, $maxLen)")))
        .as("__ulm_st"))
      .withColumn("score_fp", col("__ulm_st.s"))
      .withColumn("n_pieces", col("__ulm_st.np"))
      .drop("__ulm_st")
  }

  /** Per-document LM score under the unigram-LM tokenizer — the q113
    * mean-ll shape with ULM pieces in place of bigrams: ll_sum = the
    * sum of each word occurrence's Viterbi-optimal total score,
    * n_pieces = the total pieces emitted, ll_mean_fp =
    * floor(10^6 · ll_sum / n_pieces) (1e-6 fixed point per piece —
    * length-invariant, the mean-not-sum rationale; every step integer
    * or exact-floor, so the score is oracle-exact). This is the
    * CCNet-shaped "perplexity under the target-domain tokenizer+LM"
    * statistic the ULM trainer's scores induce. Factored through
    * DISTINCT words (the class doctrine — the Viterbi fold runs once
    * per distinct word, never per occurrence); the join back to the
    * occurrence stream is word-keyed and Catalyst sizes it (the
    * distinct-word side is vocabulary-scale). Documents with no
    * tokens are unscorable and get no row (the q113 < 2-bigram rule's
    * analog).
    */
  def scoreDocs(docs: DataFrame, textCol: String,
      vocab: Seq[(String, Long)], maxLen: Int = 4): DataFrame = {
    graft.functions.Functions.register(docs.sparkSession)
    val words = docs.select(col("doc_id"), explode(expr(
      s"word_toks($textCol)")).as("word"))
    val stats = segmentStats(words.select("word").distinct(), "word",
      vocab, maxLen)
    words.join(stats, "word")
      .groupBy("doc_id")
      .agg(sum("n_pieces").as("n_pieces"), sum("score_fp").as("ll_sum"))
      .select(col("doc_id"), col("n_pieces"), col("ll_sum"),
        floor((col("ll_sum") * lit(1000000L)).cast(DoubleType)
          / col("n_pieces").cast(DoubleType)).cast(LongType)
          .as("ll_mean_fp"))
  }

  /** One hard-EM round: segment the distinct-word table under the
    * current scores, recount pieces from the chosen segmentations
    * (weighted by word freq), keep the `maxVocab` highest-count pieces
    * PLUS every single character (coverage floor), rescore. Unused
    * pieces get no row — that is the pruning.
    */
  private def emRound(wordFreq: DataFrame, vocab: Seq[(String, Long)],
      maxLen: Int, maxVocab: Int): DataFrame = {
    val counts = segment(wordFreq, "word", vocab, maxLen)
      .select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("n"))
    selectVocab(counts, maxVocab)
  }

  /** Top-`maxVocab` pieces by (count desc, piece asc) UNION every
    * single-character piece in `counts` (the coverage floor), scored.
    */
  private def selectVocab(counts: DataFrame, maxVocab: Int): DataFrame =
    scored(
      counts.orderBy(desc("n"), col("piece")).limit(maxVocab)
        .unionByName(counts.filter(char_length(col("piece")) === 1))
        .groupBy("piece").agg(max("n").as("n")))

  private def collectVocab(df: DataFrame): Seq[(String, Long)] =
    df.select("piece", "score_fp").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1).toSeq

  /** Train a unigram-LM tokenizer: seed from substring statistics,
    * then `emRounds` hard-EM refine/prune rounds. Returns the final
    * (piece, score_fp) vocabulary, piece-sorted. The word-freq table
    * materializes once and feeds every round; each round's model is a
    * KB-scale driver collect (the centroid doctrine) — nothing
    * corpus-sized ever leaves the cluster.
    */
  def train(docs: DataFrame, textCol: String, maxLen: Int = 4,
      maxVocab: Int = 256, emRounds: Int = 2): Seq[(String, Long)] =
    trainFromWordFreq(Bpe.wordFreq(docs, textCol), maxLen, maxVocab,
      emRounds)

  /** [[train]] from an already-built (word, freq) frame — the form the
    * maintainer→serving loop uses (`Streams.ulmVocabFromSnapshot`
    * feeds the latest maintained term-counts snapshot here, so a
    * scheduled tokenizer retrain reads KB of counts, never the
    * corpus). Training on a maintained snapshot is bit-identical to
    * training on everything the maintainer has seen BECAUSE every
    * step is a pure function of the (word, freq) table — the
    * StreamingSpec law.
    */
  def trainFromWordFreq(wordFreq: DataFrame, maxLen: Int = 4,
      maxVocab: Int = 256, emRounds: Int = 2): Seq[(String, Long)] = {
    require(emRounds >= 0, s"emRounds must be >= 0, got $emRounds")
    val wf = Exec.materialize(wordFreq)
    try {
      var vocab = collectVocab(
        selectVocab(seedCounts0(wf, maxLen), maxVocab))
      var r = 0
      while (r < emRounds) {
        vocab = collectVocab(emRound(wf, vocab, maxLen, maxVocab))
        r += 1
      }
      vocab
    } finally Exec.release(wf)
  }

  /** [[seedCounts]] over an already-built word-freq frame (shared by
    * [[train]], which holds the frame across rounds).
    */
  private def seedCounts0(wordFreq: DataFrame, maxLen: Int): DataFrame =
    wordFreq
      .select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, char_length(word), 1), i ->
           | transform(sequence(1,
           |     least($maxLen, char_length(word) - i + 1), 1),
           |   l -> substring(word, i, l))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("n"))

  /** Corpus-scale encoding, factored exactly like [[Bpe.encodeDocs]]:
    * segment the DISTINCT words (|V| Viterbi folds), join back to the
    * exploded corpus positions, reassemble per-document piece
    * sequences in token order. Returns (doc_id, pieces).
    */
  def encodeDocs(docs: DataFrame, textCol: String,
      vocab: Seq[(String, Long)], maxLen: Int = 4): DataFrame = {
    graft.functions.Functions.register(docs.sparkSession)
    val pos = docs.select(col("doc_id"), posexplode(expr(
      s"word_toks($textCol)"))
      .as(Seq("pos", "word")))
    val enc = segment(pos.select("word").distinct(), "word", vocab,
      maxLen)
    pos.join(enc, "word")
      .groupBy("doc_id")
      .agg(expr("flatten(transform(array_sort(" +
        "collect_list(struct(pos, pieces))), p -> p.pieces))")
        .as("pieces"))
  }
}
