package graft

/** SQL-composition reference forms of native operator kernels — the
  * expressions the kernels replaced, kept in the test tree (beside
  * [[SignatureRefs]]) as the other side of the parity laws that pin
  * each kernel: FunctionsSpec checks `ulm_pieces`/`ulm_seg_stats`
  * against [[viterbiExprs]], and OperatorsSpec feeds [[ngramsSql]]
  * through QualityModel.train for the LangId one-vs-rest law.
  */
object ParityRefs {

  private def lit_(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** The unigram-LM Viterbi fold over one word column (the form
    * `Ulm.segment`/`Ulm.segmentStats` ran before the native kernels):
    * `best(i)` = the optimal (score, pieces, cut) for the length-i
    * prefix, maximizing score, then minimizing piece count, then
    * preferring the LONGEST final piece (smallest cut) — a total
    * order, so the DP is deterministic. Pure codegen'd expression
    * (nested aggregate/transform, a map literal for the vocab — no
    * UDF); pieces reconstruct by walking the cut chain backward, ≤ len
    * steps. Returns (best, pieces) SQL; `pieces` reads the DP array as
    * column `__ulm_best`. Unknown single chars score (min vocab score)
    * − 1.
    */
  def viterbiExprs(wordCol: String, vocab: Seq[(String, Long)],
      maxLen: Int): (String, String) = {
    require(vocab.nonEmpty, "empty vocabulary")
    val unk = vocab.map(_._2).min - 1L
    val mapLit = "map(" + vocab.map { case (p, s) =>
      s"${lit_(p)}, ${s}L" }.mkString(", ") + ")"
    // score of the candidate piece word[j..i] (1-based, inclusive):
    // vocab lookup, unknown single chars at unkScore, else invalid
    def sc = s"""coalesce(element_at($mapLit,
                |   substring($wordCol, j, i - j + 1)),
                | if(i = j, ${unk}L, cast(null as bigint)))""".stripMargin
    // the empty word short-circuits: sequence(1, 0, 1) would throw
    // Spark's illegal-boundaries error, and its answer is trivially
    // the empty segmentation
    val best =
      s"""if(char_length($wordCol) = 0,
         | array(named_struct('s', 0L, 'np', 0L, 'cut', 0)),
         | aggregate(sequence(1, char_length($wordCol), 1),
         | array(named_struct('s', 0L, 'np', 0L, 'cut', 0)),
         | (acc, i) -> concat(acc, array(
         |   aggregate(sequence(greatest(1, i - ${maxLen - 1}), i, 1),
         |     cast(null as struct<s: bigint, np: bigint, cut: int>),
         |     (b, j) -> if($sc is null OR element_at(acc, j).s is null, b,
         |       if(b is null
         |          OR element_at(acc, j).s + $sc > b.s
         |          OR (element_at(acc, j).s + $sc = b.s
         |              AND element_at(acc, j).np + 1L < b.np)
         |          OR (element_at(acc, j).s + $sc = b.s
         |              AND element_at(acc, j).np + 1L = b.np
         |              AND j - 1 < b.cut),
         |         named_struct('s', element_at(acc, j).s + $sc,
         |                      'np', element_at(acc, j).np + 1L,
         |                      'cut', j - 1),
         |         b)))))))""".stripMargin
    val pieces =
      s"""if(char_length($wordCol) = 0,
         | cast(array() as array<string>),
         | aggregate(sequence(1, char_length($wordCol), 1),
         | named_struct('pos', char_length($wordCol),
         |              'ps', cast(array() as array<string>)),
         | (st, x) -> if(st.pos <= 0, st,
         |   named_struct(
         |     'pos', element_at(__ulm_best, st.pos + 1).cut,
         |     'ps', concat(st.ps, array(substring($wordCol,
         |       element_at(__ulm_best, st.pos + 1).cut + 1,
         |       st.pos - element_at(__ulm_best, st.pos + 1).cut))))),
         | st -> reverse(st.ps)))""".stripMargin
    (best, pieces)
  }

  /** Raw ngram array SQL over an ALREADY-LOWERED string expression
    * (Catalyst does not hoist loop invariants out of HOF lambdas, so
    * the inlined-lower form would re-run lower() once per ngram).
    * Empty/short text yields the empty array (sequence(1, 0) would
    * throw).
    */
  private def ngramsOfLoweredSql(c: String, n: Int): String =
    s"""if(char_length($c) < $n,
       |  cast(array() as array<string>),
       |  transform(sequence(1, char_length($c) - ${n - 1}, 1),
       |    i -> substring($c, cast(i as int), $n)))""".stripMargin

  /** Raw lowercased char-ngram array SQL over `textCol` — LangId's
    * SEMANTIC feature definition (lower inlined), the same values the
    * native `lid_features` kernel hashes.
    */
  def ngramsSql(textCol: String, n: Int): String =
    ngramsOfLoweredSql(s"lower($textCol)", n)
}
