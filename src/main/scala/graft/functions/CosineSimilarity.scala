package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** `cosine_sim(a, b)` — cosine similarity of two `array<double>` vectors
  * as a NATIVE codegen'd Catalyst expression (SURVEY custom-operator
  * ladder step (b): a fused `doGenCode` loop beats the interpreted
  * `aggregate(zip_with(...))` higher-order-function composition ~10× —
  * HOFs are CodegenFallback and allocate a zipped array per row — and
  * beats any UDF by staying inside whole-stage codegen with primitive
  * doubles, no boxing, no SerDe).
  *
  * Numerical contract (bit-exact with the DuckDB oracle and with the HOF
  * form it replaces): one left-to-right pass accumulating dot, |a|², |b|²
  * in element order; result = dot / (sqrt(na) * sqrt(nb)). NULL if either
  * array is null, the lengths differ, or any element is null — exactly
  * the `aggregate(zip_with(...))` fold's behavior (zip_with pads the
  * shorter side with nulls, and a null poisons the sum). 0-length or
  * 0-norm inputs yield NaN exactly like the fold-based form.
  */
final case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // Can return null for NON-null inputs (length mismatch, null element)
  // — the BinaryExpression default (inputs' nullability) would declare
  // the output non-nullable and a folded null would read back as 0.0.
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $xv = $a.getDouble($i);
         |    double $yv = $b.getDouble($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot /
         |      (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** `l2_fp(a, b)` — quantized squared-L2 distance of two `array<double>`
  * vectors in 1e-12 fixed point as a NATIVE codegen'd expression: the
  * whole KMeans/PQ/IVF family's distance (assignment, encode, ADC
  * truth legs, SemDeDup, batch KNN) previously ran
  * `aggregate(zip_with(v, c, (x, y) -> cast(floor(((x - y) * (x - y))
  * * 1e12) as bigint)), 0L, (acc, d) -> acc + d)` — a CodegenFallback
  * higher-order chain that allocates a zipped array and interprets two
  * lambdas per element, per candidate pair (the cosine_sim lesson,
  * replayed on the L2 pillar).
  *
  * Numerical contract (bit-exact with the fold and the DuckDB oracle):
  * per element `(long) Math.floor((x−y)·(x−y) · 1e12)` — double
  * subtract, double square, double scale, exact floor-to-long (Spark's
  * floor(double) is the same `math.floor(_).toLong`, NaN → 0) —
  * summed left-to-right into a long with `Math.addExact`, so a sum past
  * 2^63 throws `ArithmeticException` as the ANSI fold does. NULL if
  * either array is null, the lengths differ, or any element is null —
  * exactly the zip_with-pads-with-null / null-poisons-the-fold
  * behavior (FunctionsSpec pins the parity, overflow included).
  * Domain: one element saturates at Long.MaxValue near |x−y| ≈ 3.0e3
  * (in both forms); the sum overflows once Σ(x−y)²·1e12 passes 2^63.
  * Every caller feeds unit-scale embedding/centroid vectors, far
  * inside both bounds.
  */
final case class L2Fp(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_fp expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "l2_fp"
  // Null for NON-null inputs too (length mismatch, null element).
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc = java.lang.Math.addExact(acc,
        java.lang.Math.floor(d * d * 1.0e12).toLong)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $acc = java.lang.Math.addExact($acc,
         |      (long) java.lang.Math.floor($d * $d * 1.0e12));
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): L2Fp =
    copy(left = newLeft, right = newRight)
}

/** `dot_fp(a, b, scale)` — fixed-point dot product: per element
  * `(long) Math.floor(x·y·scale)` summed left-to-right into a long —
  * bit-identical to `aggregate(zip_with(a, b, (x, y) ->
  * cast(floor((x * y) * <scale>d) as bigint)), 0L, (acc, d) ->
  * acc + d)` (the q89 random-projection fold at 1e6 and the ADC
  * batch-LUT fold at 1e12), with the same NULL and overflow semantics
  * as [[L2Fp]]: a sum past the long range throws, as the ANSI fold
  * does. `scale` must be a foldable double literal.
  */
final case class DotFp(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  private lazy val scale: Double =
    third.eval(null).asInstanceOf[Number].doubleValue()

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!ok(first.dataType) || !ok(second.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"dot_fp expects (array<double>, array<double>, double), got " +
          s"(${first.dataType.simpleString}, " +
          s"${second.dataType.simpleString})")
    else if (!third.foldable || third.dataType != DoubleType ||
        third.eval(null) == null)
      TypeCheckResult.TypeCheckFailure(
        "dot_fp scale must be a non-null double literal")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_fp"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any, s: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc = java.lang.Math.addExact(acc, java.lang.Math
        .floor(x.getDouble(i) * y.getDouble(i) * scale).toLong)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, _) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $acc = java.lang.Math.addExact($acc, (long) java.lang.Math.floor(
         |      $a.getDouble($i) * $b.getDouble($i) * ${scale}D));
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): DotFp =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Registration for the graft native functions — either through
  * [[GraftExtensions]] (`spark.sql.extensions=graft.GraftExtensions`) or
  * imperatively via `Functions.register(spark)` (idempotent; what
  * Verify/Bench/queries use since the driver owns session construction).
  */
object Functions {
  val cosineSimBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"cosine_sim expects 2 arguments, got ${other.size}")
  }

  private def unary(name: String,
      mk: Expression => Expression): Seq[Expression] => Expression = {
    case Seq(a) => mk(a)
    case other => throw new IllegalArgumentException(
      s"$name expects 1 argument, got ${other.size}")
  }

  /** All graft native functions, keyed by SQL name. */
  val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity], cosineSimBuilder),
    ("minhash_sig", classOf[MinhashSig],
      unary("minhash_sig", MinhashSig.apply)),
    ("simhash60", classOf[Simhash60], unary("simhash60", Simhash60.apply)),
    ("shingle_hashes", classOf[ShingleHashes],
      unary("shingle_hashes", ShingleHashes.apply)),
    ("quantize_i8", classOf[QuantizeI8],
      unary("quantize_i8", QuantizeI8.apply)),
    ("l2_fp", classOf[L2Fp], {
      case Seq(a, b) => L2Fp(a, b)
      case other => throw new IllegalArgumentException(
        s"l2_fp expects 2 arguments, got ${other.size}")
    }),
    ("dot_fp", classOf[DotFp], {
      case Seq(a, b, c) => DotFp(a, b, c)
      case other => throw new IllegalArgumentException(
        s"dot_fp expects 3 arguments, got ${other.size}")
    }),
    ("strip_accents", classOf[StripAccents],
      unary("strip_accents", StripAccents.apply)),
    ("lid_features", classOf[LidFeatures], {
      case Seq(a, b, c) => LidFeatures(a, b, c)
      case other => throw new IllegalArgumentException(
        s"lid_features expects 3 arguments, got ${other.size}")
    }),
    ("word_toks", classOf[WordToks],
      unary("word_toks", WordToks.apply)),
    ("gopher_stats", classOf[GopherStats],
      unary("gopher_stats", GopherStats.apply)),
    ("tok_bigram_counts", classOf[TokBigramCounts],
      unary("tok_bigram_counts", TokBigramCounts.apply)),
    ("tok_fids", classOf[TokFids], {
      case Seq(a, b) => TokFids(a, b)
      case other => throw new IllegalArgumentException(
        s"tok_fids expects 2 arguments, got ${other.size}")
    }),
    ("min_gram_md5", classOf[MinGramMd5], {
      case Seq(a, b) => MinGramMd5(a, b)
      case other => throw new IllegalArgumentException(
        s"min_gram_md5 expects 2 arguments, got ${other.size}")
    }),
    ("bloom_probe", classOf[BloomProbe], {
      case Seq(h, d, s) => BloomProbe(h, d, s)
      case other => throw new IllegalArgumentException(
        s"bloom_probe expects 3 arguments, got ${other.size}")
    }),
    ("pq_codes", classOf[PqCodes], {
      case Seq(v, cbv, cbc, d) => PqCodes(v, cbv, cbc, d)
      case other => throw new IllegalArgumentException(
        s"pq_codes expects 4 arguments, got ${other.size}")
    }),
    ("ulm_seg_stats", classOf[UlmSegStats], {
      case Seq(w, p, sc, ml) => UlmSegStats(w, p, sc, ml)
      case other => throw new IllegalArgumentException(
        s"ulm_seg_stats expects 4 arguments, got ${other.size}")
    }),
    ("ulm_pieces", classOf[UlmPieces], {
      case Seq(w, p, sc, ml) => UlmPieces(w, p, sc, ml)
      case other => throw new IllegalArgumentException(
        s"ulm_pieces expects 4 arguments, got ${other.size}")
    }),
    ("mc_stats", classOf[McStats], {
      case Seq(t, mn, nr) => McStats(t, mn, nr)
      case other => throw new IllegalArgumentException(
        s"mc_stats expects 3 arguments, got ${other.size}")
    }),
    ("cdc_chunk_strs", classOf[CdcChunkStrs], {
      case Seq(t) => CdcChunkStrs(t)
      case other => throw new IllegalArgumentException(
        s"cdc_chunk_strs expects 1 argument, got ${other.size}")
    }))

  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, cls, builder) =>
      if (!spark.sessionState.functionRegistry
          .functionExists(FunctionIdentifier(name)))
        spark.sessionState.functionRegistry.registerFunction(
          FunctionIdentifier(name),
          new ExpressionInfo(cls.getCanonicalName, name),
          builder)
    }
}
