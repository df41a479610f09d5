package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.graftshim.{ColumnShim => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY.md §4.3). Each has `doGenCode`
  * that emits a static call into [[TextAlgos]], so the expression stays
  * inside whole-stage codegen (no iterator break, no UDF boxing); `eval`
  * paths call the same static, so interpreted and codegen results are
  * identical by construction.
  */
object GraftExpressions {

  /** Static entry points for generated code (UTF8String in, primitive
    * out — no boxing).
    */
  def repetitionRatio(s: UTF8String, n: Int): Double =
    TextAlgos.distinctNgramFraction(
      if (s == null) null else s.toString.toLowerCase(java.util.Locale.ROOT), n)

  def symbolDensity(s: UTF8String): Double =
    TextAlgos.symbolDensity(if (s == null) null else s.toString)

  def jaroWinkler(a: UTF8String, b: UTF8String): Double =
    // byte-wise like pg_similarity/DuckDB; UTF8String exposes the UTF-8
    // bytes directly (no String round-trip)
    TextAlgos.jaroWinklerBytes(
      if (a == null) null else a.getBytes,
      if (b == null) null else b.getBytes)

  def simHash(s: UTF8String): Long =
    TextAlgos.simHash(if (s == null) null else s.toString)

  def fingerprint(s: UTF8String): Long =
    TextAlgos.docFingerprint(if (s == null) null else s.toString)

  def ngramJaccard(a: UTF8String, b: UTF8String, k: Int): Double =
    TextAlgos.ngramJaccard(
      if (a == null) null else a.toString,
      if (b == null) null else b.toString, k)

  def minHashSig(s: UTF8String, numHashes: Int, k: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      TextAlgos.minHashSignature(
        TextAlgos.shingles(if (s == null) null else s.toString, k), numHashes))

  /** Signed-random-projection signature (one long per table) over a
    * float-array embedding. Hyperplane components are splitmix64-derived
    * from (seed, table, bit, dim) — deterministic — and cached per
    * executor (computing them per ROW was O(tables·bits·dim) mix64 calls
    * per embedding).
    */
  def srpSig(vec: org.apache.spark.sql.catalyst.util.ArrayData,
             seed: Long, tables: Int, bits: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val v = vec.toFloatArray()
    val planes = SrpPlanes.get(seed, tables, bits, v.length)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        var dot = 0.0
        val base = (t * bits + b) * v.length
        var d = 0
        while (d < v.length) { dot += v(d).toDouble * planes(base + d); d += 1 }
        if (dot > 0) sig |= (1L << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Whitespace-normalize + full PII scrub chain + per-rule counts in
    * ONE pass over the string — literally the oracle's code path
    * (graft.scrub.Scrub), so pipeline/oracle text equality holds by
    * construction. Returns struct<scrubbed_text, c_email, c_key,
    * c_phone, c_slur>. One String materialization instead of nine
    * UTF8String↔String round-trips (GC contention at 32 sort threads
    * was the window-stage scaling bottleneck).
    */
  def scrubAll(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val raw = if (s == null) null else s.toString
    val norm = graft.scrub.Scrub.normalizeWsPlain(raw)
    val (scrubbed, counts) = graft.scrub.Scrub.scrubPlainArray(norm)
    val out = new Array[Any](1 + counts.length)
    // text untouched by normalize + scrub (the common case): pass the
    // input UTF8String through instead of re-encoding the same bytes
    out(0) =
      if (scrubbed == null) null
      else if (scrubbed eq raw) s
      else UTF8String.fromString(scrubbed)
    var i = 0
    while (i < counts.length) { out(i + 1) = counts(i); i += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  /** Cosine similarity of two float-array embeddings — the codegen
    * replacement for the zip_with/aggregate column chain (higher-order
    * array functions are CodegenFallback: interpreted per row, one
    * intermediate array per transform). Emulates the column chain's
    * SQL three-valued logic EXACTLY (asserted element-wise against it
    * in SimilaritySpec), INCLUDING null array inputs:
    *  - a norm is null iff its array is null or holds a null element;
    *  - the dot product is null iff either array is null, lengths
    *    differ (zip_with pads with null), or a null element exists;
    *  - `when(na = 0 OR nb = 0, 0.0)` is SQL OR: it fires when EITHER
    *    norm is provably zero — even when the other side is null (the
    *    old chain returned 0.0 for a zero vector vs a NULL array);
    *    otherwise the null dot/norms propagate.
    * Accumulation order is the same left-to-right fold from 0.0, so
    * non-null results are bit-identical.
    */
  def cosineSim(aD: org.apache.spark.sql.catalyst.util.ArrayData,
                bD: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Double = {
    var naNull = aD == null
    var na = 0.0
    if (aD != null) {
      var i = 0
      val la = aD.numElements()
      while (i < la) {
        if (aD.isNullAt(i)) naNull = true
        else { val v = aD.getFloat(i).toDouble; na += v * v }
        i += 1
      }
    }
    var nbNull = bD == null
    var nb = 0.0
    if (bD != null) {
      var i = 0
      val lb = bD.numElements()
      while (i < lb) {
        if (bD.isNullAt(i)) nbNull = true
        else { val v = bD.getFloat(i).toDouble; nb += v * v }
        i += 1
      }
    }
    if ((!naNull && na == 0.0) || (!nbNull && nb == 0.0)) return 0.0
    if (naNull || nbNull || aD.numElements() != bD.numElements()) return null
    var dot = 0.0
    var i = 0
    val la = aD.numElements()
    while (i < la) { dot += aD.getFloat(i).toDouble * bD.getFloat(i).toDouble; i += 1 }
    dot / java.lang.Math.sqrt(na * nb)
  }

  private val MaxSentinelLen: Int =
    graft.rules.RuleConfig.Sentinels.map(_.length).max

  /** Whitespace-normalized text with its `norm_len` and `is_empty`: the
    * one derivation behind both the scoring projection ([[scoreAll]])
    * and the raw boilerplate census
    * (QualityFilter.boilerplateDropKeysRaw), so the two can never
    * disagree on which turns are empty or how long they are.
    */
  private[graft] def normalized(raw: String): (String, Int, Boolean) = {
    val norm = graft.scrub.Scrub.normalizeWsPlain(raw)
    // length guard: Set.contains hashes its argument, an O(len) pass
    // wasted on every ordinary turn — no sentinel is longer than
    // MaxSentinelLen, so longer texts skip the lookup (same result)
    val isEmpty = raw == null || (norm.length <= MaxSentinelLen &&
      graft.rules.RuleConfig.Sentinels.contains(norm))
    (norm, if (norm == null) 0 else norm.length, isEmpty)
  }

  /** Whitespace-normalize + fused model scoring (language-ID +
    * perplexity over the dense union tables) + per-turn text metrics in
    * ONE pass — the score stage as a codegen expression instead of a
    * mapPartitions object pass: no Turn/ScoredTurn (de)serialization,
    * and the scan → projection → exchange pipeline stays inside
    * whole-stage codegen. Calls exactly the functions the object pass
    * called ([[normalized]], TurnScorer.score, TextAlgos.turnMetrics),
    * so every produced value is bit-identical. Returns struct<lang,
    * lang_conf, ppl, norm_len, norm_hash, is_empty, sym_density,
    * rep_ratio>.
    */
  def scoreAll(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val (norm, normLen, isEmpty) = normalized(if (s == null) null else s.toString)
    val (lang, conf, ppl) = graft.lm.TurnScorer.default.score(norm)
    val (symD, hash, rep) =
      TextAlgos.turnMetrics(norm, graft.rules.RuleConfig.RepetitionOrder)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(lang), conf, ppl, normLen, hash, isEmpty, symD, rep))
  }

  // ------------------------------------------------------- Column API

  def repetition_ratio(c: Column, n: Int = 3): Column =
    ExpressionUtils.column(RepetitionRatio(ExpressionUtils.expression(c), n))

  def symbol_density(c: Column): Column =
    ExpressionUtils.column(SymbolDensityExpr(ExpressionUtils.expression(c)))

  def jaro_winkler(a: Column, b: Column): Column =
    ExpressionUtils.column(
      JaroWinklerExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def sim_hash(c: Column): Column =
    ExpressionUtils.column(SimHashExpr(ExpressionUtils.expression(c)))

  def doc_fingerprint(c: Column): Column =
    ExpressionUtils.column(FingerprintExpr(ExpressionUtils.expression(c)))

  def ngram_jaccard(a: Column, b: Column, k: Int = 3): Column =
    ExpressionUtils.column(
      NgramJaccardExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b), k))

  def scrub_all(c: Column): Column =
    ExpressionUtils.column(ScrubAllExpr(ExpressionUtils.expression(c)))

  def score_all(c: Column): Column =
    ExpressionUtils.column(ScoreAllExpr(ExpressionUtils.expression(c)))

  def cosine_sim(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def min_hash_sig(c: Column, numHashes: Int, k: Int): Column =
    ExpressionUtils.column(MinHashSigExpr(ExpressionUtils.expression(c), numHashes, k))

  def srp_sig(c: Column, seed: Long, tables: Int, bits: Int): Column =
    ExpressionUtils.column(SrpSigExpr(ExpressionUtils.expression(c), seed, tables, bits))
}

/** Per-executor cache of SRP hyperplanes, flattened [table][bit][dim].
  * Component formula must stay identical to round-1's per-row udf:
  * uniform in [-1,1) from mix64(seed ^ t<<40 ^ b<<20 ^ d).
  */
private object SrpPlanes {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int, Int), Array[Double]]()
  def get(seed: Long, tables: Int, bits: Int, dim: Int): Array[Double] =
    cache.computeIfAbsent((seed, tables, bits, dim), { _ =>
      val out = new Array[Double](tables * bits * dim)
      var i = 0
      var t = 0
      while (t < tables) {
        var b = 0
        while (b < bits) {
          var d = 0
          while (d < dim) {
            val h = TextAlgos.mix64(seed ^ (t.toLong << 40) ^ (b.toLong << 20) ^ d.toLong)
            out(i) = (h >>> 11).toDouble / (1L << 52).toDouble - 1.0
            i += 1; d += 1
          }
          b += 1
        }
        t += 1
      }
      out
    })
}

/** Fused normalize + PII scrub + counts (see GraftExpressions.scrubAll). */
case class ScrubAllExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ScrubAllExpr.schema
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    GraftExpressions.scrubAll(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        InternalRow ${ev.value} = graft.functions.GraftExpressions.scrubAll(
          ${c.isNull} ? null : ${c.value});
        boolean ${ev.isNull} = false;
      """)
  }
  override protected def withNewChildInternal(newChild: Expression): ScrubAllExpr =
    copy(child = newChild)
}

object ScrubAllExpr {
  import graft.rules.RuleConfig
  val schema: StructType = StructType(
    StructField("scrubbed_text", StringType) +:
      RuleConfig.ScrubChain.map { case (rule, _, _) =>
        StructField(s"c_$rule", IntegerType, nullable = false)
      })
}

/** Fused normalize + model scoring + text metrics (see
  * GraftExpressions.scoreAll). Never null (null text scores as the
  * empty turn, exactly like the object pass did).
  */
case class ScoreAllExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ScoreAllExpr.schema
  override def nullable: Boolean = false
  override def nullIntolerant: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    GraftExpressions.scoreAll(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        InternalRow ${ev.value} = graft.functions.GraftExpressions.scoreAll(
          ${c.isNull} ? null : ${c.value});
        boolean ${ev.isNull} = false;
      """)
  }
  override protected def withNewChildInternal(newChild: Expression): ScoreAllExpr =
    copy(child = newChild)
}

object ScoreAllExpr {
  val schema: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("lang_conf", DoubleType, nullable = false),
    StructField("ppl", DoubleType, nullable = false),
    StructField("norm_len", IntegerType, nullable = false),
    StructField("norm_hash", LongType, nullable = false),
    StructField("is_empty", BooleanType, nullable = false),
    StructField("sym_density", DoubleType, nullable = false),
    StructField("rep_ratio", DoubleType, nullable = false)))
}

/** Codegen cosine similarity over float-array embeddings (see
  * GraftExpressions.cosineSim for the exact null semantics it
  * replicates). NOT null-intolerant: a null array on one side with a
  * zero-norm vector on the other still returns 0.0 (SQL OR in the old
  * chain's `when`), so null inputs must reach the static call.
  * Inputs are type-checked to array<float> — the old chain silently
  * cast other numeric arrays, this expression would misread them.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<float> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    GraftExpressions.cosineSim(
      left.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      right.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    val tmp = ctx.freshName("cosv")
    ev.copy(
      code = code"""
        ${a.code}
        ${b.code}
        java.lang.Double $tmp = graft.functions.GraftExpressions.cosineSim(
          ${a.isNull} ? null : ${a.value},
          ${b.isNull} ? null : ${b.value});
        boolean ${ev.isNull} = $tmp == null;
        double ${ev.value} = ${ev.isNull} ? 0.0 : $tmp.doubleValue();
      """)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** Distinct-fraction of char n-grams of lowercase(input) — the
  * repetition detector (generalizes data_types.json:8-12's
  * `([a-zA-Z])\1{2,}` which needs backreferences).
  */
case class RepetitionRatio(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(input: Any): Any =
    GraftExpressions.repetitionRatio(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftExpressions.repetitionRatio($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionRatio =
    copy(child = newChild)
}

case class SymbolDensityExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(input: Any): Any =
    GraftExpressions.symbolDensity(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftExpressions.symbolDensity($c)")
  override protected def withNewChildInternal(newChild: Expression): SymbolDensityExpr =
    copy(child = newChild)
}

/** Jaro-Winkler similarity — Spark only ships levenshtein; the
  * reference's suggestion joins (functions.sql:1665-1779) need JW.
  */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    GraftExpressions.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.GraftExpressions.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpr =
    copy(left = newLeft, right = newRight)
}

case class SimHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(input: Any): Any =
    GraftExpressions.simHash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftExpressions.simHash($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

case class FingerprintExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(input: Any): Any =
    GraftExpressions.fingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftExpressions.fingerprint($c)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
}

/** MinHash signature (array<bigint>, length numHashes) of word-shingled
  * text — the LSH signature stage of near-dup detection, kept inside
  * whole-stage codegen (the round-1 udf boxed a Seq[Long] per row).
  */
case class MinHashSigExpr(child: Expression, numHashes: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(input: Any): Any =
    GraftExpressions.minHashSig(input.asInstanceOf[UTF8String], numHashes, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftExpressions.minHashSig($c, $numHashes, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** SRP-LSH signature (array<bigint>, one long per table) of a
  * float-array embedding.
  */
case class SrpSigExpr(child: Expression, seed: Long, tables: Int, bits: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(input: Any): Any =
    GraftExpressions.srpSig(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], seed, tables, bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftExpressions.srpSig($c, ${seed}L, $tables, $bits)")
  override protected def withNewChildInternal(newChild: Expression): SrpSigExpr =
    copy(child = newChild)
}

case class NgramJaccardExpr(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any =
    GraftExpressions.ngramJaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.GraftExpressions.ngramJaccard($a, $b, $k)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramJaccardExpr =
    copy(left = newLeft, right = newRight)
}
