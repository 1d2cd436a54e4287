package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the text-hashing hot paths — thin
  * wrappers over [[TextHashOps]] kernels (the semantics/bit-identity
  * contracts live there). Each replaces an interpreted higher-order
  * `transform`/`aggregate` lambda that evaluated per ELEMENT outside
  * whole-stage codegen; these evaluate as one static call per ROW inside
  * it (the DotProduct ladder, SURVEY.md §2.10).
  *
  * Injected session-wide by [[graft.GraftExtensions]] from
  * [[TextHashFunctions.sqlFunctions]].
  */
private object TextHashExpr {
  val longArray: DataType = ArrayType(LongType, containsNull = true)
  val intArray: DataType = ArrayType(IntegerType, containsNull = true)
  val stringArray: DataType = ArrayType(StringType, containsNull = true)

  def requireType(e: Expression, ok: Boolean, what: String): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected $what, got ${e.dataType.simpleString}")

  def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
}

/** `word_hashes(array<string>) -> array<long>` — per-word 28-bit md5
  * prefix (see [[TextHashOps.wordHashes]]). */
case class WordHashes(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child, TextHashExpr.isStringArray(child),
      "array<string>")
  override def dataType: DataType = TextHashExpr.longArray
  override def prettyName: String = "word_hashes"
  override protected def nullSafeEval(in: Any): Any =
    TextHashOps.wordHashes(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.wordHashes($c);")
  override protected def withNewChildInternal(c: Expression): WordHashes =
    copy(child = c)
}

/** `word_hashes_text(string) -> array<long>` — fused
  * `word_hashes(split(text, " "))` (see
  * [[TextHashOps.wordHashesFromText]]). */
case class WordHashesFromText(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child, child.dataType == StringType, "string")
  override def dataType: DataType = TextHashExpr.longArray
  override def prettyName: String = "word_hashes_text"
  override protected def nullSafeEval(in: Any): Any =
    TextHashOps.wordHashesFromText(
      in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.wordHashesFromText($c);")
  override protected def withNewChildInternal(c: Expression): WordHashesFromText =
    copy(child = c)
}

/** `md5_prefix(string, n) -> long` — scalar md5 hex-prefix bucketing
  * (see [[TextHashOps.md5Prefix]]). */
case class Md5Prefix(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child,
      child.dataType == StringType && n >= 1 && n <= 15,
      "string with n in 1..15")
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix"
  override protected def nullSafeEval(in: Any): Any =
    TextHashOps.md5Prefix(
      in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.md5Prefix($c, $n);")
  override protected def withNewChildInternal(c: Expression): Md5Prefix =
    copy(child = c)
}

/** `hash_grams(array<long>, width, distinct) -> array<long>` — windowed
  * hash n-gram ids (see [[TextHashOps.hashGrams]]). */
case class HashGrams(child: Expression, width: Int, distinct: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child,
      TextHashExpr.isLongArray(child) && width >= 1 && width <= 4,
      "array<long> with width in 1..4")
  override def dataType: DataType = TextHashExpr.longArray
  override def prettyName: String = "hash_grams"
  override protected def nullSafeEval(in: Any): Any =
    TextHashOps.hashGrams(in.asInstanceOf[ArrayData], width, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.hashGrams($c, $width, $distinct);")
  override protected def withNewChildInternal(c: Expression): HashGrams =
    copy(child = c)
}

/** `minhash_sig(array<long>) -> array<long>` — the 12 minhash values in
  * one pass (see [[TextHashOps.minHashSig]]). */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child, TextHashExpr.isLongArray(child),
      "array<long>")
  override def dataType: DataType = TextHashExpr.longArray
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(in: Any): Any =
    TextHashOps.minHashSig(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.minHashSig($c);")
  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** `sliding_min(array<long>, w) -> array<long>` — winnowing min-slide
  * (see [[TextHashOps.slidingMin]]). */
case class SlidingMin(child: Expression, w: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child,
      TextHashExpr.isLongArray(child) && w >= 1, "array<long> with w >= 1")
  override def dataType: DataType = TextHashExpr.longArray
  override def prettyName: String = "sliding_min"
  override protected def nullSafeEval(in: Any): Any =
    TextHashOps.slidingMin(in.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.slidingMin($c, $w);")
  override protected def withNewChildInternal(c: Expression): SlidingMin =
    copy(child = c)
}

/** `long_array_sum(array<long>) -> long` — exact fold-left sum, null
  * element poisons (see [[TextHashOps.longArraySum]]). */
case class LongArraySum(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child, TextHashExpr.isLongArray(child),
      "array<long>")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "long_array_sum"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else TextHashOps.longArraySum(v.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Long $boxed = graft.functions.TextHashOps.longArraySum($c);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.longValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): LongArraySum =
    copy(child = c)
}

/** `char_len_sum(array<string>) -> int` — per-word code-point count sum
  * (see [[TextHashOps.charLenSum]]). */
case class CharLenSum(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child, TextHashExpr.isStringArray(child),
      "array<string>")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "char_len_sum"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else TextHashOps.charLenSum(v.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Integer $boxed = graft.functions.TextHashOps.charLenSum($c);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.intValue(); }
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): CharLenSum =
    copy(child = c)
}

/** `count_alpha_words(array<string>) -> int` — words containing an ASCII
  * letter (see [[TextHashOps.countAlphaWords]]). */
case class CountAlphaWords(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child, TextHashExpr.isStringArray(child),
      "array<string>")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "count_alpha_words"
  override protected def nullSafeEval(in: Any): Any =
    TextHashOps.countAlphaWords(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.countAlphaWords($c);")
  override protected def withNewChildInternal(c: Expression): CountAlphaWords =
    copy(child = c)
}

/** `cdc_flags(array<long>) -> array<int>` — content-defined-chunking
  * boundary flags (see [[TextHashOps.cdcFlags]]). */
case class CdcFlags(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child, TextHashExpr.isLongArray(child),
      "array<long>")
  override def dataType: DataType = TextHashExpr.intArray
  override def prettyName: String = "cdc_flags"
  override protected def nullSafeEval(in: Any): Any =
    TextHashOps.cdcFlags(in.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.cdcFlags($c);")
  override protected def withNewChildInternal(c: Expression): CdcFlags =
    copy(child = c)
}

/** `char_trigrams(string) -> array<string>` — consecutive code-point
  * trigrams (see [[TextHashOps.charTrigrams]]). */
case class CharTrigrams(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(child, child.dataType == StringType, "string")
  override def dataType: DataType = TextHashExpr.stringArray
  override def prettyName: String = "char_trigrams"
  override protected def nullSafeEval(in: Any): Any =
    TextHashOps.charTrigrams(
      in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextHashOps.charTrigrams($c);")
  override protected def withNewChildInternal(c: Expression): CharTrigrams =
    copy(child = c)
}

/** `slice_join_grams(array<string>, d[, sep]) -> array<string>` — every
  * d-word window joined on `sep` (default a single space; see
  * [[TextHashOps.sliceJoinGrams]]). */
case class SliceJoinGrams(left: Expression, right: Expression, sep: String)
    extends BinaryExpression {
  private lazy val sepU8 =
    org.apache.spark.unsafe.types.UTF8String.fromString(sep)
  override def checkInputDataTypes(): TypeCheckResult =
    TextHashExpr.requireType(left,
      TextHashExpr.isStringArray(left) && right.dataType == IntegerType,
      "(array<string>, int)")
  override def dataType: DataType = TextHashExpr.stringArray
  override def prettyName: String = "slice_join_grams"
  override protected def nullSafeEval(ws: Any, d: Any): Any =
    TextHashOps.sliceJoinGrams(ws.asInstanceOf[ArrayData],
      d.asInstanceOf[Int], sepU8)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, d) => {
      val sepRef = ctx.addReferenceObj("sjgSep", sepU8,
        "org.apache.spark.unsafe.types.UTF8String")
      s"${ev.value} = graft.functions.TextHashOps.sliceJoinGrams($a, $d, $sepRef);"
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SliceJoinGrams =
    copy(left = newLeft, right = newRight)
}

object TextHashFunctions {
  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an int literal, got $other")
  }
  private def litBool(e: Expression, what: String): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  /** Every native text-hash function (see [[graft.functions.TextHashOps]]). */
  val sqlFunctions: Seq[SqlFunction] = table("graft.functions.TextHashOps")(
    "word_hashes" -> { es: Seq[Expression] =>
      require(es.size == 1, "word_hashes(words)"); WordHashes(es.head) },
    "word_hashes_text" -> { es: Seq[Expression] =>
      require(es.size == 1, "word_hashes_text(text)")
      WordHashesFromText(es.head) },
    "hash_grams" -> { es: Seq[Expression] =>
      require(es.size == 3, "hash_grams(hs, width, distinct)")
      HashGrams(es.head, litInt(es(1), "width"), litBool(es(2), "distinct")) },
    "md5_prefix" -> { es: Seq[Expression] =>
      require(es.size == 2, "md5_prefix(s, nHexChars)")
      Md5Prefix(es.head, litInt(es(1), "nHexChars")) },
    "minhash_sig" -> { es: Seq[Expression] =>
      require(es.size == 1, "minhash_sig(shingles)"); MinHashSig(es.head) },
    "sliding_min" -> { es: Seq[Expression] =>
      require(es.size == 2, "sliding_min(grams, w)")
      SlidingMin(es.head, litInt(es(1), "w")) },
    "long_array_sum" -> { es: Seq[Expression] =>
      require(es.size == 1, "long_array_sum(a)"); LongArraySum(es.head) },
    "char_len_sum" -> { es: Seq[Expression] =>
      require(es.size == 1, "char_len_sum(ws)"); CharLenSum(es.head) },
    "count_alpha_words" -> { es: Seq[Expression] =>
      require(es.size == 1, "count_alpha_words(ws)")
      CountAlphaWords(es.head) },
    "cdc_flags" -> { es: Seq[Expression] =>
      require(es.size == 1, "cdc_flags(hs)"); CdcFlags(es.head) },
    "char_trigrams" -> { es: Seq[Expression] =>
      require(es.size == 1, "char_trigrams(text)"); CharTrigrams(es.head) },
    "slice_join_grams" -> { es: Seq[Expression] =>
      require(es.size == 2 || es.size == 3, "slice_join_grams(ws, d[, sep])")
      val sep = if (es.size == 3) es(2) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v, StringType)
          if v != null => v.toString
        case other => throw new IllegalArgumentException(
          s"sep must be a string literal, got $other")
      } else " "
      SliceJoinGrams(es.head, es(1), sep) })
}
