package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Unicode normalization (SURVEY.md §2.10
  * preference order: custom `Expression` with codegen beats a UDF).
  *
  * Spark has no built-in UAX#15 normalizer, yet corpus hygiene starts
  * with one: the same text crawled twice can arrive NFC on one page and
  * NFD on the other, and every downstream content hash / shingle /
  * dedup key then disagrees about bytes that render identically. This
  * wraps `java.text.Normalizer` (the JDK's ICU-derived UAX#15
  * implementation — the same algorithm DuckDB's `nfc_normalize`
  * implements via utf8proc, so the cross-engine oracle is exact).
  *
  * Codegen note: the JDK normalizer is a static call on a String, so the
  * generated code stays inside whole-stage codegen — one
  * `UTF8String → String → normalize → UTF8String` round-trip per row,
  * no interpreted lambda, no serialization boundary.
  */
case class UnicodeNormalize(child: Expression, form: Normalizer.Form)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "unicode_normalize"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      Normalizer.normalize(input.asInstanceOf[UTF8String].toString, form))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val f = s"java.text.Normalizer.Form.${form.name()}"
      s"""
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(), $f));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {
  /** `unicode_normalize(str, 'NFC'|'NFD'|'NFKC'|'NFKD')`. The form
    * argument must be a foldable string literal (it selects a
    * compile-time constant in the generated code). */
  val sqlFunctions: Seq[SqlFunction] = table(classOf[UnicodeNormalize].getName)(
    "unicode_normalize" -> { exprs =>
      require(exprs.size == 2, "unicode_normalize(str, form)")
      val formName = exprs(1) match {
        case lit if lit.foldable =>
          lit.eval(null).asInstanceOf[UTF8String].toString.toUpperCase
        case other =>
          throw new IllegalArgumentException(
            s"unicode_normalize form must be a literal, got $other")
      }
      UnicodeNormalize(exprs.head, Normalizer.Form.valueOf(formName))
    })
}
