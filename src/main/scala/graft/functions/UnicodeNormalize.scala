package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a codegen'd scalar — the
  * curation-pipeline step that makes text dedup keys and tokenization
  * byte-stable across sources (a crawl ships "é" as U+00E9 or as
  * e + U+0301 depending on the producer; every downstream exact-hash
  * operator sees them as different documents until normalized).
  *
  * Spark has no built-in for this; the expression delegates to the JDK's
  * java.text.Normalizer (the canonical implementation both engines'
  * ecosystems wrap — DuckDB's nfc_normalize is the oracle counterpart for
  * the NFC form). Per-row scalar, map-only, stays inside whole-stage
  * codegen via a single static call. */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression {

  require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unsupported normalization form: $form")

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"requires string, got $t")
    }

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.asInstanceOf[UTF8String].toString,
      java.text.Normalizer.Form.valueOf(form)))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""UTF8String.fromString(java.text.Normalizer.normalize(
         |  $c.toString(), java.text.Normalizer.Form.$form))""".stripMargin)

  override def prettyName: String = s"unicode_normalize_$form"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnicodeNormalize {
  import org.apache.spark.sql.GraftColumnBridge.{toColumn, toExpression}
  def nfc(c: Column): Column = toColumn(UnicodeNormalize(toExpression(c), "NFC"))
}
