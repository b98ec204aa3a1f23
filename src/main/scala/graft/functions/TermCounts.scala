package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Occurrence counts of a fixed term list in a token array: element i is
  * how often `terms(i)` occurs. One hash lookup per token and no row per
  * token — the per-document pass of the BM25 search family
  * (TextOps.searchTopK / searchRrf / searchEval) reads its tf columns from
  * it. `terms` must be distinct.
  *
  * The count lives in [[TermCounts.count]]; generated code emits one call
  * to its static forwarder, as [[AsciiRunTokens]] does. */
case class TermCounts(child: Expression, terms: Seq[String]) extends UnaryExpression {
  require(terms == terms.distinct, s"terms must be distinct: $terms")

  @transient private lazy val index = TermCounts.index(terms)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"requires array<string>, got $t")
    }

  override def nullSafeEval(tokens: Any): Any =
    TermCounts.count(tokens.asInstanceOf[ArrayData], index)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("termIndex", index, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TermCounts.count($c, $idx);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TermCounts {

  /** Each term's position in the count array. */
  def index(terms: Seq[String]): java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    terms.zipWithIndex.foreach { case (t, i) => m.put(UTF8String.fromString(t), i) }
    m
  }

  /** Static entry for both interpreted eval and generated code. */
  def count(tokens: ArrayData, index: java.util.HashMap[UTF8String, Integer]): ArrayData = {
    val counts = new Array[Long](index.size)
    var i = 0
    while (i < tokens.numElements()) {
      val j = index.get(tokens.getUTF8String(i))
      if (j != null) counts(j) += 1
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }
}
