package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a broadcast Bloom filter, as a native Catalyst
  * expression — the codegen'd replacement for a closure `udf` (a udf forces
  * its input through a safe-row conversion and breaks whole-stage fusion
  * around the hottest per-shingle filter in the decontamination path; see
  * Spark's own `BloomFilterMightContain`, which this mirrors with a
  * broadcast payload instead of a plan-embedded literal, so the filter
  * bits ship to each executor once — not once per task with the plan).
  *
  * Generated code caches `broadcast.value()` in a mutable-state field at
  * stage init, so the per-row work is one virtual call on the filter —
  * the expression stays inside the WholeStageCodegen span
  * (text_decontaminate_bloom's executed plan shows it inside the span).
  */
case class BloomMightContainLong(child: Expression, bloom: Broadcast[BloomFilter])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"requires bigint, got $t")
  }

  override def nullSafeEval(h: Any): Any =
    bloom.value.mightContainLong(h.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcCls = classOf[Broadcast[_]].getName
    val bfCls = classOf[BloomFilter].getName
    val ref = ctx.addReferenceObj("graftBloomBc", bloom, bcCls)
    val bf = ctx.addMutableState(bfCls, "graftBloomFilter",
      v => s"$v = ($bfCls) $ref.value();")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $bf.mightContainLong($c);")
  }

  // Deterministic identity: the default case-class hashCode reaches the
  // Broadcast wrapper's IDENTITY hash, which varies with allocation history —
  // Catalyst sorts commutative operands by hashCode during canonicalization,
  // so an identity hash destabilizes plan fingerprints across sessions.
  // Equality keys on the broadcast id (same broadcast ⇔ same filter within a
  // session); the hash keys on the child only — stable, and still consistent
  // with equals.
  override def equals(other: Any): Boolean = other match {
    case o: BloomMightContainLong => child == o.child && bloom.id == o.bloom.id
    case _ => false
  }
  override def hashCode(): Int = 31 * child.hashCode() + 41

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
