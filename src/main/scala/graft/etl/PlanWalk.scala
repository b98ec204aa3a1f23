package graft.etl

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{BaseSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.types.DataType

/** Shared executed-plan traversal that descends through AQE wrappers (the
  * adaptive root and materialized query stages hide their final plans from
  * plain `foreach`). Used by the plan checks of rows and specs, and by the
  * structural plan digest Bench fingerprints rows with. */
object PlanWalk {
  def visit(node: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(node)
    node match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)(f)
      case q: QueryStageExec => visit(q.plan)(f)
      case _ =>
    }
    node.children.foreach(visit(_)(f))
  }

  /** 12-hex plan digest: md5 over the [[tokens]] of every plan given (a
    * streaming row passes its replay read and its stream computation).
    * Equal digests mean the same operators with the same arguments; the
    * digest does not depend on the JVM, the session's prior exprId
    * allocation, the shuffle width, or per-JVM scratch paths. */
  def digest(plans: QueryPlan[_]*): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(plans.flatMap(tokens).mkString("\n").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  /** One line per plan node, indented by depth: the node class and its
    * non-child arguments, rendered by [[show]]. The AQE descent matches
    * [[visit]]; query-stage wrappers keep only their class (their ids are
    * session counters). */
  def tokens(plan: QueryPlan[_]): Vector[String] = {
    def go(p: QueryPlan[_], indent: String): Vector[String] = {
      val (line, kids) = p match {
        case a: AdaptiveSparkPlanExec => (a.productPrefix, Seq(a.executedPlan))
        case q: QueryStageExec => (q.productPrefix, Seq(q.plan))
        case _ => (node(p), children(p))
      }
      (indent + line) +: kids.toVector.flatMap(go(_, indent + "  "))
    }
    go(plan, "")
  }

  private def children(p: QueryPlan[_]): Seq[QueryPlan[_]] =
    p.children.asInstanceOf[Seq[QueryPlan[_]]]

  // Argument lists that are sets in meaning but print in hash-decided
  // order (aggregate function lists, split scan-filter conjunctions).
  private val multisetFields =
    Set("aggregateAttributes", "partitionFilters", "dataFilters", "pushedFilters")

  private def node(p: QueryPlan[_]): String = {
    def isChild(c: AnyRef) = children(p).exists(_ eq c)
    val args = p.productIterator.zip(p.productElementNames).flatMap {
      case (c: AnyRef, _) if isChild(c) => None
      case (cs: Iterable[_], _) if cs.nonEmpty && cs.forall {
          case c: AnyRef => isChild(c); case _ => false } => None
      // session-derived: shuffle width on streaming aggregates, subquery
      // names carrying an exprId
      case (_, "numShufflePartitions") => None
      case (_, "name") if p.isInstanceOf[BaseSubqueryExec] => None
      // inlined rows (local relations) are data, not plan: the update-mode
      // stream row inlines emissions whose micro-batch split varies by run
      case (rows: Seq[_], _) if rows.headOption.exists(_.isInstanceOf[InternalRow]) => None
      // an AQE shuffle read keeps its kind (coalesced, skew-split, local),
      // not its width-sized partition ranges
      case (v: Iterable[_], "partitionSpecs") =>
        Some(bag(v.map(_.getClass.getSimpleName).toSeq.distinct))
      case (v: Iterable[_], f) if multisetFields(f) ||
          (f == "aggregateExpressions" && p.isInstanceOf[BaseAggregateExec]) =>
        Some(bag(v.map(show)))
      case (v, _) => Some(show(v))
    }
    p.productPrefix + args.mkString(" ", " | ", "")
  }

  private def bag(items: Iterable[String]): String =
    items.toSeq.sorted.mkString("{", ", ", "}")

  /** Canonical text of one argument value. Three rules keep it independent
    * of session, JVM and width: attributes render as name and type (never
    * the exprId); commutative chains and comparison pairs render in sorted
    * operand order; partitionings render kind and keys, not the count. */
  private def show(x: Any): String = x match {
    case null => "null"
    case p: QueryPlan[_] => tokens(p).map(_.trim).mkString("{", "; ", "}")
    case e: Expression => expr(e)
    case _: ExprId | _: java.util.UUID => "_"
    case s: String => if (s.contains("graft_stage_")) "graft_stage" else s
    case t: DataType => t.catalogString
    case f: org.apache.spark.sql.execution.datasources.FileIndex =>
      show(f.rootPaths.map(_.toString))
    case _: org.apache.spark.broadcast.Broadcast[_] => "broadcast"
    case m: scala.collection.Map[_, _] => bag(m.map { case (k, v) => s"${show(k)}=${show(v)}" })
    case s: Iterable[_] => s.map(show).mkString("[", ", ", "]")
    case a: Array[_] => a.map(show).mkString("[", ", ", "]")
    case p: Product => product(p)
    case o =>
      // identity-hash toString (closures, builders) → the class alone;
      // lambda classes drop their per-JVM allocation suffix
      val cls = o.getClass
      if (cls.getMethod("toString").getDeclaringClass != classOf[Object]) o.toString
      else cls.getName.indexOf("$$Lambda") match {
        case -1 => cls.getName
        case i => cls.getName.substring(0, i) + "$$Lambda"
      }
  }

  private def product(p: Product): String = {
    val args = p.productIterator.zip(p.productElementNames).collect {
      case (v, f) if !(f == "numPartitions" && p.isInstanceOf[Partitioning]) => show(v)
    }
    if (p.productArity == 0) p.productPrefix
    else args.mkString(p.productPrefix + "(", ", ", ")")
  }

  private def expr(e: Expression): String = e match {
    case a: Attribute => s"${attrName(a.name)}:${a.dataType.catalogString}"
    case v: LambdaVariable => s"lambda:${v.name}:${v.dataType.catalogString}"
    case v: NamedLambdaVariable => s"lambda:${lambdaName(v.name)}:${v.dataType.catalogString}"
    case l: Literal => s"$l:${l.dataType.catalogString}"
    case _: Add | _: Multiply | _: And | _: Or | _: EqualTo =>
      // flatten the same-operator chain, then render its operands as a
      // sorted multiset: a + b and b + a (and any chain nesting) agree
      def operands(c: Expression): Seq[Expression] =
        if (c.getClass == e.getClass && shape(c) == shape(e)) c.children.flatMap(operands)
        else Seq(c)
      e.children.flatMap(operands).map(expr).sorted
        .mkString(shape(e) + "{", ", ", "}")
    case LessThan(l, r) => ordered("<", l, r)
    case GreaterThan(l, r) => ordered("<", r, l)
    case LessThanOrEqual(l, r) => ordered("<=", l, r)
    case GreaterThanOrEqual(l, r) => ordered("<=", r, l)
    case _ => product(e)
  }

  /** An attribute name without the exprIds some names embed (aggregate
    * result attributes are named after their function: `sum(v#91)`). */
  private def attrName(n: String): String = {
    val parts = n.split('#')
    parts.head + parts.tail.map { p =>
      if (p.headOption.exists(_.isDigit)) p.dropWhile(_.isDigit) else "#" + p
    }.mkString
  }

  /** A lambda variable name without the `_<n>` suffix the DataFrame API
    * (`transform(col, x => ...)`) draws from a JVM-global counter. */
  private def lambdaName(n: String): String = {
    val i = n.lastIndexOf('_')
    if (i > 0 && i < n.length - 1 && n.substring(i + 1).forall(_.isDigit)) n.substring(0, i)
    else n
  }

  /** The operator with its non-child arguments (e.g. Add's eval mode). */
  private def shape(e: Expression): String =
    e.productIterator.filterNot(_.isInstanceOf[Expression]).map(show)
      .mkString(e.productPrefix + "[", ",", "]")

  /** `lo op hi` with the comparison direction normalized: `x < y` and
    * `y > x` render alike (operands in sorted order, operator flipped to
    * match). */
  private def ordered(op: String, lo: Expression, hi: Expression): String = {
    val (a, b) = (expr(lo), expr(hi))
    if (a <= b) s"($a $op $b)" else s"($b ${op.replace('<', '>')} $a)"
  }
}
