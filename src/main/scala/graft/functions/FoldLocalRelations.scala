package graft.functions

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences,
  Expression, GenericInternalRow, Generator, InterpretedMutableProjection,
  InterpretedUnsafeProjection, JoinedRow, UnsafeRow, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  AggregateFunction}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate,
  LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType,
  StructType, UserDefinedType, VariantType}

/** Evaluates driver-local subtrees on the driver: a `Generate`, a
  * grouping-only `Aggregate` (what `distinct()` becomes), a `Project`
  * or a `Filter` whose child is a non-streaming `LocalRelation` becomes
  * a `LocalRelation` of its rows, bottom-up, so a chain of them folds in
  * one pass. Spark's own `ConvertToLocalRelation` folds only Project,
  * Filter and Limit, so a query set built on the driver, such as
  * `Normalize.tokens(...).distinct()` over one search string, otherwise
  * runs as an explode, a shuffle stage for the distinct and a broadcast
  * job before any index row is read.
  *
  * A subtree stays as it is when an expression is nondeterministic or
  * unevaluable, when a grouping key holds a float, a double or a map
  * (Spark normalizes -0.0 and NaN in grouping keys later in the
  * optimizer, and two equal maps can differ in bytes), when evaluating
  * it throws (the error then surfaces at execution, where the plan
  * would have raised it), or when it would produce more than
  * [[MaxRows]] rows. Plans without a `LocalRelation` are not walked.
  * Injected by [[GraftExtensions]].
  */
object FoldLocalRelations extends Rule[LogicalPlan] {

  /** The most rows a fold may produce. Folded rows are computed by the
    * optimizer on the driver's one thread and are then held in the plan,
    * so a generator that multiplies a small relation into a large one
    * stays a distributed operator. Driver-built inputs this rule exists
    * for, such as a search's query terms, are tens of rows.
    */
  val MaxRows = 4096

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case p @ (_: Project | _: Filter | _: Generate | _: Aggregate) =>
        p.children match {
          case Seq(child: LocalRelation) if !child.isStreaming && evaluable(p) =>
            try fold(p, child).getOrElse(p)
            catch { case NonFatal(_) => p }
          case _ => p
        }
    }

  private def evaluable(p: LogicalPlan): Boolean =
    p.expressions.forall { e =>
      e.deterministic && !e.exists(x =>
        x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])
    }

  private def fold(p: LogicalPlan, child: LocalRelation): Option[LocalRelation] =
    p match {
      case _: Project | _: Filter =>
        ConvertToLocalRelation(p) match {
          case l: LocalRelation => Some(l)
          case _ => None
        }
      case g: Generate => generate(g, child)
      case a: Aggregate => distinct(a, child)
    }

  /** `GenerateExec`'s semantics, for one input partition. */
  private def generate(g: Generate, child: LocalRelation): Option[LocalRelation] = {
    val gen = BindReferences.bindReference(g.generator: Expression, child.output)
      .asInstanceOf[Generator]
    val out = new InterpretedMutableProjection(g.output,
      child.output ++ g.qualifiedGeneratorOutput)
    val nulls = new GenericInternalRow(g.generator.elementSchema.length)
    val joined = new JoinedRow
    val produced = child.data.iterator.flatMap { row =>
      val generated = gen.eval(row).iterator
      val right = if (g.outer && !generated.hasNext) Iterator.single(nulls) else generated
      right.map(r => out(joined(row, r)).copy())
    }
    val rows = produced.take(MaxRows + 1).toVector
    if (rows.size <= MaxRows && gen.terminate().iterator.isEmpty)
      Some(LocalRelation(g.output, rows))
    else None
  }

  /** A grouping-only aggregate: its outputs are functions of the
    * grouping keys, so each group's first row gives them.
    */
  private def distinct(a: Aggregate, child: LocalRelation): Option[LocalRelation] = {
    val groupingOnly = a.groupingExpressions.nonEmpty &&
      !a.aggregateExpressions.exists(_.exists(e =>
        e.isInstanceOf[AggregateExpression] || e.isInstanceOf[AggregateFunction])) &&
      !a.groupingExpressions.exists(k => bytesUnlikeEquality(k.dataType))
    if (!groupingOnly) return None
    val key = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(a.groupingExpressions, child.output))
    val out = new InterpretedMutableProjection(a.aggregateExpressions, child.output)
    val seen = mutable.HashSet[UnsafeRow]()
    val rows = child.data.collect {
      case row if seen.add(key(row).copy()) => out(row).copy()
    }
    if (rows.size <= MaxRows) Some(LocalRelation(a.output, rows)) else None
  }

  /** Whether two equal values of the type can differ in their
    * `UnsafeRow` bytes, which is what the fold groups on.
    */
  private def bytesUnlikeEquality(t: DataType): Boolean =
    !UnsafeRowUtils.isBinaryStable(t) || floatOrMap(t)

  private def floatOrMap(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: MapType | _: VariantType => true
    case ArrayType(e, _) => floatOrMap(e)
    case s: StructType => s.fields.exists(f => floatOrMap(f.dataType))
    case u: UserDefinedType[_] => floatOrMap(u.sqlType)
    case _ => false
  }
}
