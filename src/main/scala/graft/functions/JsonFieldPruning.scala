package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.JSON_TO_STRUCT
import org.apache.spark.sql.types.StructType

/** Optimizer rule: narrows a `from_json(v, S) AS data` projection to the
  * top-level fields of `S` that the plan above it reads.
  *
  * The P1–P3 decode (`from_json` → `data.*`) followed by an aggregate
  * leaves `Project [data.f, data.g, ...] ← Project [from_json(S) AS data]`:
  * `CollapseProject` will not inline a `from_json` that is read more than
  * once, and Spark's own pruning (`OptimizeCsvJsonExprs`) only fires on a
  * `GetStructField` applied directly to the `from_json`, i.e. when exactly
  * one field is read. So every record was parsed against all of `S`.
  *
  * Matched shape: a `Project` or `Aggregate` directly over the `Project`
  * that aliases the `from_json`. The reader ends `data`'s scope, so if
  * every use of `data` in it is a `GetStructField`, the schema is narrowed
  * to the fields read (kept in schema order) and each ordinal and the
  * attribute's type are remapped. A bare use of `data` (`to_json(data)`,
  * `data` passed up) leaves it whole, and so does a subquery in the reader
  * (its outer references are not children this rule can see). No `Filter`
  * is left between the two by this batch: `PushPredicateThroughNonJoin`
  * moves it below the decode with its own single-field `from_json`, which
  * Spark's pruning already narrows.
  *
  * Fires only where Spark's single-field pruning would: empty `options`
  * (a `FAILFAST` mode must see the whole document) and
  * `spark.sql.optimizer.enableJsonExpressionOptimization` on; and not when
  * `S` holds the corrupt-record column, which captures the document
  * whenever any field fails to parse. A kept field reads the same either
  * way: the parser nulls a top-level field that fails to convert and goes
  * on, under both `spark.sql.json.enablePartialResults` settings, while a
  * syntax error still fails the whole record because pruned fields are
  * still tokenized to be skipped.
  *
  * Plans without a `from_json` pay one tree-pattern bit test. Verified by
  * `JsonFieldPruningSpec`. Installed by
  * [[GraftExtensions.installOptimizations]].
  */
object JsonFieldPruning extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(JSON_TO_STRUCT) || !conf.jsonExpressionOptimization) plan
    else plan.transformDownWithPruning(_.containsPattern(JSON_TO_STRUCT)) {
      case reader @ (_: Project | _: Aggregate) => narrow(reader)
    }

  /** `reader` with the decode projection under it narrowed, or `reader`
    * itself. */
  private def narrow(reader: LogicalPlan): LogicalPlan = reader.children match {
    case Seq(decode @ Project(list, _))
        if !reader.expressions.exists(SubqueryExpression.hasSubquery) =>
      val narrowed = list.map {
        case a @ Alias(j: JsonToStructs, _) => narrowAlias(a, j, reader.expressions)
        case e => (e, None)
      }
      val remaps = narrowed.flatMap(_._2).toMap
      if (remaps.isEmpty) reader
      else reader.withNewChildren(Seq(decode.copy(projectList = narrowed.map(_._1))))
        .transformExpressions {
          case GetStructField(d: Attribute, ordinal, name) if remaps.contains(d.exprId) =>
            val (attr, ordinals) = remaps(d.exprId)
            GetStructField(attr, ordinals(ordinal), name)
        }
    case _ => reader
  }

  /** The narrowed alias plus its id → (new attribute, old → new ordinal),
    * or the alias unchanged when it must parse its whole schema. */
  private def narrowAlias(a: Alias, j: JsonToStructs, readers: Seq[Expression])
      : (NamedExpression, Option[(ExprId, (Attribute, Map[Int, Int]))]) = j.schema match {
    case s: StructType if j.options.isEmpty &&
        !s.fieldNames.contains(conf.columnNameOfCorruptRecord) =>
      fieldsRead(a.exprId, readers) match {
        case Some(read) if read.nonEmpty && read.size < s.length =>
          val kept = read.toSeq.sorted
          val narrowedAlias = a.withNewChildren(Seq(
            j.copy(schema = StructType(kept.map(s(_)))))).asInstanceOf[Alias]
          (narrowedAlias, Some(a.exprId -> (narrowedAlias.toAttribute, kept.zipWithIndex.toMap)))
        case _ => (a, None)
      }
    case _ => (a, None)
  }

  /** The ordinals read from attribute `id` in `exprs`, or None if any use
    * of it is not a `GetStructField`. */
  private def fieldsRead(id: ExprId, exprs: Seq[Expression]): Option[Set[Int]] = {
    def go(e: Expression): Option[Set[Int]] = e match {
      case GetStructField(d: Attribute, ordinal, _) if d.exprId == id => Some(Set(ordinal))
      case d: Attribute if d.exprId == id => None
      case other => visit(other.children)
    }
    def visit(es: Seq[Expression]): Option[Set[Int]] =
      es.foldLeft(Option(Set.empty[Int])) { (acc, e) => acc.flatMap(s => go(e).map(s ++ _)) }
    visit(exprs)
  }
}
