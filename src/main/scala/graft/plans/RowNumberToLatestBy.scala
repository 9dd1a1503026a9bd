package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType, TimestampType}
import graft.functions.{LatestByOrder, TopKByOrder}

/** Optimizer rule: rewrite the reference's compaction idiom
  *
  *   ... ROW_NUMBER() OVER (PARTITION BY pk
  *                          ORDER BY ts DESC, pos DESC) AS rn
  *   ... WHERE rn = 1
  *
  * (bigquery_syntex_merge_sql/merge.sql:309–325 — the shape every
  * CDC-on-SQL pipeline writes) into the LatestByOrder hash
  * aggregation. The window form shuffles AND sorts every partition;
  * the aggregate form is ObjectHashAggregate with map-side partial
  * combine — same result, no sort, shuffle ≈ |distinct keys|
  * (measured 10 M rows: 1.0 s vs a full sort; core_scale probe).
  *
  * Conservative guards: exactly one window expression (the
  * row_number), two DESC NULLS LAST order keys (matching
  * LatestByOrder's null-as-minus-infinity contract), both child
  * attributes of an exactly-long-encodable type (bigint, int,
  * smallint, or timestamp — the reference orders by a timestamp,
  * merge.sql:310), rn only used as the `= 1` filter and dropped
  * by the surrounding projection.
  *
  * Registered by GraftExtensions (injectOptimizerRule) or
  * `spark.experimental.extraOptimizations`.
  */
object RowNumberToLatestBy extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList, FilteredRn(rnAttr, k, w))
        if eligible(w) && !projectList.exists(_.references.contains(rnAttr)) &&
          projectList.forall(_.references.subsetOf(w.child.outputSet)) =>
      Project(projectList, if (k == 1) rewrite(w) else rewriteTopK(w, k))
  }

  /** Filter(rn = 1 | rn <= k, Window(...)) with the rn from that
    * window; yields the effective k (1 for the equality form).
    */
  private object FilteredRn {
    def unapply(plan: LogicalPlan): Option[(Attribute, Int, Window)] = plan match {
      case Filter(EqualTo(a: Attribute, IntegerLiteral(1)), w: Window)
          if isRnWindow(w, a) => Some((a, 1, w))
      case Filter(EqualTo(IntegerLiteral(1), a: Attribute), w: Window)
          if isRnWindow(w, a) => Some((a, 1, w))
      case Filter(LessThanOrEqual(a: Attribute, IntegerLiteral(k)), w: Window)
          if k >= 1 && isRnWindow(w, a) => Some((a, k, w))
      case Filter(GreaterThanOrEqual(IntegerLiteral(k), a: Attribute), w: Window)
          if k >= 1 && isRnWindow(w, a) => Some((a, k, w))
      case Filter(LessThan(a: Attribute, IntegerLiteral(k)), w: Window)
          if k >= 2 && isRnWindow(w, a) => Some((a, k - 1, w))
      case _ => None
    }
  }

  private def isRnWindow(w: Window, rn: Attribute): Boolean = w.windowExpressions match {
    case Seq(al @ Alias(WindowExpression(RowNumber(), _), _)) => al.exprId == rn.exprId
    case _ => false
  }

  private def eligible(w: Window): Boolean = {
    val pksOk = w.partitionSpec.nonEmpty && w.partitionSpec.forall {
      case a: Attribute => w.child.outputSet.contains(a)
      case _ => false
    }
    val ordOk = w.orderSpec match {
      case Seq(SortOrder(o1: Attribute, Descending, NullsLast, _),
          SortOrder(o2: Attribute, Descending, NullsLast, _)) =>
        // NULLS LAST ⇔ LatestByOrder's null-as-minus-infinity contract
        supportedKey(o1.dataType) && supportedKey(o2.dataType) &&
          w.child.outputSet.contains(o1) && w.child.outputSet.contains(o2)
      case _ => false
    }
    pksOk && ordOk
  }

  /** Key types whose order embeds exactly into BIGINT. (No date: the
    * CDC idiom orders by event timestamp/position; widen if needed.)
    */
  private def supportedKey(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | TimestampType => true
    case _ => false
  }

  /** Normalize a supported key to BIGINT preserving order and nulls:
    * int/smallint widen exactly; timestamp → UnixMicros (CAST floors
    * to whole seconds and would merge sub-second-distinct events).
    */
  private def toLongKey(a: Attribute): Expression = a.dataType match {
    case LongType => a
    case TimestampType => UnixMicros(a)
    case _ => Cast(a, LongType)
  }

  private def rewrite(w: Window): LogicalPlan = {
    val pks = w.partitionSpec.map(_.asInstanceOf[Attribute])
    val Seq(SortOrder(ord1: Attribute, _, _, _), SortOrder(ord2: Attribute, _, _, _)) = w.orderSpec
    // The optimizer may have inserted a WindowGroupLimit (rank-limit
    // pre-filter) below the window; the aggregate replaces it — left
    // in place it would re-introduce the per-partition sorts this
    // rewrite removes.
    val child = w.child match {
      case wgl: WindowGroupLimit => wgl.child
      case c => c
    }
    val payload = child.output.filterNot(a => pks.exists(_.exprId == a.exprId))
    val latest = AggregateExpression(
      LatestByOrder(toLongKey(ord1), toLongKey(ord2), CreateStruct(payload)),
      Complete, isDistinct = false)
    val payloadAliases = payload.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(latest, i, Some(a.name)), a.name)(exprId = a.exprId)
    }
    // Restore the child's column order so downstream attribute
    // binding is untouched.
    val byId = (pks.map(a => a.exprId -> (a: NamedExpression)) ++
      payloadAliases.map(a => a.exprId -> (a: NamedExpression))).toMap
    Aggregate(pks, child.output.map(a => byId(a.exprId)), child)
  }

  /** rn <= k (k > 1): aggregate to a k-bounded top-k array, then
    * explode it back to rows — ObjectHashAggregate + Generate instead
    * of the per-partition window sort. The rank itself must not be
    * referenced (guard in apply), so only row membership matters and
    * explode order is free to follow the buffer's (ord1 desc, ord2
    * desc) layout.
    */
  private def rewriteTopK(w: Window, k: Int): LogicalPlan = {
    val pks = w.partitionSpec.map(_.asInstanceOf[Attribute])
    val Seq(SortOrder(ord1: Attribute, _, _, _), SortOrder(ord2: Attribute, _, _, _)) = w.orderSpec
    val child = w.child match {
      case wgl: WindowGroupLimit => wgl.child
      case c => c
    }
    val payload = child.output.filterNot(a => pks.exists(_.exprId == a.exprId))
    // ord2Desc: the accepted window shape is (ord1 DESC, ord2 DESC),
    // so the aggregate's tiebreak must also be DESC — with the ASC
    // default, ord1 ties straddling the k boundary would keep the
    // wrong rows (and disagree with the k = 1 LatestByOrder path).
    val topk = AggregateExpression(
      TopKByOrder(k, toLongKey(ord1), toLongKey(ord2), CreateStruct(payload), ord2Desc = true),
      Complete, isDistinct = false)
    val topkAlias = Alias(topk, "_graft_topk")()
    val agg = Aggregate(pks, pks.map(a => a: NamedExpression) :+ topkAlias, child)
    val elemAttr = AttributeReference("_graft_row",
      CreateStruct(payload).dataType, nullable = false)()
    val gen = Generate(Explode(topkAlias.toAttribute), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(elemAttr), agg)
    val payloadAliases = payload.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(elemAttr, i, Some(a.name)), a.name)(exprId = a.exprId)
    }
    val byId = (pks.map(a => a.exprId -> (a: NamedExpression)) ++
      payloadAliases.map(a => a.exprId -> (a: NamedExpression))).toMap
    Project(child.output.map(a => byId(a.exprId)), gen)
  }

  private object IntegerLiteral {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, org.apache.spark.sql.types.IntegerType) => Some(v)
      case _ => None
    }
  }
}
