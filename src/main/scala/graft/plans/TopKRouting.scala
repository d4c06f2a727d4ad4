package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Engine-side top-k rewrite — the routing companion to [[RollupRouting]] for
  * the other classic scale hazard: the naive per-group top-k
  *
  *   SELECT ... , row_number() OVER (PARTITION BY g ORDER BY ...) AS rn
  *   FROM metrics ...  ⟶ outer WHERE rn <= k
  *
  * plans as ONE window sort whose parallelism is the number of groups — with a
  * handful of groups the whole input sorts on a handful of cores (the
  * documented 25× scale outlier). [[graft.operators.Operators.topKPerGroup]]
  * answers the same question with a local prune (rank within (group, input
  * partition), balanced over ALL cores) followed by an exact global rank over
  * the ≤ k·parts survivors.
  *
  * The match runs on the ANALYZED plan: [Sort] → [Project]* → Filter(rn ≤ k)
  * → [Project]* → Window([rn = row_number()]) → child, where the window's
  * partition/order keys are plain attributes (the analyzer extracts ordering
  * EXPRESSIONS into `_w0...` aliases in the window's child projection, so this
  * covers expression ordering too) and the child's leaves are all the
  * engine's [[MetricsScan]] — same identity discipline as RollupRouting:
  * a user's own table is never rewritten. Any shape the matcher does not fully
  * understand routes to the raw plan.
  *
  * Semantics: row_number() assigns ranks arbitrarily among order-ties in BOTH
  * formulations (Spark does not define tie order), so the rewrite preserves
  * the query's semantics exactly; with a total order the results are
  * row-identical.
  */
object TopKRouting {

  def route(spark: SparkSession, analyzed: LogicalPlan): Option[DataFrame] = {
    // [Sort] on top — reapplied by output-column name after the rewrite
    val (sortOrders, p0) = analyzed match {
      case Sort(orders, true, child, _) => (orders, child)
      case p => (Nil, p)
    }
    // projections above the rank filter (innermost first after reversal)
    val (aboveProjects, f0) = peelProjects(p0)
    val (rankCond, belowFilter) = f0 match {
      case Filter(cond, child) => (cond, child)
      case _ => return None
    }
    val (belowProjects, w0) = peelProjects(belowFilter)
    val window = w0 match {
      case w: Window => w
      case _ => return None
    }

    // exactly one window expression: rn = row_number() over (partition, order)
    val (rnName, rnId) = window.windowExpressions match {
      case Seq(al @ Alias(WindowExpression(_: RowNumber, spec), name))
        if spec.partitionSpec == window.partitionSpec &&
          spec.orderSpec == window.orderSpec => (name, al.exprId)
      case _ => return None
    }
    // rank filter must be a single bound on that alias
    val k = rankBound(rankCond, rnId).getOrElse(return None)
    if (k < 1) return None // empty by construction — not worth a rewrite

    // plain-attribute partition and order keys (expressions were extracted
    // into the child projection by the analyzer)
    val partCols = window.partitionSpec.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    if (partCols.isEmpty) return None // global top-k: TakeOrdered handles it
    val orderCols: Seq[Column] = window.orderSpec.map { so =>
      so.child match {
        case a: AttributeReference => orderedCol(a.name, so)
        case _ => return None
      }
    }
    if (orderCols.isEmpty) return None

    // name-unique outputs so by-name rebinding below is unambiguous
    val childNames = window.child.output.map(_.name)
    if ((childNames :+ rnName).distinct.size != childNames.size + 1) return None

    // identity guard: the subtree below the window (reused wholesale, filters
    // included) reads nothing but the engine's own `metrics` leaf, over chunks
    if (!window.child.collectLeaves().forall {
        case m: MetricsScan => m.chunks.nonEmpty
        case _ => false
      }) return None

    // ---- rebuild: two-phase top-k over the SAME child subtree --------------
    val childDf = org.apache.spark.sql.GraftBridge.ofRows(spark, window.child)
    val topk = graft.operators.Operators.topKPerGroup(
      childDf, partCols, orderCols, k, rnName)
    // reapply the peeled projections innermost-first, rebinding attributes by
    // NAME (the rewritten rn is a fresh column; exprIds do not carry over).
    // The analyzer can emit a duplicate item for the window alias (rn listed
    // twice in the projection above Window): semantically-equal duplicates are
    // dropped so by-name resolution stays unambiguous; two DIFFERENT
    // expressions sharing a name — or duplicate names surviving into the
    // final output — abort the rewrite.
    val allProjects = belowProjects.reverse ++ aboveProjects.reverse
    val projected = allProjects.zipWithIndex.foldLeft(topk) { case (df, (list, i)) =>
      val seen = scala.collection.mutable.LinkedHashMap.empty[String, NamedExpression]
      list.foreach { ne =>
        seen.get(ne.name) match {
          case None => seen(ne.name) = ne
          case Some(prev) =>
            if (!prev.semanticEquals(ne) || i == allProjects.size - 1) return None
        }
      }
      df.select(seen.values.toSeq.map(namedToColumn(_).getOrElse(return None)): _*)
    }
    if (sortOrders.isEmpty) Some(projected)
    else {
      val cols = sortOrders.map { so =>
        so.child match {
          case a: AttributeReference => orderedCol(a.name, so)
          case _ => return None
        }
      }
      Some(projected.orderBy(cols: _*))
    }
  }

  /** Peel SubqueryAlias/View wrappers and Project nodes, collecting project
    * lists outermost-first.
    */
  private def peelProjects(plan: LogicalPlan): (List[Seq[NamedExpression]], LogicalPlan) =
    plan match {
      case Project(list, child) =>
        val (rest, leaf) = peelProjects(child)
        (list :: rest, leaf)
      case SubqueryAlias(_, child) => peelProjects(child)
      case v: View => peelProjects(v.child)
      case p => (Nil, p)
    }

  /** `rn <= k` in any of its literal spellings → effective k. */
  private def rankBound(cond: Expression, rnId: ExprId): Option[Int] = {
    def isRn(e: Expression): Boolean = e match {
      case a: AttributeReference => a.exprId == rnId
      // only value-preserving widenings of the int rank — a narrowing cast
      // could wrap and change the comparison's semantics
      case c: Cast if c.dataType == LongType || c.dataType == c.child.dataType =>
        isRn(c.child)
      case _ => false
    }
    def lit(e: Expression): Option[Long] = e match {
      case _ if e.foldable && (e.dataType == IntegerType || e.dataType == LongType) =>
        e.eval(null) match {
          case i: java.lang.Integer => Some(i.toLong)
          case l: java.lang.Long => Some(l)
          case _ => None
        }
      case _ => None
    }
    (cond match {
      case LessThanOrEqual(l, r) if isRn(l) => lit(r)
      case LessThan(l, r) if isRn(l) => lit(r).map(_ - 1)
      case GreaterThanOrEqual(l, r) if isRn(r) => lit(l)
      case GreaterThan(l, r) if isRn(r) => lit(l).map(_ - 1)
      case EqualTo(l, r) if isRn(l) && lit(r).contains(1L) => Some(1L)
      case EqualTo(l, r) if isRn(r) && lit(l).contains(1L) => Some(1L)
      case _ => None
    }).filter(v => v <= Int.MaxValue).map(_.toInt)
  }

  private def orderedCol(name: String, so: SortOrder): Column =
    (so.direction, so.nullOrdering) match {
      case (Ascending, NullsFirst) => col(name).asc_nulls_first
      case (Ascending, NullsLast) => col(name).asc_nulls_last
      case (Descending, NullsFirst) => col(name).desc_nulls_first
      case (Descending, NullsLast) => col(name).desc_nulls_last
    }

  /** One projection item → a by-name Column over the rewritten frame; None on
    * anything non-deterministic (must not be recomputed post-rewrite).
    */
  private def namedToColumn(ne: NamedExpression): Option[Column] = ne match {
    case a: AttributeReference => Some(col(a.name))
    case Alias(child, name) if child.deterministic =>
      val renamed = child.transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
      }
      Some(org.apache.spark.sql.GraftBridge.column(renamed).as(name))
    case _ => None
  }
}
