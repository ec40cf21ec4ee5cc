package graft.mv

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Transparent StarRocks-style MV rewrite (reference:
  * MaterializedViewOptimizationRule.scala + AggregateRewriter.scala +
  * JoinRewriter.scala). Injected as a post-hoc resolution rule; for
  * each registered MV, in order:
  *
  *   1. exact canonical-plan match        -> backing-table scan
  *   2. join / join+aggregate rewrite     -> project / re-aggregate
  *   3. aggregate exact / roll-up rewrite -> project / re-aggregate
  *      (SUM->SUM, COUNT->SUM, MIN->MIN, MAX->MAX,
  *       AVG -> SUM(sum)/SUM(count)), with predicate compensation
  *
  * Matching is fingerprint-based (lowercased SQL with attribute names
  * normalized) rather than exprId-based, since the MV text and the
  * user query analyze to different attribute ids — this mirrors the
  * reference's lowercase-name matching
  * (AggregateRewriter.scala:102-103) including its documented
  * conservatism: predicate compensation is equality-based, not
  * implication-based.
  */
class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import MvPlans._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (MvCatalog.isRewriteDisabled || MvCatalog.list().isEmpty) return plan
    if (!plan.resolved || plan.isInstanceOf[Command]) return plan
    if (plan.exists(_.isInstanceOf[Command])) return plan

    // cheap guard: only consider MVs whose base tables appear in the
    // plan — avoids analyzing MV texts against unrelated queries
    val planTables = plan.collectLeaves().flatMap(relationName).toSet
    if (planTables.isEmpty) return plan
    val candidates = MvCatalog.list().filter(mv =>
      mv.baseTables.isEmpty || mv.baseTables.subsetOf(planTables))
    candidates.iterator.flatMap(mv => tryRewrite(plan, mv)).nextOption()
      .getOrElse(plan)
  }

  private def tryRewrite(plan: LogicalPlan, mv: MvMeta): Option[LogicalPlan] =
    try {
      val mvPlan = MvCatalog.cachedPlan(s"${mv.name}@${mv.lastRefreshTs}",
        MvCatalog.withRewriteDisabled {
          spark.sessionState.analyzer.execute(
            spark.sessionState.sqlParser.parsePlan(mv.query))
        })
      // avoid self-rewrite of scans over the backing table itself
      if (referencesTable(plan, mv.backingTable)) return None

      exactMatch(plan, mvPlan, mv)
        .orElse(aggregateRewrite(plan, mvPlan, mv))
    } catch { case _: Exception => None } // per-MV failures are swallowed

  private def backingScan(mv: MvMeta): LogicalPlan =
    MvCatalog.withRewriteDisabled {
      spark.table(mv.backingTable).queryExecution.analyzed
    }

  private def referencesTable(plan: LogicalPlan, table: String): Boolean =
    plan.collectLeaves().exists(l => relationName(l).exists(_.endsWith(table.toLowerCase)))

  // ----------------------------------------------------------------
  // 1. exact canonical match (MaterializedViewOptimizationRule.scala:55-69)
  // ----------------------------------------------------------------

  private def exactMatch(plan: LogicalPlan, mvPlan: LogicalPlan,
      mv: MvMeta): Option[LogicalPlan] = {
    if (plan.canonicalized != mvPlan.canonicalized) return None
    val scan = backingScan(mv)
    val byName = scan.output.map(a => a.name.toLowerCase -> a).toMap
    val projections = plan.output.zip(mvPlan.output).map { case (q, m) =>
      Alias(byName(m.name.toLowerCase), q.name)()
    }
    Some(Project(projections, scan))
  }

  // ----------------------------------------------------------------
  // structure decomposition + fingerprints: shared with the
  // incremental refresher — see [[MvPlans]]
  // ----------------------------------------------------------------
  // 2/3. aggregate + join(+aggregate) rewrite
  // ----------------------------------------------------------------

  private def aggregateRewrite(plan: LogicalPlan, mvPlan: LogicalPlan,
      mv: MvMeta): Option[LogicalPlan] = {
    val qShape = decomposeAgg(plan).orElse(projOnly(plan)).getOrElse(return None)
    val mShape = decomposeAgg(mvPlan).orElse(projOnly(mvPlan)).getOrElse(return None)
    if (qShape.base != mShape.base) return None

    // predicate compensation: MV preds must be a subset of query preds
    // (equality on fingerprints, AggregateRewriter.scala:356-368)
    val mvPredFps = mShape.preds.map(fp).toSet
    val qPredsByFp = qShape.preds.map(p => fp(p) -> p).toMap
    if (!mvPredFps.subsetOf(qPredsByFp.keySet)) return None
    val extraPreds = qShape.preds.filterNot(p => mvPredFps(fp(p)))

    // The rewrite is decided and built over the MV plan's own output
    // (the backing table's columns are its names): resolving the
    // backing table parses, analyzes and loads it, so only a rewrite
    // that will be returned pays for that (see [[onBacking]]).
    val mvOutByFp: Map[String, Attribute] =
      mShape.output.map(o => fp(stripAlias(o)) -> o.toAttribute).toMap
    val scan = LocalRelation(mvOutByFp.values.toSeq.distinct)

    // every extra-predicate column must bind BY FINGERPRINT to an
    // MV-projected base column; a name-only match could hit a
    // same-named aggregate output (e.g. sum(salary) AS salary) and
    // silently change semantics — bail out of the rewrite instead
    if (!extraPreds.forall(_.references.forall(a => mvOutByFp.contains(fp(a)))))
      return None

    def compensate(base: LogicalPlan): LogicalPlan = {
      val remapped = extraPreds.map(_.transform {
        case a: AttributeReference => mvOutByFp(fp(a))
      })
      if (remapped.isEmpty) base
      else Filter(remapped.reduceLeft(And), base)
    }

    val qGroupFps = qShape.groupBy.map(fp)
    val mGroupFps = mShape.groupBy.map(fp)

    if ((qShape.groupBy.isEmpty && mShape.groupBy.isEmpty && qShape.output.forall(o => mvOutByFp.contains(fp(stripAlias(o))))) ||
        qGroupFps.toSet == mGroupFps.toSet) {
      // exact group-by (or plain projection) -> project over backing
      val projections = qShape.output.map { o =>
        val source = mvOutByFp.getOrElse(fp(stripAlias(o)), return None)
        Alias(source, o.name)(exprId = o.exprId)
      }
      onBacking(Project(projections, compensate(scan)), scan, mv)
    } else if (qGroupFps.toSet.subsetOf(mGroupFps.toSet) && qShape.groupBy.nonEmpty) {
      // roll-up: re-aggregate the backing table
      // (AggregateRewriter.scala:155-262)
      val groupExprs = qShape.groupBy.map(g =>
        mvOutByFp.getOrElse(fp(g), return None))
      val aggExprs: Seq[NamedExpression] = qShape.output.map { o =>
        stripAlias(o) match {
          case g if qGroupFps.contains(fp(g)) =>
            Alias(mvOutByFp.getOrElse(fp(g), return None), o.name)(exprId = o.exprId)
          case AggregateExpression(Sum(child, _), _, false, _, _) =>
            rollup(o, Sum(mvOutByFp.getOrElse(fp(AggregateExpression(Sum(child), Complete, isDistinct = false)), return None)))
          case AggregateExpression(Min(child), _, false, _, _) =>
            rollup(o, Min(mvOutByFp.getOrElse(fp(AggregateExpression(Min(child), Complete, isDistinct = false)), return None)))
          case AggregateExpression(Max(child), _, false, _, _) =>
            rollup(o, Max(mvOutByFp.getOrElse(fp(AggregateExpression(Max(child), Complete, isDistinct = false)), return None)))
          case AggregateExpression(Count(children), _, false, _, _) =>
            // COUNT rolls up as SUM of partial counts (typed long,
            // AggregateRewriteSuite.scala:216-218)
            rollup(o, Sum(mvOutByFp.getOrElse(fp(AggregateExpression(Count(children), Complete, isDistinct = false)), return None)))
          case AggregateExpression(Average(child, _), _, false, _, _) =>
            // AVG derives as SUM(sum_col) / SUM(count_col)
            // (AggregateRewriter.scala:209-231)
            val sumCol = mvOutByFp.getOrElse(fp(AggregateExpression(Sum(child), Complete, isDistinct = false)), return None)
            val cntCol = mvOutByFp.getOrElse(fp(AggregateExpression(Count(Seq(child)), Complete, isDistinct = false)), return None)
            val divide = Divide(
              Cast(Sum(sumCol).toAggregateExpression(),
                org.apache.spark.sql.types.DoubleType),
              Cast(Sum(cntCol).toAggregateExpression(),
                org.apache.spark.sql.types.DoubleType))
            Alias(divide, o.name)(exprId = o.exprId)
          case _ => return None
        }
      }
      onBacking(Aggregate(groupExprs, aggExprs, compensate(scan)), scan, mv)
    } else None
  }

  /** `rewrite`, built over `placeholder` (the MV plan's output), moved
    * onto the backing table: the leaf becomes its scan and every
    * placeholder column its same-named backing column. None when the
    * backing table lacks one of them. */
  private def onBacking(rewrite: LogicalPlan, placeholder: LocalRelation,
      mv: MvMeta): Option[LogicalPlan] = {
    val scan = backingScan(mv)
    val byName = scan.output.map(a => a.name.toLowerCase -> a).toMap
    val bound = placeholder.output.map(a =>
      a.exprId -> byName.getOrElse(a.name.toLowerCase, return None)).toMap
    Some(rewrite.transformUp { case l if l eq placeholder => scan }
      .transformAllExpressions {
        case a: AttributeReference if bound.contains(a.exprId) => bound(a.exprId)
      })
  }

  private def rollup(orig: NamedExpression, f: AggregateFunction): NamedExpression =
    Alias(f.toAggregateExpression(), orig.name)(exprId = orig.exprId)
}
