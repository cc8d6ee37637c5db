package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Cast, Divide, EqualTo, Expression, IsNotNull, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.cdc.CdcApplier

/** Materialized-view REWRITE — the optimizer half of the IVM family: the
  * engine already MAINTAINS aggregate views incrementally
  * ([[graft.cdc.IncrementalView]], q79/q97/q193/q217-q219); this
  * `Rule[LogicalPlan]` makes the optimizer SERVE them, rewriting a
  * matching aggregate over the base table into a scan of the maintained
  * view store — the classic warehouse answer-query-from-MV, Spark-native
  * through the public `Rule` + `experimental.extraOptimizations` /
  * `SparkSessionExtensions.injectOptimizerRule` hooks.
  *
  * Deliberately NARROW matching (a rewrite that fires too eagerly is a
  * wrong-results generator): the plan must be exactly
  * `Aggregate(groupBy g, [g, count(*) as c], <pruning projects>* over a
  * parquet scan of the registered base path)` — one grouping column, one
  * COUNT(*), no filters (a filtered aggregate is NOT the view's content).
  * Anything else passes through untouched. The rewritten subtree is the
  * view target's current state (tombstones filtered, latest per key — the
  * same read every other surface uses), with the original output `ExprId`s
  * re-bound so parents above the aggregate are untouched. Each view read
  * is the connector's one scan of the view store pruned to the columns it
  * serves ([[CdcApplier.scanRelation]]), resolved inside its reader.
  *
  * Freshness is the registrar's contract, exactly as in every warehouse
  * MV system: registering `(basePath, groupCol) -> viewDir` asserts the
  * view is maintained from the base's change feed through the IVM
  * discipline (exactly-once fold, q97); unregister around backfills.
  *
  * 100 TB: the whole point — a corpus-sized scan+shuffle collapses to a
  * groups-sized view read. The rewrite itself is driver-side pattern
  * matching, O(plan size).
  */
object GraftViewRewrite extends Rule[LogicalPlan] {

  /** (absolute base path, grouping column) -> view target dir. */
  private val views = new java.util.concurrent.ConcurrentHashMap[(String, String), String]

  /** (absolute base path, grouping columns, value column) -> a q89-shaped
    * stats view target `(keys..., cnt, sum: decimal, mn, mx, avg)` serving
    * COUNT(*) / SUM / MIN / MAX / AVG of the value column. The view's
    * grouping may be FINER than a query's (q247): a query grouping by a
    * strict subset of the view's columns re-aggregates the view —
    * groups-sized work, the base never scans. */
  private val statsViews =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String], String), String]

  /** (fact base path, dim base path) -> a maintained fact⋈dim JOIN view
    * ([[graft.cdc.IncrementalView.maintainJoinView]]'s store: the joined
    * rows keyed by the fact PK, dim key column omitted — it equals the
    * fact's join column on every inner-join row). */
  private case class JoinView(joinCol: String, dimKey: String, viewDir: String)
  private val joinViews =
    new java.util.concurrent.ConcurrentHashMap[(String, String), JoinView]

  def register(basePath: String, groupCol: String, viewDir: String): Unit =
    views.put((normalize(basePath), groupCol), viewDir)

  def unregister(basePath: String, groupCol: String): Unit =
    views.remove((normalize(basePath), groupCol))

  def registerStats(basePath: String, groupCol: String, valueCol: String,
      viewDir: String): Unit =
    registerStats(basePath, Seq(groupCol), valueCol, viewDir)

  def unregisterStats(basePath: String, groupCol: String, valueCol: String): Unit =
    unregisterStats(basePath, Seq(groupCol), valueCol)

  def registerStats(basePath: String, groupCols: Seq[String], valueCol: String,
      viewDir: String): Unit =
    statsViews.put((normalize(basePath), groupCols, valueCol), viewDir)

  def unregisterStats(basePath: String, groupCols: Seq[String], valueCol: String): Unit =
    statsViews.remove((normalize(basePath), groupCols, valueCol))

  def registerJoin(factPath: String, dimPath: String, joinCol: String,
      dimKey: String, viewDir: String): Unit =
    joinViews.put((normalize(factPath), normalize(dimPath)),
      JoinView(joinCol, dimKey, viewDir))

  def unregisterJoin(factPath: String, dimPath: String): Unit =
    joinViews.remove((normalize(factPath), normalize(dimPath)))

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Install into an already-built session (idempotent). Sessions built
    * with `spark.sql.extensions=graft.functions.GraftExtensions` have it
    * from the start. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this

  /** The registered base path a plan subtree scans, if it is nothing but
    * column-pruning projections over one parquet relation. */
  private def baseScanPath(plan: LogicalPlan): Option[String] = plan match {
    case Project(projectList, child) if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      baseScanPath(child)
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.toList match {
          case one :: Nil => Some(normalize(one.toString))
          case _          => None
        }
      case _ => None
    }
    case _ => None
  }

  private def isCountStar(e: AggregateExpression): Boolean = e match {
    case AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _) => true
    case _ => false
  }

  /** The count(*)-only rewrite against a `(key, cnt)` view store. */
  private def countRewrite(g: AttributeReference, aggExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] =
    for {
      _ <- if (aggExprs.length == 2) Some(()) else None
      basePath <- baseScanPath(child)
      viewDir <- Option(views.get((basePath, g.name)))
      // output shape: [group attr, alias(count(*))]
      gOut <- aggExprs.head match {
        case a: AttributeReference if a.exprId == g.exprId => Some(a)
        case _ => None
      }
      cOut <- aggExprs(1) match {
        case a @ Alias(ae: AggregateExpression, _) if isCountStar(ae) => Some(a)
        case _ => None
      }
    } yield {
      val viewPlan = CdcApplier.scanRelation(SparkSession.active, viewDir, Seq(g.name, "cnt"), Nil)
      val Seq(vg, vc) = viewPlan.output
      // re-bind the original ExprIds so everything ABOVE the aggregate
      // resolves unchanged
      Project(Seq(
        Alias(vg, gOut.name)(exprId = gOut.exprId),
        Alias(vc, cOut.name)(exprId = cOut.exprId)), viewPlan)
    }

  /** Which stats-view column serves one aggregate output, or None if the
    * aggregate is not one of the five maintained members (distinct,
    * filtered, or wrongly-typed aggregates never rewrite — narrowness is
    * the correctness guarantee). Returns (view column, value column it
    * requires — None for COUNT(*)). */
  private def statsMember(ae: AggregateExpression): Option[(String, Option[String])] =
    ae match {
      case AggregateExpression(fn, _, false, None, _) => fn match {
        case Count(Seq(Literal(1, _)))                 => Some(("cnt", None))
        case Sum(a: AttributeReference, _) if a.dataType == DoubleType =>
          Some(("sum", Some(a.name)))
        case Min(a: AttributeReference) if a.dataType == DoubleType =>
          Some(("mn", Some(a.name)))
        case Max(a: AttributeReference) if a.dataType == DoubleType =>
          Some(("mx", Some(a.name)))
        case Average(a: AttributeReference, _) if a.dataType == DoubleType =>
          Some(("avg", Some(a.name)))
        case _ => None
      }
      case _ => None
    }

  /** The widened rewrite: any combination of COUNT(*) / SUM / MIN / MAX /
    * AVG over ONE registered value column, served from a q89-shaped stats
    * view in one projection. SUM serves as the view's decimal-exact sum
    * cast to double — SUMD's "exact sum, one final IEEE division/cast"
    * discipline, so the rewrite reproduces the maintained view bit-for-bit
    * regardless of the base's aggregation order. */
  /** One aggregate-output slot, classified for view serving. The
    * optimizer may have collapsed projections into the aggregate (aliased
    * group columns, appended literal tags), so the matcher classifies each
    * slot instead of assuming [groups..., aggregates...] order. */
  private sealed trait Slot
  private case class GroupSlot(orig: NamedExpression, groupName: String) extends Slot
  private case class MemberSlot(orig: NamedExpression, member: String) extends Slot
  private case class LiteralSlot(orig: Alias) extends Slot

  private def classify(e: NamedExpression,
      groupByIdName: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String])
      : Option[Slot] = e match {
    case a: AttributeReference if groupByIdName.contains(a.exprId) =>
      Some(GroupSlot(a, groupByIdName(a.exprId)))
    case al @ Alias(a: AttributeReference, _) if groupByIdName.contains(a.exprId) =>
      Some(GroupSlot(al, groupByIdName(a.exprId)))
    case al @ Alias(ae: AggregateExpression, _) =>
      statsMember(ae).map { case (m, _) => MemberSlot(al, m) }
    case al @ Alias(_: Literal, _) => Some(LiteralSlot(al))
    case _ => None
  }

  private def statsRewrite(groups: Seq[AttributeReference],
      aggExprs: Seq[NamedExpression], child: LogicalPlan): Option[LogicalPlan] = {
    val groupByIdName = groups.map(g => g.exprId -> g.name).toMap
    val slots = aggExprs.map(classify(_, groupByIdName))
    val memberValueCols = aggExprs.collect {
      case Alias(ae: AggregateExpression, _) => statsMember(ae).flatMap(_._2)
    }
    for {
      _ <- if (slots.forall(_.isDefined) &&
        slots.exists(_.exists(_.isInstanceOf[MemberSlot]))) Some(()) else None
      basePath <- baseScanPath(child)
      // count-only (None) is served by ANY stats view over these groups —
      // the cnt column does not depend on the view's value column
      valueCol <- memberValueCols.flatten.distinct match {
        case Seq(v) => Some(Some(v))
        case Seq()  => Some(None)
        case _      => None // two different value columns: not this view
      }
      // exact grouping match first (pure projection); else the SMALLEST
      // registered view whose grouping is a strict superset (re-aggregate)
      hit <- {
        import scala.jdk.CollectionConverters._
        val qNames = groups.map(_.name)
        val candidates = statsViews.entrySet.asScala.toSeq.collect {
          case e if e.getKey._1 == basePath &&
            valueCol.forall(_ == e.getKey._3) &&
            qNames.toSet.subsetOf(e.getKey._2.toSet) => (e.getKey._2, e.getValue)
        }
        candidates.sortBy(c => (c._1.length, c._1.mkString(","))).headOption
          .map { case (vGroups, dir) => (vGroups, dir, vGroups.toSet == qNames.toSet) }
      }
    } yield {
      val (_, viewDir, exact) = hit
      val qNames = groups.map(_.name).distinct
      if (exact) {
        val viewPlan = CdcApplier.scanRelation(SparkSession.active, viewDir,
          qNames ++ Seq("cnt", "sum", "mn", "mx", "avg"), Nil)
        val byName: Map[String, Attribute] =
          viewPlan.output.map(a => a.name -> a).toMap
        val served = slots.map(_.get).map {
          case GroupSlot(orig, g) =>
            Alias(byName(g), orig.name)(exprId = orig.exprId)
          case MemberSlot(orig, m) =>
            val raw = byName(m)
            val expr = if (m == "sum") Cast(raw, DoubleType) else raw
            Alias(expr, orig.name)(exprId = orig.exprId)
          case LiteralSlot(orig) =>
            Alias(orig.child, orig.name)(exprId = orig.exprId)
        }
        Project(served, viewPlan)
      } else {
        // group-subset (q247): re-aggregate the finer view — counts add,
        // decimal-exact sums add, extremes nest (min-of-mins); AVG
        // re-derives as the exact total over the total count in ONE double
        // division, the view's own discipline. Work is view-groups-sized;
        // the base never scans.
        val viewPlan = CdcApplier.scanRelation(SparkSession.active, viewDir,
          qNames ++ Seq("cnt", "sum", "mn", "mx"), Nil)
        val byName: Map[String, Attribute] =
          viewPlan.output.map(a => a.name -> a).toMap
        def agg(fn: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction)
            : Expression = fn.toAggregateExpression()
        // maintainMinMax surfaces an inconsistent feed (deltas disagree
        // with the base) as a NULL mn/mx SENTINEL in the fine view. A bare
        // Min/Max rollup would SKIP those nulls and serve a confident
        // extreme the finer view deliberately refused — so the sentinel
        // propagates: if ANY contributing fine group carries NULL, the
        // coarser group serves NULL too.
        def sentinelNesting(c: Attribute,
            fn: Attribute => org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction)
            : Expression =
          org.apache.spark.sql.catalyst.expressions.If(
            agg(Max(org.apache.spark.sql.catalyst.expressions.IsNull(c))),
            Literal(null, c.dataType), agg(fn(c)))
        val served = slots.map(_.get).map {
          case GroupSlot(orig, g) =>
            Alias(byName(g), orig.name)(exprId = orig.exprId)
          case MemberSlot(orig, m) =>
            val expr: Expression = m match {
              case "cnt" => agg(Sum(byName("cnt")))
              case "sum" => Cast(agg(Sum(byName("sum"))), DoubleType)
              case "mn"  => sentinelNesting(byName("mn"), Min(_))
              case "mx"  => sentinelNesting(byName("mx"), Max(_))
              case "avg" => Divide(Cast(agg(Sum(byName("sum"))), DoubleType),
                Cast(agg(Sum(byName("cnt"))), DoubleType))
            }
            Alias(expr, orig.name)(exprId = orig.exprId)
          case LiteralSlot(orig) =>
            Alias(orig.child, orig.name)(exprId = orig.exprId)
        }
        val gAtts = qNames.map(byName(_))
        Aggregate(gAtts, served, viewPlan, None)
      }
    }
  }

  /** `true` iff the subtree is nothing but IsNotNull guards over the join
    * keys — the filters the optimizer itself derives from an inner
    * equi-join, vacuous on the view (its rows ARE the join's). */
  private def isNotNullOnly(e: Expression, keyNames: Set[String]): Boolean =
    e match {
      case IsNotNull(a: AttributeReference) => keyNames(a.name)
      case And(l, r) => isNotNullOnly(l, keyNames) && isNotNullOnly(r, keyNames)
      case _ => false
    }

  /** [[baseScanPath]] that also sees through the join-key IsNotNull
    * filters the optimizer pushes below an inner join. */
  private def sideScanPath(plan: LogicalPlan, keyNames: Set[String]): Option[String] =
    plan match {
      case Filter(cond, child) if isNotNullOnly(cond, keyNames) =>
        sideScanPath(child, keyNames)
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        sideScanPath(child, keyNames)
      case other => baseScanPath(other)
    }

  /** The fact⋈dim rewrite (q247): an inner equi-join of two registered
    * base scans on the registered key pair is served from the maintained
    * JOIN-view store — the join (and both base scans) disappear from the
    * plan; whatever sits above (aggregates, filters, projections) applies
    * unchanged over the re-bound attributes, because the view's rows ARE
    * the join's rows (the registrar's freshness contract, as everywhere).
    * The dim key column is served from the fact's join column — equal by
    * inner-join construction. Narrowness guards: exactly one equi-pair,
    * both sides pure pruning/IsNotNull over single registered scans,
    * unambiguous column names, every needed column present in the view. */
  private def joinRewrite(l: LogicalPlan, r: LogicalPlan, cond: Expression,
      output: Seq[Attribute]): Option[LogicalPlan] = {
    val pair = cond match {
      case EqualTo(x: AttributeReference, y: AttributeReference) => Some((x, y))
      case _ => None
    }
    for {
      (x, y) <- pair
      keyNames = Set(x.name, y.name)
      lp <- sideScanPath(l, keyNames)
      rp <- sideScanPath(r, keyNames)
      jv <- Option(joinViews.get((lp, rp)))
      _ <- if (keyNames == Set(jv.joinCol, jv.dimKey)) Some(()) else None
      _ <- if (output.map(_.name).distinct.length == output.length) Some(())
           else None
      spark = SparkSession.active
      viewCols = graft.sources.GraftTable.tableSchema(spark, jv.viewDir).fieldNames.toSet -
        CdcApplier.POS
      _ <- if (output.forall(o => viewCols(o.name) || o.name == jv.dimKey)) Some(())
        else None
      viewPlan = CdcApplier.scanRelation(spark, jv.viewDir,
        output.map(o => if (viewCols(o.name)) o.name else jv.joinCol), Nil)
      byName: Map[String, Attribute] = viewPlan.output.map(a => a.name -> a).toMap
    } yield Project(output.map { o =>
      val src = byName.getOrElse(o.name, byName(jv.joinCol))
      Alias(src, o.name)(exprId = o.exprId)
    }, viewPlan)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (views.isEmpty && statsViews.isEmpty && joinViews.isEmpty) return plan
    plan.transform {
      case agg @ Aggregate(groupExprs, aggExprs, child, _)
          if groupExprs.nonEmpty && aggExprs.length > groupExprs.length &&
            groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
        val groups = groupExprs.map(_.asInstanceOf[AttributeReference])
        (groups match {
          case Seq(g) => countRewrite(g, aggExprs, child)
          case _      => None
        }).orElse(statsRewrite(groups, aggExprs, child))
          .getOrElse(agg)
      case j @ Join(left, right, Inner, Some(cond), _) =>
        joinRewrite(left, right, cond, j.output).getOrElse(j)
    }
  }
}
