package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, DynamicPruningSubquery, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.graft.ParquetReadShim

import graft.cdc.CdcApplier
import graft.cdc.CdcApplier.TargetMeta

/** AUTOMATIC secondary-index routing (q266/q273/q274) — the optimizer half
  * of q123's index machinery. The engine can MAINTAIN a secondary index (a
  * graft table keyed (value, pk), bucketed on the value prefix, fed from the
  * same change envelope as the base store — q123/q170), but a SQL user
  * filtering on the indexed non-key column still got a full scan unless
  * they knew to chain two [[CdcApplier.pointLookup]]s by hand. This
  * `Rule[LogicalPlan]` (the [[GraftViewRewrite]] seam:
  * `experimental.extraOptimizations`) rewrites an eligible predicate on a
  * REGISTERED indexed column into exactly that chain — index lookup →
  * PK fetch — so the query reads ≤k index buckets + the matching store
  * buckets instead of the table (the HBase-ecosystem covered-index read
  * path, SURVEY S7/EP3; public design point: Phoenix/Astro secondary-index
  * plan rewrite).
  *
  * ONE relation shape routes: the connector's one scan,
  * [[graft.sources.GraftBatchScan]], in the `DataSourceV2ScanRelation`
  * that catalog SQL (`SELECT ... FROM cat.ns.t WHERE ...`), path reads and
  * the Scala read API ([[CdcApplier.snapshot]]) all reach the optimizer
  * with — and only a [[graft.sources.GraftBatchScan.wholeTable]] read, a
  * plain current-state read no pushed key predicate pruned. As-of,
  * branch, limit, change-feed and aggregate projections, whose semantics
  * a current-state lookup must not impersonate, never route; neither does
  * a raw parquet read of the store directory, which serves every stored
  * version and tombstone. The emitted plan reads the index and, for a
  * two-hop route, the store through that same scan
  * ([[CdcApplier.scanRelation]]): the routed predicate pushed, the read
  * pruned to the columns the plan uses, latest-per-key resolved inside
  * each bucket's reader.
  *
  * TWO predicate forms route:
  *  - point/IN (`col = lit`, `col IN (lits)`) — on any index layout;
  *  - RANGE (`col >= lo AND col <= hi`, any one- or two-sided combination
  *    of >/>=/</<=) — ONLY when the index table itself is RANGE-bucketed on
  *    the indexed column (q274): the covering buckets are then a contiguous
  *    prefix-scan ([[CdcApplier.rangeLookup]]), exactly HBase's
  *    rowkey-range scan. On a hash-bucketed index a range would read every
  *    index bucket, so it DECLINES — the plan runs as written.
  *
  * Deliberately NARROW (the [[GraftViewRewrite]] discipline — an eager
  * rewrite is a wrong-results generator). Fires ONLY when the plan is
  * `[Project(cols...)](Filter(conjuncts, relation(store path)))` where SOME
  * conjunct routes on a registered indexed column and every projected
  * column is a plain column of the served read (data columns +
  * `_graft_pos`). The query's whole filter re-applies ON TOP of the routed read against its current values (q289:
  * `o_status = 'F'` beside the routed `custkey IN (...)` routes the indexed
  * half and filters the rest, Phoenix's index-plus-filter plan), so the
  * answer is exact. A non-deterministic conjunct declines; a conjunct
  * referencing a column the served read lacks declines. A filter with NO
  * routable conjunct declines — the rest alone never fabricates a route.
  * Freshness is the registrar's contract, exactly as for the maintained
  * views: registering asserts the index is maintained from the same
  * envelope (q123's discipline); unregister around backfills.
  *
  * The rule decides from metadata and literals alone and runs no lookup:
  * it emits a plan whose lookup happens at EXECUTION — a left-semi join of
  * the store's scan against the literal-filtered index scan, the index
  * side broadcast, and the store scan pruning its buckets at run time from
  * that same broadcast (Spark's dynamic partition pruning, through
  * [[graft.sources.GraftBatchScan]]'s runtime filter). Two bounds remain,
  * because a generated 50k-literal IN or a table-wide range must not
  * become a lookup: an IN-list wider than
  * `spark.graft.indexroute.maxKeys` (default 1024) declines on the driver,
  * and a two-hop range whose index matches more than that many keys
  * declines after one bounded count over the covering index buckets — the
  * only Spark job the rule ever runs. The rewrite body is
  * failure-isolated: ANY throw (index dir deleted after registration,
  * layout mismatch, a bucket-id evaluation surprise) DECLINES and the
  * user's otherwise-valid plan runs as written, never fails planning.
  *
  * 100 TB: this is the difference between ≤k bucket directories and a
  * full fact-table scan, chosen automatically — now also through the
  * catalog SQL surface users actually query (q273) and for the BETWEEN
  * form every time-keyed lookup table serves (q274).
  */
object GraftIndexRoute extends Rule[LogicalPlan] {

  /** (absolute store path, indexed column) -> index table dir. */
  private val indexes =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]

  /** Plan-shape seams for the spec/gate: how often the rewrite fired /
    * was consulted but declined, since install or [[resetCounters]].
    * LongAdders — two sessions planning concurrently must not lose
    * counts (the monotonicity the gates assert). */
  private val firedCount = new java.util.concurrent.atomic.LongAdder
  private val declinedCount = new java.util.concurrent.atomic.LongAdder
  def fired: Long = firedCount.sum()
  def declined: Long = declinedCount.sum()
  def resetCounters(): Unit = { firedCount.reset(); declinedCount.reset() }

  /** Cap on the routed IN-list width and on a two-hop range's matched
    * index keys: wider declines to the scan, which is then the right plan. */
  private def maxKeys(spark: SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.graft.indexroute.maxKeys").toInt)
      .getOrElse(1024)

  def register(storePath: String, indexedCol: String, indexDir: String): Unit =
    indexes.put((normalize(storePath), indexedCol), indexDir)

  def unregister(storePath: String, indexedCol: String): Unit =
    indexes.remove((normalize(storePath), indexedCol))

  private def normalize(p: String): String =
    new Path(p).toUri.getPath

  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this

  /** The store path of a routable relation, or None: a graft table whose
    * scan reads the whole current table
    * ([[graft.sources.GraftBatchScan.wholeTable]]) — precisely the only
    * shape a current-state lookup may replace. */
  private def scanPath(r: DataSourceV2ScanRelation): Option[String] =
    (r.relation.table, r.scan) match {
      case (t: graft.sources.GraftTable, s: graft.sources.GraftBatchScan) if s.wholeTable =>
        Some(normalize(t.targetDir))
      case _ => None
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** The routable predicate set on a registered indexed column, or None. */
  private sealed trait Form
  private case class Points(keys: Int) extends Form
  private case object Range extends Form
  /** `conds`: the query's conjuncts that define the route. */
  private case class Route(col: AttributeReference, form: Form, indexDir: String,
      conds: Seq[Expression])

  /** Whether a literal range bound routes: integral (rangeLookup's domain
    * — the range-bucketed layouts are Long-keyed), and not a strict bound
    * at the Long domain `edge`. `col > Long.MaxValue` / `col < Long.MinValue`
    * are always-false predicates that the scan's bound arithmetic (`x + 1`)
    * would wrap into whole-domain ranges, so they decline and the scan
    * answers them. */
  private def routable(v: Any, edge: Option[Long]): Boolean = v match {
    case n: java.lang.Number => !edge.contains(n.longValue)
    case _                   => false
  }

  /** The routable predicate on a registered indexed column. Point/IN wins
    * over a range on ties; among several routable columns the name-least
    * wins (determinism — the others' conjuncts filter on top, which is
    * correct either way). */
  private def routeOf(cs: Seq[Expression], storePath: String): Option[Route] = {
    val points = cs.collect {
      case e @ EqualTo(a: AttributeReference, Literal(v, _)) if v != null => (a, 1, e)
      case e @ EqualTo(Literal(v, _), a: AttributeReference) if v != null => (a, 1, e)
      case e @ In(a: AttributeReference, vs) if vs.nonEmpty &&
        vs.forall { case Literal(v, _) => v != null; case _ => false } => (a, vs.size, e)
    }
    // range conjuncts (q274): literal one-/two-sided bounds; a bound that
    // does not route still filters on top, never dropped
    val (top, bottom) = (Some(Long.MaxValue), Some(Long.MinValue))
    val ranges = cs.collect {
      case e @ GreaterThan(a: AttributeReference, Literal(v, _)) if v != null =>
        (a, routable(v, top), e)
      case e @ GreaterThan(Literal(v, _), a: AttributeReference) if v != null =>
        (a, routable(v, bottom), e)
      case e @ GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
        (a, routable(v, None), e)
      case e @ GreaterThanOrEqual(Literal(v, _), a: AttributeReference) if v != null =>
        (a, routable(v, None), e)
      case e @ LessThan(a: AttributeReference, Literal(v, _)) if v != null =>
        (a, routable(v, bottom), e)
      case e @ LessThan(Literal(v, _), a: AttributeReference) if v != null =>
        (a, routable(v, top), e)
      case e @ LessThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
        (a, routable(v, None), e)
      case e @ LessThanOrEqual(Literal(v, _), a: AttributeReference) if v != null =>
        (a, routable(v, None), e)
    }
    val pointRoute = points
      .filter(p => indexes.containsKey((storePath, p._1.name)))
      .sortBy(_._1.name).headOption.map { case (a, n, e) =>
        Route(a, Points(n), indexes.get((storePath, a.name)), Seq(e))
      }
    def rangeRoute = ranges
      .filter(r => r._2 && indexes.containsKey((storePath, r._1.name)))
      .groupBy(_._1.name).toSeq.sortBy(_._1).headOption.map { case (name, rs) =>
        Route(rs.head._1, Range, indexes.get((storePath, name)), rs.map(_._3))
      }
    pointRoute.orElse(rangeRoute)
  }

  /** Marks the relations this rule splices in. The rule runs in a
    * fixed-point batch and so sees its own output again, where the store's
    * scan — a whole-table read of a registered store — must not be
    * consulted (nor counted) as a fresh candidate. */
  private val Spliced = TreeNodeTag[Unit]("graft.indexroute.spliced")

  /** The connector's scan of `dir` ([[CdcApplier.scanRelation]]) pruned
    * to `columns`, with the route's conjuncts pushed, marked spliced. */
  private def splice(spark: SparkSession, dir: String, columns: Seq[String],
      route: Route): LogicalPlan = {
    val r = CdcApplier.scanRelation(spark, dir, columns,
      route.conds.flatMap(ParquetReadShim.translateFilter))
    r.setTagValue(Spliced, ())
    r
  }

  /** `e` over the same-named columns of another read. */
  private def rebind(e: Expression, byName: Map[String, Attribute]): Expression =
    e.transform { case a: AttributeReference => byName(a.name) }

  /** The index side of a route: the index's live rows the route's
    * conjuncts select, over the index's scan with those conjuncts pushed,
    * whose own coverage then reads only the index buckets they can live in
    * (as for [[CdcApplier.pointLookup]] and [[CdcApplier.rangeLookup]]).
    * The conjuncts bound the bucket only when the index is bucketed on the
    * routed column alone, and a range only on a range layout (on a hash
    * layout it would read every index bucket). None declines (IN-list past
    * the cap, layout or column type ineligible). No Spark job runs. */
  private def indexSide(spark: SparkSession, route: Route, idxMeta: TargetMeta,
      columns: Seq[String]): Option[LogicalPlan] = {
    val name = route.col.name
    if (idxMeta.bucketCols.orElse(idxMeta.pkCols) != Some(Seq(name))) return None
    route.form match {
      case Points(n) if n > maxKeys(spark)       => return None
      case Range if idxMeta.rangeBounds.isEmpty => return None
      case _ =>
    }
    val scan = splice(spark, route.indexDir, name +: columns, route)
    val byName = scan.output.map(a => a.name -> a).toMap
    if (byName(name).dataType != route.col.dataType) return None
    Some(Filter(route.conds.map(rebind(_, byName)).reduce(And), scan))
  }

  /** The two-hop store side: the store's scan (the route's conjuncts
    * pushed, pruned to `columns` and the PK), left-semi joined on the PK
    * against the broadcast index side. A dynamic-pruning filter per store
    * bucket column reuses that broadcast (`onlyInBroadcast`: never a
    * second read of the index), and [[graft.sources.GraftBatchScan.filter]]
    * maps its keys to their buckets at run time. The hint sits on the Join
    * itself: hint wrappers are resolved before user rules run. None
    * declines: a two-hop RANGE whose index matches more than the cap —
    * the one data-dependent decline, and so the rule's one planning-time
    * job. */
  private def storeSide(spark: SparkSession, route: Route, storePath: String,
      storeMeta: TargetMeta, storePk: Seq[String], columns: Seq[String],
      index: LogicalPlan): Option[LogicalPlan] = {
    val cap = maxKeys(spark)
    if (route.form == Range &&
      ParquetReadShim.frame(spark, index).limit(cap + 1).count() > cap) return None
    val store = splice(spark, storePath, columns ++ storePk, route)
    def attr(p: LogicalPlan, n: String): Attribute = p.output.find(_.name == n).get
    val keys = storePk.map(k => (attr(store, k), attr(index, k)))
    if (keys.exists { case (s, i) => s.dataType != i.dataType }) return None
    val pruning = storeMeta.bucketCols.getOrElse(storePk).map { b =>
      DynamicPruningSubquery(attr(store, b), index, keys.map(_._2),
        Seq(storePk.indexOf(b)), onlyInBroadcast = true)
    }
    Some(Join(Filter(pruning.reduce(And), store), index, LeftSemi,
      Some(keys.map { case (s, i) => EqualTo(s, i) }.reduce(And)),
      JoinHint(None, Some(HintInfo(Some(BROADCAST))))))
  }

  private def rewrite(projList: Seq[NamedExpression], cond: Expression,
      storePath: String): Option[LogicalPlan] = {
    val kept = conjuncts(cond)
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    for {
      route <- routeOf(kept, storePath)
      if kept.forall(_.deterministic)
      // pure column projection only (the snapshot/tableSchema shape)
      outAttrs <- Some(projList.collect { case a: AttributeReference => a })
        .filter(_.size == projList.size)
      storeMeta <- TargetMeta.read(conf, new Path(storePath))
      storePk <- storeMeta.pkCols
      idxMeta <- TargetMeta.read(conf, new Path(route.indexDir))
      refs = (outAttrs.map(_.name) ++ kept.flatMap(_.references.map(_.name))).distinct
      // covered (q282; Phoenix's covered query): every projected and
      // filtered column lives on the index, so the index side IS the answer
      // and nothing touches the store. The layout offset `_graft_pos` is
      // NEVER covered: the index's positions are its own, not the store's.
      idxCols = graft.sources.GraftTable.tableSchema(spark, route.indexDir).fieldNames.toSet
      covered = refs.forall(n => n != CdcApplier.POS && idxCols(n))
      index <- indexSide(spark, route, idxMeta, if (covered) refs else storePk)
      served <- if (covered) Some(index)
        else storeSide(spark, route, storePath, storeMeta, storePk, refs, index)
      byName = served.output.map(a => a.name -> a).toMap
      if refs.forall(byName.contains)
    } yield Project(outAttrs.map(o => Alias(byName(o.name), o.name)(exprId = o.exprId)),
      Filter(kept.map(rebind(_, byName)).reduce(And), served))
  }

  /** [[rewrite]] with the rule's decline-on-ANY-failure contract: the body
    * reads live table metadata, and an index dir deleted or corrupted
    * after registration must fail THE REWRITE, never the user's
    * otherwise-valid plan. */
  private def tryRewrite(projList: Seq[NamedExpression], cond: Expression,
      storePath: String): Option[LogicalPlan] =
    try rewrite(projList, cond, storePath)
    catch {
      case scala.util.control.NonFatal(e) =>
        logWarning(s"graft index route declined on failure: $e")
        None
    }

  /** Counting is PER PLAN: one fired tick when any rewrite landed in this
    * apply, else one declined tick when a registered relation was consulted
    * — the seam the gates/specs assert ("exactly once per plan"), robust to
    * a plan holding several candidate shapes (a Project-level decline still
    * consults the bare Filter beneath it). */
  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (indexes.isEmpty) return plan
    var consulted = false
    var landed = false
    def consult(p: LogicalPlan, projList: Seq[NamedExpression],
        cond: Expression, rel: DataSourceV2ScanRelation): LogicalPlan =
      scanPath(rel).filter(_ => rel.getTagValue(Spliced).isEmpty).flatMap { sp =>
        if (!indexes.keySet().stream().anyMatch(_._1 == sp)) None
        else {
          consulted = true
          val r = tryRewrite(projList, cond, sp)
          if (r.isDefined) landed = true
          r
        }
      }.getOrElse(p)
    val out = plan.transform {
      case p @ Project(projList, Filter(cond, rel: DataSourceV2ScanRelation)) =>
        consult(p, projList, cond, rel)
      // catalog SQL's SELECT-* shape: the no-op Project is already elided
      case p @ Filter(cond, rel: DataSourceV2ScanRelation) =>
        consult(p, rel.output, cond, rel)
    }
    if (landed) firedCount.increment()
    else if (consulted) declinedCount.increment()
    out
  }
}
