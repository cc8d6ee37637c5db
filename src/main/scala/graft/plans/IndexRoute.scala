package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, DynamicPruningSubquery, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Filter, HintInfo, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnShim

import graft.cdc.CdcApplier
import graft.cdc.CdcApplier.{BUCKET, TargetMeta}

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
  * two-hop route, the store root through V1 live reads.
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
  * the store's live read against the literal-filtered index read, the
  * index side broadcast, and the store scan pruning its bucket directories
  * at run time from that same broadcast (Spark's dynamic partition
  * pruning). Two bounds remain, because a generated 50k-literal IN or a
  * table-wide range must not become a lookup: an IN-list wider than
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
  private case class Points(values: Seq[Literal]) extends Form
  private case class Range(lo: Option[Long], hi: Option[Long]) extends Form
  private case class Route(col: AttributeReference, form: Form, indexDir: String)

  private def asLong(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue)
    case _                   => None
  }

  /** Strict-bound adjustment WITHOUT wraparound: `col > Long.MaxValue` /
    * `col < Long.MinValue` are always-false predicates, and naive `x + 1`
    * wraps them into whole-domain ranges — the route would then serve the
    * ENTIRE index where the plan demands zero rows. A domain-edge strict
    * bound declines instead (None), and the scan answers correctly. */
  private def incExact(x: Long): Option[Long] =
    if (x == Long.MaxValue) None else Some(x + 1)
  private def decExact(x: Long): Option[Long] =
    if (x == Long.MinValue) None else Some(x - 1)

  /** The routable predicate on a registered indexed column. Point/IN wins
    * over a range on ties; among several routable columns the name-least
    * wins (determinism — the others' conjuncts filter on top, which is
    * correct either way). */
  private def routeOf(cs: Seq[Expression], storePath: String): Option[Route] = {
    val points = cs.collect {
      case EqualTo(a: AttributeReference, l @ Literal(v, _)) if v != null => (a, Seq(l))
      case EqualTo(l @ Literal(v, _), a: AttributeReference) if v != null => (a, Seq(l))
      case In(a: AttributeReference, vs) if vs.nonEmpty &&
        vs.forall { case Literal(v, _) => v != null; case _ => false } =>
        (a, vs.map(_.asInstanceOf[Literal]))
    }
    // range conjuncts (q274): literal one-/two-sided bounds, integral only
    // (rangeLookup's domain — the range-bucketed layouts are Long-keyed);
    // a non-convertible bound still filters on top, never dropped
    val ranges = cs.collect {
      case GreaterThan(a: AttributeReference, Literal(v, _)) if v != null =>
        (a, asLong(v).flatMap(incExact).map(x => Range(Some(x), None)))
      case GreaterThan(Literal(v, _), a: AttributeReference) if v != null =>
        (a, asLong(v).flatMap(decExact).map(x => Range(None, Some(x))))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
        (a, asLong(v).map(x => Range(Some(x), None)))
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) if v != null =>
        (a, asLong(v).map(x => Range(None, Some(x))))
      case LessThan(a: AttributeReference, Literal(v, _)) if v != null =>
        (a, asLong(v).flatMap(decExact).map(x => Range(None, Some(x))))
      case LessThan(Literal(v, _), a: AttributeReference) if v != null =>
        (a, asLong(v).flatMap(incExact).map(x => Range(Some(x), None)))
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
        (a, asLong(v).map(x => Range(None, Some(x))))
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) if v != null =>
        (a, asLong(v).map(x => Range(Some(x), None)))
    }
    val pointRoute = points
      .filter(p => indexes.containsKey((storePath, p._1.name)))
      .sortBy(_._1.name).headOption.map { case (a, vs) =>
        Route(a, Points(vs), indexes.get((storePath, a.name)))
      }
    def rangeRoute = ranges
      .filter(r => r._2.isDefined && indexes.containsKey((storePath, r._1.name)))
      .groupBy(_._1.name).toSeq.sortBy(_._1).headOption.map { case (_, rs) =>
        val a = rs.head._1
        val merged = rs.flatMap(_._2).foldLeft(Range(None, None)) { (acc, r) =>
          Range(
            (acc.lo.toSeq ++ r.lo.toSeq).reduceOption(math.max(_: Long, _: Long)),
            (acc.hi.toSeq ++ r.hi.toSeq).reduceOption(math.min(_: Long, _: Long)))
        }
        Route(a, merged, indexes.get((storePath, a.name)))
      }
    pointRoute.orElse(rangeRoute)
  }

  /** The index side of a route: the index's live rows the routed literals
    * select, read from only the index buckets they can live in, with the
    * routed predicate below the resolve. The literals fix the bucket only
    * when the index is bucketed on the routed column alone — point/IN
    * literals map through [[CdcApplier.bucketIdsOf]] typed to the index
    * column, a range to its contiguous covering buckets on a range layout
    * (the arithmetic [[CdcApplier.rangeLookup]] uses). None declines
    * (IN-list past the cap, layout ineligible). No Spark job runs. */
  private def indexSide(spark: SparkSession, route: Route, idxMeta: TargetMeta)
      : Option[DataFrame] = {
    val name = route.col.name
    if (idxMeta.bucketCols.orElse(idxMeta.pkCols) != Some(Seq(name))) return None
    val c = col(name)
    val (buckets, pred) = route.form match {
      case Points(lits) =>
        if (lits.size > maxKeys(spark)) return None
        val t = CdcApplier.storedSchema(Some(idxMeta)).fold(route.col.dataType)(_(name).dataType)
        val typed = lits.map(l => ColumnShim.column(if (l.dataType == t) l else Cast(l, t)))
        (CdcApplier.bucketIdsOf(spark, typed.map(Seq(_)), idxMeta.numBuckets,
          idxMeta.rangeBounds), c.isin(typed: _*))
      case Range(lo, hi) =>
        val bounds = idxMeta.rangeBounds.getOrElse(return None)
        val (l, h) = (lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue))
        (bounds.count(_ <= l) to bounds.count(_ <= h), c >= l && c <= h)
    }
    val dir = new Path(route.indexDir)
    CdcApplier.openTarget(dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
    Some(CdcApplier.liveRead(spark, Some(idxMeta), route.indexDir, Seq(route.indexDir),
      below = _.filter(col(BUCKET).isin(buckets.distinct: _*)).filter(pred)))
  }

  /** The two-hop store side: the store's live read over the whole table,
    * left-semi joined below its resolve against the index side's
    * (PK, store bucket) pairs. The bucket equality is exact by
    * construction — the writer placed every row by that same
    * [[CdcApplier.bucketExprCols]] — and lets the store scan prune its
    * bucket directories at run time: a dynamic-pruning filter over the
    * store relation reuses the join's broadcast (its build keys ARE the
    * join's), and `onlyInBroadcast` keeps it from ever planning a second
    * read of the index. The broadcast hint sits on the Join itself: hint
    * wrappers are resolved before user rules run. Both the semi-join and
    * the pruning filter reference only the PK, so they are safe below a
    * version-bearing layout's resolve. None declines: a two-hop RANGE
    * whose index matches more than the cap — the one data-dependent
    * decline, and so the rule's one planning-time job. */
  private def storeSide(spark: SparkSession, route: Route, storePath: String,
      storeMeta: TargetMeta, storePk: Seq[String], index: DataFrame): Option[LogicalPlan] = {
    val cap = maxKeys(spark)
    if (route.form.isInstanceOf[Range] && index.limit(cap + 1).count() > cap) return None
    val keys = index.select(storePk.map(col) :+ CdcApplier.bucketExprCols(
      storeMeta.bucketCols.getOrElse(storePk).map(col), storeMeta.numBuckets,
      storeMeta.rangeBounds).as(BUCKET): _*)
    val read = CdcApplier.liveRead(spark, Some(storeMeta), storePath, Seq(storePath),
      below = _.join(keys, storePk :+ BUCKET, "left_semi"))
    Some(read.queryExecution.analyzed.transformUp {
      case j @ Join(_, _, LeftSemi, _, _) => j match {
        case ExtractEquiJoinKeys(_, leftKeys, rightKeys, _, _, left, right, _) =>
          val b = leftKeys.indexWhere(_.references.exists(_.name == BUCKET))
          val pruning = DynamicPruningSubquery(leftKeys(b), right, rightKeys, Seq(b),
            onlyInBroadcast = true)
          j.copy(left = left.transformUp { case r: LogicalRelation => Filter(pruning, r) },
            hint = JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
        case _ => j
      }
    })
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
      index <- indexSide(spark, route, idxMeta)
      refs = outAttrs.map(_.name) ++ kept.flatMap(_.references.map(_.name))
      // covered (q282; Phoenix's covered query): every projected and
      // filtered column lives on the index, so the index side IS the answer
      // and nothing touches the store. The layout offset `_graft_pos` is
      // NEVER covered: the index's positions are its own, not the store's.
      covered = refs.forall(n => n != CdcApplier.POS && index.columns.contains(n))
      served <- if (covered) Some(index.queryExecution.analyzed)
        else storeSide(spark, route, storePath, storeMeta, storePk, index)
      byName = served.output.map(a => a.name -> a).toMap
      if refs.forall(byName.contains)
    } yield Project(outAttrs.map(o => Alias(byName(o.name), o.name)(exprId = o.exprId)),
      Filter(kept.map(_.transform { case a: AttributeReference => byName(a.name) })
        .reduce(And), served))
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
      scanPath(rel).flatMap { sp =>
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
