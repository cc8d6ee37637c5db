package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.{expressions => ex}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, Statistics, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.graft.ParquetReadShim
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}

import graft.cdc.CdcApplier
import graft.cdc.CdcApplier.TargetMeta

/** The graft connector's one scan for the table's own shape: a true
  * DataSource-V2 `Batch` scan that serves every current-state read —
  * full, bucket-pruned by pushed key predicates, LIMIT-capped — and the
  * two history shapes: time travel (`asOfPos` / `VERSION AS OF`) and
  * branch lineage (q277/q287). It serves SQL and the Scala read API alike:
  * `CdcApplier.snapshot`, `snapshotAsOf`, `pointLookup` and `rangeLookup`,
  * `Branch.snapshot` and `Branch.pointLookup` are each this scan plus a
  * predicate ([[CdcApplier.connectorRead]]). Only the change-feed envelope
  * (`changesFrom`), which is not a stored read, keeps its own V1
  * [[GraftScan]].
  *
  * Pruning: the pushed predicates map to the covered bucket ids ONCE, when
  * the scan is built ([[GraftScan.coveredBuckets]] over the writer's own
  * hash / range-split expression). At execution, Spark's dynamic-pruning
  * machinery (`PartitionPruning` → `BatchScanExec`) may additionally feed a
  * JOIN's observed dimension keys into [[SupportsRuntimeFiltering.filter]]
  * (q244), which narrows that static coverage through the same arithmetic
  * — so `SELECT ... FROM fact JOIN dim ON fact.pk = dim.k WHERE dim.x = ...`
  * reads only the buckets the dimension's keys can live in. This is the
  * join form of the reference's rowkey-prefix pruning (Astro scans prune
  * HBase regions by rowkey prefix; SURVEY EP3).
  *
  * Planning: ONE input partition per covered bucket. A bucket is
  * key-complete (every version of a key hashes to the same bucket), which
  * makes latest-per-key resolution sound INSIDE the reader
  * ([[GraftResolvingReaderFactory]] — a per-bucket hashmap keyed on the PK
  * projection): no window, no shuffle, only the bucket's resolved working
  * set — the same per-bucket memory bound the applier's own merge already
  * assumes. One-version buckets (plain copy-on-write, compacted mor)
  * stream through with zero buffering. A partition holds one or two
  * SIDES, each a set of files plus the `_graft_pos` cut its rows must
  * pass BEFORE the resolve: the table itself (cut at the as-of position,
  * if any), or, on a branch, main's files cut at the branch point plus the
  * branch directory's files for the same bucket, uncut. A LIMIT caps each
  * partition after the resolve and the tombstone filter (Spark's
  * LocalLimit semantics; Spark keeps the global limit above).
  *
  * Decoding is Spark's own V2 parquet reader end-to-end
  * ([[ParquetReadShim.parquetReaderFactory]]): per-file schema clipping
  * (additive evolution surfaces NULL — also for branch-staged or main
  * columns the other side's files lack), vectorized decode, row-group
  * skipping for the pushed filters (a resolving read pushes only
  * PK-referencing predicates below the resolve — a non-key predicate could
  * skip a row group holding a key's WINNING version while an older version
  * survives elsewhere); a resolving read also applies those PK predicates
  * to its rows before the resolve, so only the matched keys enter the
  * per-bucket map. Spark re-evaluates every pushed predicate above the
  * scan (the connector's standing convention), so reader-side filtering
  * is a performance matter only.
  *
  * Statistics ([[SupportsReportStatistics]]): bytes under the covered
  * buckets (q236 auto-broadcast), plus the ANALYZEd table statistics
  * (q278) and `KeyGroupedPartitioning` (q255) only on a [[wholeTable]]
  * read — the table-level numbers and the full bucket layout describe
  * nothing narrower.
  *
  * The applier's bucket-set mode (`applier`, `buckets`, `dvEvidence`;
  * constructor-only, no read option): the applier's own version reads —
  * `compactMor`, `vacuumMor`'s collapsed part, `rollback`'s two sides,
  * `compact`'s rewrite, the copy-on-write merge's current side and the
  * bucket-slice readers ([[CdcApplier.storedVersions]]). It serves the
  * STORED frame under physical names: every stored column (dropped ones
  * too — a drop is meta-only), `_graft_pos`, `_graft_deleted` with
  * tombstones KEPT (the replay guard a rewrite must carry), and
  * `graft_bucket` from the partition's bucket id (a constant vector when
  * columnar, as Spark's file scan serves partition values); `fullSchema`,
  * `required` and `pushed` are unused. Bucket ids without a directory
  * plan nothing; `asOf` cuts without the serving history guard; and
  * `dvEvidence` (on-disk `dv-` files the caller listed) forces the resolve
  * that serving reads leave to the meta flag (the documented
  * [[CdcApplier.applyBatchDv]] crash window). No runtime filtering, no
  * reported ordering or partitioning.
  */
class GraftBatchScan(
    spark: SparkSession, targetDir: String, fullSchema: StructType,
    required: StructType, pushed: Array[Filter], spjCapable: Boolean = false,
    asOf: Option[Long] = None, limit: Option[Int] = None,
    branch: Option[String] = None, buckets: Option[Seq[Int]] = None,
    applier: Boolean = false, dvEvidence: Boolean = false)
    extends Scan with Batch with SupportsRuntimeFiltering with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  private val target = new Path(targetDir)
  private val hconf = spark.sparkContext.hadoopConfiguration
  private val fs = target.getFileSystem(hconf)
  CdcApplier.openTarget(fs, target)
  /** The table's meta; a branch read takes the branch dir's own (main's
    * layout, the branch's schema), which also proves the branch exists. */
  private val meta = branch match {
    case Some(name) => Some(graft.cdc.Branch.branchMeta(spark, targetDir, name))
    case None       => TargetMeta.read(hconf, target)
  }
  if (!applier)
    asOf.foreach(pos => CdcApplier.requireHistory(meta.getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir")),
      targetDir, pos, "asOfPos"))

  /** Each side's directory and the `_graft_pos` cut its rows must pass. */
  private val sides: Seq[(Path, Option[Long])] = branch match {
    case Some(name) => Seq(
      target -> Some(graft.cdc.Branch.point(spark, targetDir, name)),
      new Path(graft.cdc.Branch.branchDir(targetDir, name)) -> None)
    case None => Seq(target -> asOf)
  }
  private val isMor = meta.exists(_.storage.contains("mor"))
  /** Outstanding deletion vectors (q275): appended key-tombstones mask rows
    * through the same latest-per-key resolve as MOR. */
  private val dvOutstanding = meta.exists(_.dv.exists(_ > 0))
  /** q276: on MOR, a recorded `sorted` is set ONLY by compactMor (after its
    * publish) and cleared by every delta append / vacuum / fast-forward
    * BEFORE new versions become visible — so mor + sorted proves ONE
    * version per key, and the bucket streams through the tombstone filter
    * with no resolve (and may report its order below). */
  private val morCompacted = isMor && meta.exists(_.sorted.exists(_.nonEmpty))
  /** Latest-per-key resolution required? MOR delta chains (unless proven
    * compacted), dv-bearing COW, and every history read (a cut version
    * chain, or main plus a branch's deltas) — [[CdcApplier.needsResolve]]'s
    * rule, refined by the compaction proof this scan can additionally use —
    * and an applier read holding on-disk `dv-` evidence. */
  private val mustResolve =
    (isMor && !morCompacted) || dvOutstanding || sides.exists(_._2.isDefined) ||
      dvEvidence
  private val pkCols: Seq[String] = meta.flatMap(_.pkCols).getOrElse(Seq.empty)
  if (mustResolve && pkCols.isEmpty)
    throw new IllegalStateException(
      s"version-bearing read of $targetDir: the layout has no persisted PK")
  private val bucketCols: Seq[String] =
    meta.flatMap(m => m.bucketCols.orElse(m.pkCols)).getOrElse(Seq.empty)

  /** All bucket ids the read's directories hold (fixed for the scan's
    * lifetime). */
  val allBuckets: Seq[Int] =
    sides.flatMap(s => CdcApplier.bucketIds(fs, s._1)).distinct.sorted

  /** The buckets the pushed predicates cover — computed once, here. */
  private val staticBuckets: Seq[Int] = buckets match {
    case Some(bs) => allBuckets.filter(bs.toSet)
    case None     => GraftScan.coveredBuckets(meta, fullSchema, pushed, allBuckets)
  }

  /** A plain current-state read of the whole table: no history, no limit,
    * and no pushed predicate bounded the bucket key. The only shape that
    * ANALYZEd statistics and the bucket layout describe, and the only one
    * a current-state index route may replace ([[graft.plans.GraftIndexRoute]]). */
  def wholeTable: Boolean =
    !applier && asOf.isEmpty && branch.isEmpty && limit.isEmpty && allBuckets.nonEmpty &&
      staticBuckets.size == allBuckets.size

  /** The covered buckets of the CURRENT execution: the static coverage,
    * narrowed by this execution's runtime filters. Spark hands
    * [[SupportsRuntimeFiltering.filter]] the complete runtime-filter set
    * for an execution in one call, so the semantics are REPLACE, not
    * accumulate: each call recomputes from the static coverage. Carrying
    * a narrower set across executions (the pre-r12 shape) was wrong — a
    * re-executed Scan whose dimension side had GAINED keys would keep the
    * previous execution's pruning and silently drop rows. */
  @volatile private var active: Seq[Int] = staticBuckets
  @volatile private var runtimeFilters: Array[Filter] = Array.empty
  def activeBuckets: Seq[Int] = active
  /** Whether the current execution narrowed this scan with runtime
    * filters — run-time pruning engaged, whatever it left. */
  def runtimeFiltered: Boolean = runtimeFilters.nonEmpty

  /** What the last `planInputPartitions` actually planned — the seam the
    * q244 gate and specs assert pruning through. */
  @volatile var lastPlannedBuckets: Seq[Int] = staticBuckets

  /** (files planned, files present) from the last `planInputPartitions` —
    * the q250 data-skipping seam. (-1, -1) until a plan ran. */
  @volatile var lastPlannedFiles: (Int, Int) = (-1, -1)

  // ---- runtime filtering (Spark calls these at execution time) ----------

  /** The bucket key columns — the only attributes whose runtime values can
    * prune bucket directories. ONLY claimed when every bucket column
    * survives column pruning: Spark resolves these against the scan's
    * pruned output (V2ExpressionUtils.resolveRef THROWS on a miss — a
    * query projecting none of the key columns must still plan), and the
    * pruning arithmetic needs a value set for every bucket column anyway. */
  override def filterAttributes(): Array[NamedReference] =
    if (!applier && bucketCols.nonEmpty && bucketCols.forall(required.fieldNames.contains))
      bucketCols.map(c => Expressions.column(c)).toArray
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters
    active =
      if (filters.isEmpty) staticBuckets
      else GraftScan.coveredBuckets(meta, fullSchema, pushed ++ filters, staticBuckets)
  }

  // ---- schemas -----------------------------------------------------------

  /** File truth: data columns + `_graft_pos` + `_graft_deleted` (the
    * BUCKET column is the directory, never in the files). Read as fully
    * nullable — a file written before an additive evolution lacks the new
    * columns and the reader surfaces NULL. */
  private val fileSchema: StructType = CdcApplier.storedFileSchema(spark, meta, targetDir)

  /** LOGICAL query name → the PHYSICAL name files/footers/sidecars carry
    * (q258 column mapping; identity when the table has no renames). */
  private val physOf: String => String = c => CdcApplier.physicalName(meta, c)
  /** Pushed filters in physical terms — what the parquet reader and the
    * sidecar matcher consume; untranslatable nodes drop (both consumers
    * are optimizations, dropping only reads more). */
  private val pushedPhys: Array[Filter] =
    pushed.flatMap(GraftScan.renameRefs(_, physOf))
  /** A resolving read may skip only on PK-referencing predicates (a key's
    * versions agree on its PK, so skipping by PK cannot change a key's
    * winner); a one-version read may skip on anything. */
  private def resolveSafe(fs: Array[Filter]): Array[Filter] =
    if (mustResolve) fs.filter(_.references.toSet.subsetOf(pkCols.toSet)) else fs

  /** Internal read schema: the required columns first (so output ordinals
    * are a prefix), then whatever the reader additionally needs — the PK +
    * `_graft_pos` for resolution and the history cut, `_graft_deleted`
    * always (the tombstone filter). Field lookups are by PHYSICAL name; the
    * output's ordinal contract makes the logical/physical naming moot at
    * runtime (InternalRows carry no names). */
  private val readInternal: StructType = if (applier) fileSchema else {
    val have = required.fieldNames.toSet
    val extras = (if (mustResolve) pkCols :+ CdcApplier.POS else Seq.empty) ++
      Seq(CdcApplier.DEL)
    StructType(required.fields.map(f => fileSchema(physOf(f.name))) ++
      extras.distinct.filterNot(have).map(fileSchema(_)))
  }
  private def ord(c: String): Int = readInternal.fieldNames.indexOf(c)

  /** The served columns: the query's, or the applier's stored frame (the
    * file schema, then the bucket id). */
  private val served: StructType =
    if (applier) fileSchema.add(CdcApplier.BUCKET, IntegerType) else required

  override def readSchema(): StructType = served
  override def toBatch: Batch = this

  override def description(): String =
    s"GraftBatchScan $targetDir ${if (applier) "applier" else "runtime-filterable"} " +
      s"buckets=${activeBuckets.size}/${allBuckets.size}" +
      (if (lastPlannedFiles._2 >= 0)
        s" files=${lastPlannedFiles._1}/${lastPlannedFiles._2}" else "") +
      (if (applier && mustResolve) " resolving" else "") +
      limit.fold("")(n => s" limit=$n") +
      asOf.fold("")(p => s" asOfPos=$p") +
      branch.fold("")(b => s" branch=$b") +
      (if (pushed.isEmpty) "" else pushed.mkString(" PushedFilters: [", ", ", "]"))

  // ---- batch -------------------------------------------------------------

  /** Storage-partitioned-join eligibility (q255; public design point:
    * Iceberg's SupportsReportPartitioning + `bucket` catalog function,
    * SPARK-37375). A HASH layout whose bucket key columns are all in the
    * read schema reports `KeyGroupedPartitioning(bucket(n, keys...), #all
    * buckets)` — one key-complete partition per bucket directory, each
    * carrying its bucket id as the partition key — so a join of two graft
    * tables with agreeing layouts shuffles NEITHER side (the layout paid
    * the shuffle once, at write time). Range layouts, key-pruned
    * projections and reads narrower than the whole table report Unknown;
    * refusal costs a shuffle, never correctness. The transform resolves
    * against the table's OWN catalog ([[GraftBucketFunction]] — the
    * writer's exact pmod(murmur3) fold). */
  private def keyGrouped: Boolean =
    spjCapable && wholeTable && meta.exists(_.rangeBounds.isEmpty) &&
      bucketCols.nonEmpty && bucketCols.forall(required.fieldNames.contains)

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (keyGrouped)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(Expressions.bucket(meta.get.numBuckets, bucketCols: _*)),
        allBuckets.size)
    else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
      staticBuckets.size)

  // ---- reported ordering (q262) ------------------------------------------

  /** The per-partition ordering this scan can PROVE and will serve, plus
    * the file concatenation order per bucket that serves it. Copy-on-write
    * layouts whose meta records a write-time sort (q262) stream each bucket
    * in that order: a single file per bucket serves the full sort-column
    * list trivially; a multi-file bucket serves it iff the q250 sidecar
    * ranges on the FIRST sort column are disjoint across files (strictly →
    * full list; touching only at equal boundaries → the first column
    * alone). Any unknown (missing stats, nulls on the sort column,
    * overlap) degrades to NO reported order — refusal costs a Sort above
    * the scan, never correctness. A resolving read never reports (the
    * reader-local hashmap resolve is unordered by construction). Reported
    * names are LOGICAL (the relation's output) and only the prefix present
    * in the pruned read schema is claimed. */
  private lazy val orderInfo: (Seq[String], Map[Int, Seq[String]]) = {
    val sortedPhys = meta.flatMap(_.sorted).getOrElse(Seq.empty)
    // a resolving read is unordered by construction (reader-local hashmap):
    // live MOR delta chains, dv-bearing COW and history reads refuse; a
    // COMPACTED mor (q276 — `sorted` set by compactMor, cleared by any
    // delta) streams in file order and MAY report, exactly like sorted COW
    if (applier || mustResolve || sortedPhys.isEmpty) (Seq.empty, Map.empty)
    else {
      val logicalSorted = sortedPhys.map(c => CdcApplier.logicalName(meta, c))
      val present = logicalSorted.takeWhile(required.fieldNames.contains)
      if (present.isEmpty) (Seq.empty, Map.empty)
      else {
        var depth = present.length
        val orders = staticBuckets.map { b =>
          val (names, d) = graft.cdc.FileStats.bucketFileOrder(
            fs, new Path(target, s"${CdcApplier.BUCKET}=$b"), sortedPhys.head)
          if (d == 0) depth = 0
          else if (d == 1) depth = math.min(depth, 1)
          b -> names
        }.toMap
        (present.take(depth), if (depth == 0) Map.empty[Int, Seq[String]] else orders)
      }
    }
  }

  /** `SupportsReportOrdering`: ascending, NULLS FIRST — exactly the order
    * the publish-side `sortWithinPartitions` wrote (Spark's default
    * ascending null ordering), so a co-bucketed storage-partitioned join
    * satisfies its SortMergeJoin requirement with NO per-partition Sort. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    orderInfo._1.map(c => Expressions.sort(Expressions.column(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)).toArray

  override def planInputPartitions(): Array[InputPartition] = {
    val bs = activeBuckets
    lastPlannedBuckets = bs
    // File-level data skipping (q250): the sidecar statistics against the
    // skip-safe filter set. Unknown files/columns are always kept. Time
    // travel skips nothing (its cut is by position, not by value).
    val skipF =
      if (asOf.isDefined) Seq.empty
      else resolveSafe(pushedPhys ++
        runtimeFilters.flatMap(GraftScan.renameRefs(_, physOf))).toIndexedSeq
    var kept = 0
    var total = 0
    val parts = bs.zipWithIndex.map { case (b, i) =>
      val perSide = sides.map { case (dir, cut) =>
        val (files0, n) = graft.cdc.FileStats.selectBucketFiles(
          fs, new Path(dir, s"${CdcApplier.BUCKET}=$b"), skipF)
        // serve the REPORTED order (q262): concatenate the bucket's files
        // in ascending min-order of the first sort column; skipping files
        // never disturbs the order of the rest
        val files = orderInfo._2.get(b) match {
          case Some(names) if orderInfo._1.nonEmpty =>
            val idx = names.zipWithIndex.toMap
            files0.sortBy(st => idx.getOrElse(st.getPath.getName, Int.MaxValue))
          case _ => files0
        }
        kept += files.size
        total += n
        (ParquetReadShim.bucketPartition(i, files), cut)
      }
      GraftBucketPartition(perSide, b): InputPartition
    }.toArray
    lastPlannedFiles = (kept, total)
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val safe = resolveSafe(pushedPhys)
    val inner = ParquetReadShim.parquetReaderFactory(spark, fileSchema, readInternal, safe)
    new GraftResolvingReaderFactory(inner, mustResolve,
      pkCols.map(ord).toArray, ord(CdcApplier.POS), ord(CdcApplier.DEL),
      readInternal, (if (applier) readInternal.indices else required.indices).toArray, limit,
      if (mustResolve) GraftResolvingReaderFactory.rowFilter(safe, readInternal) else None,
      applier)
  }

  /** This scan's rows outside a Spark plan — the V1-resolved relation
    * ([[GraftV1Relation]]) serves them through its `buildScan`. */
  private[sources] def toRdd: org.apache.spark.rdd.RDD[InternalRow] =
    new org.apache.spark.sql.execution.datasources.v2.DataSourceRDD(
      spark.sparkContext, planInputPartitions().toSeq.map(Seq(_)),
      createReaderFactory(), false, Map.empty)

  /** Bytes under the covered buckets, PLUS — when the table was ANALYZEd
    * (q278, [[graft.cdc.ColumnStats]]) and this is a [[wholeTable]] read —
    * the live row count, the rows×width size estimate (raw file bytes
    * over-count a mor table's superseded versions, the wrong number for
    * broadcast selection), and per-column NDV/min/max/nulls/widths for
    * CBO's join reorder and cardinality estimation. Any narrower read keeps
    * the byte-based honesty (the stats describe the whole table). */
  override def estimateStatistics(): Statistics = {
    val bytes = GraftScan.bytesUnder(fs,
      for (b <- activeBuckets; (dir, _) <- sides)
        yield new Path(dir, s"${CdcApplier.BUCKET}=$b"))
    val analyzed =
      if (wholeTable) graft.cdc.ColumnStats.read(spark, targetDir) else None
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(analyzed.map(_.sizeBytes).getOrElse(bytes))
      override def numRows(): java.util.OptionalLong =
        analyzed.map(ts => java.util.OptionalLong.of(ts.rows))
          .getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        if (analyzed.isDefined)
          graft.cdc.ColumnStats.v2ColumnStats(spark, targetDir, required)
        else java.util.Collections.emptyMap()
    }
  }
}

object GraftBatchScan {
  /** The [[GraftBatchScan]]s a logical plan reads, each with its table
    * directory as a scheme-less path. Execution runs these same scan
    * objects, so their bucket state reads back after it. The seam the
    * gates and specs check the optimizer rules' spliced reads through. */
  def readsOf(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[(String, GraftBatchScan)] = plan.collect {
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      (r.relation.table, r.scan)
  }.collect {
    case (t: GraftTable, s: GraftBatchScan) => (new Path(t.targetDir).toUri.getPath, s)
  }
}

/** One bucket's read: per side, that side's files and the `_graft_pos` cut
  * its rows must pass, plus the bucket id as the partition key — the
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]] carrier Spark's
  * key-grouped execution groups/aligns partitions by. Unwrapped by
  * [[GraftResolvingReaderFactory]] before the inner parquet factory sees
  * the sides (that factory handles FilePartitions only). */
case class GraftBucketPartition(
    sides: Seq[(InputPartition, Option[Long])], bucketId: Int)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucketId))
  // delegate locality: the wrapped FilePartitions report block hosts —
  // dropping them would schedule every partition without locality on a
  // real cluster, remote-reading exactly the joins SPJ accelerates
  override def preferredLocations(): Array[String] =
    sides.flatMap(_._1.preferredLocations()).distinct.toArray
}

/** Wraps Spark's parquet reader factory with the graft read semantics, per
  * bucket: each side's `_graft_pos` cut, then, when the read holds
  * versions, the key predicates and latest-per-key resolution, then the
  * tombstone filter (after the resolve, so a newer tombstone suppresses an
  * older upsert), the projection down to the served columns, and the
  * LIMIT cap. A one-version read with no cut and no LIMIT needs only the
  * tombstone filter and the projection, and stays columnar: each decoded
  * batch is served as its required column vectors, narrowed to its live
  * rows ([[SelectedColumnVector]]) when it holds a tombstone. The
  * applier's read (`applier`) keeps tombstones and appends the bucket id
  * as a last column. */
class GraftResolvingReaderFactory(
    inner: PartitionReaderFactory, val resolve: Boolean,
    pkOrdinals: Array[Int], posOrdinal: Int, delOrdinal: Int,
    readSchema: StructType, outOrdinals: Array[Int], limit: Option[Int],
    keyFilter: Option[Expression] = None, applier: Boolean = false)
    extends PartitionReaderFactory {

  private def sidesOf(partition: InputPartition): Seq[(InputPartition, Option[Long])] =
    partition.asInstanceOf[GraftBucketPartition].sides

  override def supportColumnarReads(partition: InputPartition): Boolean =
    !resolve && limit.isEmpty && sidesOf(partition).forall { case (fp, cut) =>
      cut.isEmpty && inner.supportColumnarReads(fp)
    }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val bucket = partition.asInstanceOf[GraftBucketPartition].bucketId
    val readers = sidesOf(partition).map { case (fp, _) => inner.createColumnarReader(fp) }
    val batches = readers.iterator.flatMap(r =>
      Iterator.continually(r).takeWhile(_.next()).map(_.get()))
      .map(b => if (applier) withBucket(b, bucket) else liveColumns(b))
    new PartitionReader[ColumnarBatch] {
      private var cur: ColumnarBatch = _
      override def next(): Boolean = batches.hasNext && { cur = batches.next(); true }
      override def get(): ColumnarBatch = cur
      override def close(): Unit = readers.foreach(_.close())
    }
  }

  /** A decoded batch's served columns, every row, then `bucket` as a
    * constant column. */
  private def withBucket(b: ColumnarBatch, bucket: Int): ColumnarBatch = {
    val id = new ConstantColumnVector(b.numRows, IntegerType)
    id.setInt(bucket)
    new ColumnarBatch(outOrdinals.map(b.column) :+ id, b.numRows)
  }

  /** A decoded batch's served columns, over its live rows only (a NULL
    * `_graft_deleted` drops, as on the row path). */
  private def liveColumns(b: ColumnarBatch): ColumnarBatch = {
    val del = b.column(delOrdinal)
    val cols = outOrdinals.map(b.column)
    val n = b.numRows
    val sel = new Array[Int](n)
    var live = 0
    var i = 0
    while (i < n) {
      if (!del.isNullAt(i) && !del.getBoolean(i)) { sel(live) = i; live += 1 }
      i += 1
    }
    if (live == n) new ColumnarBatch(cols, n)
    else {
      val kept = java.util.Arrays.copyOf(sel, live)
      new ColumnarBatch(cols.map(c => new SelectedColumnVector(c, kept): ColumnVector), live)
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    def refs(ords: Array[Int]): Seq[Expression] = ords.toIndexedSeq.map(i =>
      BoundReference(i, readSchema(i).dataType, nullable = true))
    def proj(ords: Array[Int]): UnsafeProjection = UnsafeProjection.create(refs(ords))
    val sides = sidesOf(partition)
    val readers = sides.map { case (fp, _) => inner.createReader(fp) }
    val cutRows = readers.iterator.zip(sides.iterator.map(_._2)).flatMap {
      case (r, cut) =>
        val rows = Iterator.continually(r).takeWhile(_.next()).map(_.get())
        cut.fold(rows)(p => rows.filter(row =>
          !row.isNullAt(posOrdinal) && row.getLong(posOrdinal) <= p))
    }
    // a key's versions share its PK, so a PK-only predicate applied before
    // the resolve keeps or drops all of them together: only the matched
    // keys enter the per-bucket map
    val versions = keyFilter.fold(cutRows) { f =>
      val pred = ex.Predicate.createInterpreted(f)
      cutRows.filter(pred.eval)
    }
    val outProj =
      if (applier) UnsafeProjection.create(refs(outOrdinals) :+
        Literal(partition.asInstanceOf[GraftBucketPartition].bucketId))
      else proj(outOrdinals)
    val live = (if (resolve) latestPerKey(versions, proj(pkOrdinals)) else versions)
      .filter(r => applier || (!r.isNullAt(delOrdinal) && !r.getBoolean(delOrdinal)))
      .map(outProj(_))
    val capped = limit.fold(live)(live.take)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = capped.hasNext && { cur = capped.next(); true }
      override def get(): InternalRow = cur
      override def close(): Unit = readers.foreach(_.close())
    }
  }

  /** The bucket is key-complete, so latest-per-key resolves READER-LOCALLY:
    * a hashmap from the PK projection to the newest version's row (newest
    * `_graft_pos` wins; replay duplicates are value-identical, so the
    * first-seen tie winner is the same row — the rule
    * [[graft.cdc.CdcApplier.liveRead]]'s window applies too). Memory is the
    * bucket's RESOLVED working set. */
  private def latestPerKey(rows: Iterator[InternalRow], keyProj: UnsafeProjection)
      : Iterator[InternalRow] = {
    val winners = new java.util.HashMap[UnsafeRow, (Long, InternalRow)]()
    rows.foreach { r =>
      val pos = if (r.isNullAt(posOrdinal)) Long.MinValue else r.getLong(posOrdinal)
      val k = keyProj(r)
      val prev = winners.get(k)
      if (prev == null || pos > prev._1) winners.put(k.copy(), (pos, r.copy()))
    }
    winners.values.iterator.asScala.map(_._2)
  }
}

object GraftResolvingReaderFactory {
  /** The conjunction of the pushed filters that translate exactly into a
    * predicate over `schema`'s ordinals; the rest stay with Spark's
    * filter above the scan, which re-evaluates every pushed filter. */
  def rowFilter(filters: Array[Filter], schema: StructType): Option[Expression] = {
    def ref(c: String): Expression = {
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, nullable = true)
    }
    def value(c: String, v: Any): Literal = Literal.create(v, schema(c).dataType)
    def expr(f: Filter): Expression = f match {
      case sources.EqualTo(c, v)            => ex.EqualTo(ref(c), value(c, v))
      case sources.EqualNullSafe(c, v)      => ex.EqualNullSafe(ref(c), value(c, v))
      case sources.In(c, vs)                => ex.InSet(ref(c), vs.map(value(c, _).value).toSet)
      case sources.IsNull(c)                => ex.IsNull(ref(c))
      case sources.IsNotNull(c)             => ex.IsNotNull(ref(c))
      case sources.GreaterThan(c, v)        => ex.GreaterThan(ref(c), value(c, v))
      case sources.GreaterThanOrEqual(c, v) => ex.GreaterThanOrEqual(ref(c), value(c, v))
      case sources.LessThan(c, v)           => ex.LessThan(ref(c), value(c, v))
      case sources.LessThanOrEqual(c, v)    => ex.LessThanOrEqual(ref(c), value(c, v))
      case sources.And(l, r)                => ex.And(expr(l), expr(r))
      case sources.Or(l, r)                 => ex.Or(expr(l), expr(r))
      case sources.Not(c)                   => ex.Not(expr(c))
      case other => throw new IllegalArgumentException(s"no row form for $other")
    }
    filters.flatMap(f => scala.util.Try(expr(f)).toOption).reduceOption(ex.And(_, _))
  }
}

/** Row `i` of this vector is row `sel(i)` of `base` — a column batch's
  * live rows without copying them. The base's owner closes it. */
private final class SelectedColumnVector(base: ColumnVector, sel: Array[Int])
    extends ColumnVector(base.dataType()) {
  private val children = scala.collection.mutable.Map.empty[Int, ColumnVector]
  override def close(): Unit = ()
  override def hasNull: Boolean = base.hasNull && numNulls > 0
  override def numNulls: Int = sel.count(base.isNullAt)
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(sel(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int): org.apache.spark.sql.types.Decimal =
    base.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  override def getChild(ordinal: Int): ColumnVector =
    children.getOrElseUpdate(ordinal, new SelectedColumnVector(base.getChild(ordinal), sel))
}
