package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.{SaveMode}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.CdcApplier
import graft.cdc.CdcApplier.TargetMeta

/** DataSource V2 connector serving graft CDC targets to plain SQL:
  * `spark.read.format("graft").load(targetDir)` (and, through
  * [[graft.catalog.Catalog.map]], any mapped `sparkTableName`). The engine's
  * Scala read paths (`snapshot`/`pointLookup`/`rangeLookup`, as-of and
  * branch reads) are this connector plus a predicate, so a SQL user gets
  * the same properties without calling them:
  *
  *  - '''Filter pushdown''' ([[SupportsPushDownFilters]]): PK equality /
  *    IN / range predicates map to the persisted layout's bucket ids —
  *    evaluated driver-side through the writer's own
  *    [[CdcApplier.bucketExprCols]] over literal key tuples, so reader and
  *    writer cannot disagree — and the scan loads ONLY the covered
  *    `graft_bucket=N` directories (directory-level pruning: uncovered
  *    buckets are never even listed). All pushed predicates are also
  *    applied inside the scan, reaching the parquet reader for row-group
  *    skipping; Spark re-evaluates them above (parquet convention), so a
  *    translation gap can only cost performance, never correctness.
  *  - '''Column pruning''' ([[SupportsPushDownRequiredColumns]]): the scan
  *    projects the required columns; Catalyst prunes the inner parquet read
  *    to required ∪ layout columns.
  *  - '''Merge-on-read resolution''': a `storage=mor` target resolves
  *    latest-per-key inside each bucket's reader before serving rows —
  *    the plain-parquet view this replaces leaked superseded versions.
  *    Only PK-referencing predicates reach the reader BELOW the resolve
  *    (all of a key's versions share its PK, so they prune without
  *    changing the per-key winner); Spark applies everything above.
  *  - '''Tombstones''' are always filtered (after resolution on mor, so a
  *    newer tombstone suppresses an older upsert).
  *
  * Execution: every read of the table's own shape — full, pruned, LIMIT,
  * as-of, branch — is ONE DataSource-V2 scan, [[GraftBatchScan]]; only the
  * change-feed envelope (`changesFrom`) plans a DataFrame, behind the
  * public [[V1Scan]] seam ([[GraftScan]]).
  *
  * Writes (`INSERT INTO` / `INSERT OVERWRITE` / `DELETE FROM` /
  * `df.write.format("graft")`) are NOT blind appends: every surface funnels
  * into [[GraftWrites.insertInto]] / [[GraftWrites.deleteWhere]], which
  * express the statement as a change batch and hand it to
  * [[CdcApplier.applyBatch]] — the CDC merge discipline (last-writer-wins,
  * tombstones, bucket swaps) applies to hand-typed SQL exactly as to the
  * replication stream.
  *
  * 100 TB shape: a `WHERE pk IN (...)` over a 1000-bucket table reads ≤
  * |IN| bucket dirs with the IN-list pushed to parquet row groups; a
  * `BETWEEN` over a range layout reads only the covering contiguous
  * buckets. Nothing here is sized by the table — pruning arithmetic is
  * driver-side over the pushed literal set and the persisted split points.
  *
  * Reference parity: the reference serves SQL over its HBase tables through
  * Astro's catalog with rowkey-prefix pruning (SURVEY §2.2 scans); this is
  * that capability, Spark-native.
  */
class GraftDataSource extends TableProvider with RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  /** Streaming seam: `spark.readStream.format("graft").load(dir)` tails a
    * mor target's change feed ([[GraftChangeFeedSource]]). [[GraftTable]]
    * deliberately does not claim MICRO_BATCH_READ, so `DataStreamReader`
    * falls back to this V1 provider — the streaming mirror of the batch
    * path's [[V1Scan]] seam. */
  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), GraftTable.changesSchema(ctx.sparkSession,
      GraftDataSource.streamPathOf(parameters)))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    new GraftChangeFeedSource(ctx.sparkSession,
      GraftDataSource.streamPathOf(parameters),
      parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("changesfrom") => v.toLong
      },
      parameters.collectFirst {
        case (k, v) if k.equalsIgnoreCase("maxpositionspertrigger") => v.toLong
      })

  /** Streaming sink seam: `df.writeStream.format("graft").start(dir)`
    * lands micro-batches through the applier ([[GraftSink]]) — with
    * [[createSource]] above, replication is one streaming query. */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft targets are bucketed by their persisted layout, not partitionBy")
    new GraftSink(ctx.sparkSession, GraftDataSource.streamPathOf(parameters),
      parameters)
  }

  /** Accept an externally-supplied schema: `df.write.format("graft")` on a
    * NOT-YET-EXISTING target hands the frame's own schema to [[getTable]]
    * (there is nothing on disk to infer from); reads never pass one. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = GraftDataSource.pathOf(options)
    if (GraftDataSource.changesFromOf(options).isDefined)
      GraftTable.changesSchema(SparkSession.active, path)
    else GraftTable.tableSchema(SparkSession.active, path,
      GraftDataSource.branchOf(options))
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftTable(GraftDataSource.pathOf(opts), schema,
      GraftDataSource.asOfOf(opts), GraftDataSource.changesFromOf(opts),
      branch = GraftDataSource.branchOf(opts))
  }

  /** V1 seam: whatever resolves a graft path through
    * `DataSource.resolveRelation` ([[RelationProvider]], not
    * [[TableProvider]]) — `CREATE TABLE ... USING graft`'s validation, or a
    * session listing `graft` in `spark.sql.sources.useV1SourceList` — gets
    * the same scan and pruning, served as a [[PrunedFilteredScan]].
    * Otherwise `DataFrameReader.load` and `USING graft` tables take the V2
    * path above (`lookupDataSourceV2` prefers TableProvider). */
  override def createRelation(
      ctx: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source needs a path"))
    val asOf = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("asofpos") => v.toLong
    }
    val changesFrom = parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("changesfrom") => v.toLong
    }
    new GraftV1Relation(ctx, dir, asOf, changesFrom)
  }

  /** V1 save path (`df.write.format("graft").mode(...).save(dir)` when the
    * V2 route is not taken): [[SaveMode]] maps onto the CDC write algebra —
    * Append = upsert batch, Overwrite = replace-contents batch,
    * ErrorIfExists / Ignore consult the target's `.graft_meta`. */
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft write needs a path"))
    val exists = TargetMeta.read(
      ctx.sparkSession.sparkContext.hadoopConfiguration, new Path(dir)).isDefined
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft target $dir already exists")
      case SaveMode.Ignore if exists => // no-op by contract
      case m =>
        GraftWrites.insertInto(dir, data, m == SaveMode.Overwrite, parameters)
    }
    new GraftV1Relation(ctx, dir)
  }
}

/** The V1-resolved relation: a thin adapter over the V2 read of the same
  * path and options — each `buildScan` (per query) builds the scan through
  * [[GraftScanBuilder]] with the pushed filters and required columns and
  * serves its rows. */
class GraftV1Relation(ctx: SQLContext, targetDir: String,
    asOf: Option[Long] = None, changesFrom: Option[Long] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {
  /** SQL `INSERT INTO` on a V1-resolved graft relation — the CDC upsert /
    * replace-contents batch of [[GraftWrites.insertInto]]. The as-of and
    * change-feed projections are read-only views of history. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(asOf.isEmpty && changesFrom.isEmpty,
      "asOfPos / changesFrom serve read-only projections; write to the table itself")
    GraftWrites.insertInto(targetDir, data, overwrite, Map.empty)
  }
  override def sqlContext: SQLContext = ctx
  override val schema: StructType =
    if (changesFrom.isDefined) GraftTable.changesSchema(ctx.sparkSession, targetDir)
    else GraftTable.tableSchema(ctx.sparkSession, targetDir)
  override def needConversion: Boolean = false
  // convention as in the V2 scan: pruning + parquet pushdown below, but the
  // engine keeps the authoritative evaluation above
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  /** The served scan's description once a query planned it (pruning
    * ratio, files, pushed filters) — the relation's explain surface. */
  @volatile private var served: String = targetDir

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val b = new GraftScanBuilder(ctx.sparkSession, targetDir, schema, asOf, changesFrom)
    b.pushFilters(filters)
    b.pruneColumns(StructType(requiredColumns.map(schema(_))))
    val scan = b.build()
    val rows = scan match {
      case s: GraftBatchScan => s.toRdd
      case s: GraftScan      => s.innerDf.queryExecution.toRdd
    }
    served = scan.description()
    rows.asInstanceOf[RDD[Row]]
  }
  override def toString: String = s"GraftV1Relation($served)"
}

object GraftDataSource {
  private[sources] def streamPathOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft stream source needs a path: spark.readStream.format(\"graft\").load(targetDir)"))

  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path"))
    p.getOrElse(throw new IllegalArgumentException(
      "graft source needs exactly one path: spark.read.format(\"graft\").load(targetDir)"))
  }

  /** Time-travel read option: `.option("asOfPos", pos)` serves the state
    * AS OF that position — [[CdcApplier.snapshotAsOf]]'s semantics (mor
    * layouts only; positions below the compaction/vacuum floor are
    * refused rather than answered wrong) available to plain SQL. */
  private[sources] def asOfOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("asofpos")).map(_.toLong)

  /** Change-feed read option: `.option("changesFrom", pos)` serves the
    * reconstructed CDC envelope of every change with position > pos —
    * [[CdcApplier.changeFeed]]'s semantics and guards (mor layouts are
    * their own binlog between compactions; a cursor below the retained
    * floor is refused). The table's schema switches to the envelope shape
    * (op, next_position, before, after) — Delta CDF's `table_changes` on
    * the graft surface. */
  private[sources] def changesFromOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("changesfrom")).map(_.toLong)

  /** Branch read option (q277): `.option("branch", name)` serves the
    * BRANCH LINEAGE — main AS OF the branch point overlaid with the
    * branch's staged deltas, resolved latest-per-key
    * ([[graft.cdc.Branch.snapshot]]'s semantics) — through the connector,
    * with bucket pruning on BOTH sides. The audit-read surface of the WAP
    * pattern, also reachable as `VERSION AS OF '<branch>'` on the catalog. */
  private[sources] def branchOf(options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("branch"))
}

private[sources] object GraftProvider {
  /** q288 gate conf: additive schema evolution through SQL MERGE/INSERT.
    * Default OFF — the reference's S4 posture is fail-fast on drift; a
    * user opts into the Delta-autoMerge analog explicitly. (The syntactic
    * spelling `MERGE ... WITH SCHEMA EVOLUTION` needs no conf — the
    * statement itself is the explicit opt-in.) */
  def autoMergeEnabled: Boolean =
    scala.util.Try(org.apache.spark.sql.SparkSession.active.conf
      .get("spark.graft.schema.autoMerge").toBoolean).getOrElse(false)
}

class GraftTable(val targetDir: String, tableSchema: StructType,
    asOf: Option[Long] = None, changesFrom: Option[Long] = None,
    spjCapable: Boolean = false, branch: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.index.SupportsIndex {
  override def name(): String = s"graft.`$targetDir`"
  override def schema(): StructType = tableSchema
  /** q288 — additive schema evolution on the SQL write surface.
    * AUTOMATIC_SCHEMA_EVOLUTION is advertised ALWAYS: in Spark 4 the
    * capability is a PREREQUISITE, not a trigger — `MergeIntoTable.
    * schemaEvolutionEnabled` requires the capability AND the explicit
    * `MERGE ... WITH SCHEMA EVOLUTION` syntax, so a plain MERGE never
    * evolves (the reference's fail-fast S4 drift posture stays the
    * default; the statement itself is the explicit opt-in). Spark's own
    * `ResolveMergeIntoSchemaEvolution` then routes the new source columns
    * through [[graft.catalog.GraftCatalog.alterTable]] (the fenced S4
    * additive commit) and reloads. With `spark.graft.schema.autoMerge=
    * true` (session conf, default off — Delta's mergeSchema-append analog)
    * the table additionally advertises ACCEPT_ANY_SCHEMA, which skips
    * Spark's insert alignment so an `INSERT`/`append` may carry new
    * columns; [[GraftWrites.insertInto]] then reconciles BY NAME (extra
    * columns evolve additively, absent stored columns NULL-pad, PK must
    * be present). The conf is read per-call: analysis consults
    * capabilities at plan time, so flipping it flips the surface. */
  override def capabilities(): java.util.Set[TableCapability] = {
    val base = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    if (GraftProvider.autoMergeEnabled)
      base.add(TableCapability.ACCEPT_ANY_SCHEMA)
    base
  }

  // ---- ANSI index DDL (q292; Spark's SupportsIndex — `CREATE INDEX name
  // ON t (col) [OPTIONS (...)]` / `DROP INDEX name ON t`): the literal DDL
  // spelling over the q283 lifecycle. A graft secondary index is
  // IDENTIFIED BY ITS COLUMN (the meta registry, the route table, and the
  // sibling-dir layout all key on it), so the statement's index name must
  // equal the indexed column — a clear refusal names the contract.
  // OPTIONS pass through: covering, layout (or `USING <type>`), buckets,
  // max_buckets (a bounded first slice; resume via CALL
  // system.create_index — re-CREATE refuses as already-existing).

  private def liveTableOnly(what: String): Unit =
    require(asOf.isEmpty && changesFrom.isEmpty && branch.isEmpty,
      s"$what applies to the live table, not an as-of/change-feed/branch projection")

  override def createIndex(indexName: String,
      columns: Array[org.apache.spark.sql.connector.expressions.NamedReference],
      columnsProperties: java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        java.util.Map[String, String]],
      properties: java.util.Map[String, String]): Unit = {
    liveTableOnly("CREATE INDEX")
    require(columns.length == 1,
      "graft secondary indexes serve ONE column (composite selectivity " +
        "comes from covering payload + residual filters); got " +
        columns.map(_.describe).mkString(", "))
    val colName = columns(0).fieldNames.mkString(".")
    if (indexExists(indexName))
      throw new org.apache.spark.sql.catalyst.analysis
        .IndexAlreadyExistsException(indexName, name(), scala.None)
    require(indexName == colName,
      s"graft indexes are identified by their indexed column — name the " +
        s"index after it ('$colName', got '$indexName')")
    val p = new java.util.HashMap[String, String](properties)
    val layout = Option(p.get(
      org.apache.spark.sql.connector.catalog.index.SupportsIndex.PROP_TYPE))
      .filter(_.nonEmpty)
      .orElse(Option(p.get("layout"))).getOrElse("hash")
    graft.cdc.IndexLifecycle.createIndex(SparkSession.active, targetDir,
      colName,
      covering = Option(p.get("covering")).toSeq
        .flatMap(_.split(",").map(_.trim)).filter(_.nonEmpty),
      layout = layout,
      buckets = Option(p.get("buckets")).map(_.toInt),
      maxBuckets = Option(p.get("max_buckets")).map(_.toInt)
        .getOrElse(Int.MaxValue))
    ()
  }

  override def dropIndex(indexName: String): Unit = {
    liveTableOnly("DROP INDEX")
    if (!indexExists(indexName))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchIndexException(indexName, name(), scala.None)
    graft.cdc.IndexLifecycle.dropIndex(SparkSession.active, targetDir, indexName)
  }

  override def indexExists(indexName: String): Boolean =
    graft.cdc.CdcApplier.TargetMeta.read(
      SparkSession.active.sparkContext.hadoopConfiguration,
      new Path(targetDir))
      .exists(_.indexes.exists(_.contains(indexName)))

  override def listIndexes()
      : Array[org.apache.spark.sql.connector.catalog.index.TableIndex] = {
    // an index-less table LISTS as empty (unlike CALL system.indexes,
    // which refuses — a DDL listing is a query, the CALL is a probe)
    val any = graft.cdc.CdcApplier.TargetMeta.read(
      SparkSession.active.sparkContext.hadoopConfiguration,
      new Path(targetDir)).exists(_.indexes.exists(_.nonEmpty))
    if (!any)
      return Array.empty[org.apache.spark.sql.connector.catalog.index.TableIndex]
    graft.cdc.IndexLifecycle.describe(SparkSession.active, targetDir).map { i =>
      val props = new java.util.Properties()
      props.setProperty("state", i.state)
      if (i.covering.nonEmpty) props.setProperty("covering", i.covering.mkString(","))
      props.setProperty("seeded_buckets", i.seeded.toString)
      props.setProperty("total_buckets", i.total.toString)
      new org.apache.spark.sql.connector.catalog.index.TableIndex(
        i.column, i.layout,
        Array(org.apache.spark.sql.connector.expressions.Expressions.column(i.column)),
        java.util.Collections.emptyMap(), props)
    }.toArray
  }

  /** The layout as a V2 partitioning transform — `bucket(numBuckets,
    * bucketCols...)` for HASH layouts, resolved against this table's own
    * catalog function ([[GraftBucketFunction]]) by Spark's
    * storage-partitioned-join rule. Reported ONLY for tables served by
    * [[graft.catalog.GraftCatalog]] (`spjCapable`): that catalog is the one
    * that can resolve `bucket` — Spark resolves transforms against the
    * RELATION'S catalog, and the session catalog (path reads, `USING
    * graft` tables) throws on the lookup instead of declining. Range
    * layouts report nothing (their assignment is split-point arithmetic,
    * not the `bucket` hash — misreporting would co-locate wrong); so do
    * the as-of / change-feed projections (their relations don't serve the
    * key columns as the live-table shape this transform describes). */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    if (!spjCapable || asOf.isDefined || changesFrom.isDefined ||
      branch.isDefined) return Array.empty
    val meta = TargetMeta.read(
      SparkSession.active.sparkContext.hadoopConfiguration, new Path(targetDir))
    meta match {
      case Some(m) if m.rangeBounds.isEmpty =>
        m.bucketCols.orElse(m.pkCols).filter(_.nonEmpty)
          .map(cs => Array(org.apache.spark.sql.connector.expressions.Expressions
            .bucket(m.numBuckets, cs: _*)))
          .getOrElse(Array.empty)
      case _ => Array.empty
    }
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, targetDir, tableSchema,
      asOf.orElse(GraftDataSource.asOfOf(options)),
      changesFrom.orElse(GraftDataSource.changesFromOf(options)),
      spjCapable = spjCapable,
      branch = branch.orElse(GraftDataSource.branchOf(options)))

  /** V2 write route (SQL `INSERT INTO` / `INSERT OVERWRITE` on `USING
    * graft` tables, `df.write` V2 saves) — lands on
    * [[GraftWrites.insertInto]] like every other write surface, through
    * the public [[V1Write]] seam (the write-side mirror of the scan's
    * [[V1Scan]]). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf.isEmpty && changesFrom.isEmpty,
      "asOfPos / changesFrom serve read-only projections; write to the table itself")
    // q287: a branch-bound table STAGES — `INSERT INTO cat.ns.t.branch_x`
    // lands on Branch.applyBatch, main untouched until fast_forward
    new GraftWriteBuilder(targetDir,
      info.options.asCaseSensitiveMap.asScala.toMap, branch)
  }

  /** SQL `UPDATE` / `MERGE INTO` (and row-level `DELETE` when the
    * predicates don't translate): Spark's delta-based row-level rewrite,
    * folded back into ONE applier change batch — see [[GraftRowLevel]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(asOf.isEmpty && changesFrom.isEmpty,
      "asOfPos / changesFrom serve read-only projections; write to the table itself")
    // q287: on a branch-bound table the rewrite READS the branch lineage
    // and the folded change batch STAGES via Branch.applyBatch
    () => new GraftRowLevelOperation(targetDir, tableSchema, info, branch)
  }

  /** SQL `DELETE FROM`: predicates translate through the read path's own
    * exact [[GraftScan.toColumn]] translations and tombstone the selected
    * keys via the applier — cost ∝ touched buckets, never a rewrite. On a
    * branch-bound table (q287) the victims come from the branch lineage
    * and the tombstones stage on the branch. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftWrites.canDelete(filters)
  override def deleteWhere(filters: Array[Filter]): Unit =
    GraftWrites.deleteWhere(SparkSession.active, targetDir, filters, branch)
}

/** Write-intent builder: `truncate()` (Spark's INSERT OVERWRITE planning)
  * flips the one flag that turns the upsert batch into the
  * replace-contents batch. */
class GraftWriteBuilder(targetDir: String, params: Map[String, String],
    branch: Option[String] = None)
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    override def toInsertableRelation(): InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, ow: Boolean): Unit =
          GraftWrites.insertInto(targetDir, data, overwrite || ow, params, branch)
      }
  }
}

object GraftTable {
  /** The served schema: persisted data columns + `_graft_pos` (offset
    * introspection, same surface as [[CdcApplier.snapshot]]); layout
    * columns (`_graft_deleted`, `graft_bucket`) are implementation detail.
    * Prefers the schema persisted in `.graft_meta` (no file listing);
    * falls back to mergeSchema parquet inference for pre-upgrade targets.
    * A branch read serves the branch dir's own meta, which
    * [[graft.cdc.Branch.create]] copies from main and staged batches
    * evolve; an unknown branch is refused. */
  private[graft] def tableSchema(spark: SparkSession, targetDir: String,
      branch: Option[String] = None): StructType = {
    branch.foreach(graft.cdc.Branch.mainMeta(spark, targetDir, _))
    val target = new Path(branch.fold(targetDir)(graft.cdc.Branch.branchDir(targetDir, _)))
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = target.getFileSystem(hconf)
    CdcApplier.openTarget(fs, target)
    val stored = TargetMeta.read(hconf, target).flatMap(_.schemaJson) match {
      case Some(j) => DataType.fromJson(j).asInstanceOf[StructType]
      case None if CdcApplier.bucketIds(fs, target).nonEmpty =>
        spark.read.option("mergeSchema", true).parquet(target.toString).schema
      case None =>
        throw new IllegalStateException(s"no graft table state at $targetDir")
    }
    val metaOpt = TargetMeta.read(hconf, target)
    val pk = metaOpt.flatMap(_.pkCols).getOrElse(Seq.empty).toSet
    // PK columns are served NON-nullable: the applier's S6 completeness
    // guard raises on null PKs before any row lands, so the tightening is
    // semantically true — and Spark's row-level DML (UPDATE/MERGE) requires
    // non-nullable rowId attributes. Under the default ANSI store-
    // assignment policy a nullable INSERT query just gains a runtime
    // AssertNotNull, the Spark-native spelling of the same S6 guard.
    // Field names are served LOGICALLY (q258 column mapping) — the files
    // and schemaJson stay physical; renames translate and retired columns
    // (q259 drops) disappear at this edge.
    val droppedCols = metaOpt.flatMap(_.drops).getOrElse(Seq.empty).toSet
    StructType(stored.fields.filterNot(f =>
      f.name == CdcApplier.DEL || f.name == CdcApplier.BUCKET || droppedCols(f.name))
      .map { f =>
        val named = f.copy(name = CdcApplier.logicalName(metaOpt, f.name))
        if (pk.contains(f.name)) named.copy(nullable = false) else named
      })
  }

  /** The `changesFrom` mode's relation schema: the reconstructed CDC
    * envelope — (op, next_position, before, after) with the image structs
    * holding the DATA columns (layout columns excluded, `_graft_pos`
    * included as `next_position`, not inside the images — exactly
    * [[CdcApplier.changeFeed]]'s output shape). */
  private[sources] def changesSchema(spark: SparkSession, targetDir: String): StructType = {
    import org.apache.spark.sql.types._
    val data = StructType(tableSchema(spark, targetDir).fields
      .filterNot(_.name == CdcApplier.POS))
    StructType(Seq(
      StructField("op", StringType, nullable = false),
      StructField("next_position", LongType, nullable = true),
      StructField("before", data, nullable = true),
      StructField("after", data, nullable = true)))
  }
}

class GraftScanBuilder(spark: SparkSession, targetDir: String, fullSchema: StructType,
    asOf: Option[Long] = None, changesFrom: Option[Long] = None,
    spjCapable: Boolean = false, branch: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var aggScan: Option[GraftAggScan] = None
  private var pushedLimit: Option[Int] = None

  /** Accept every filter we can translate to a Column (they prune buckets
    * and reach the parquet scan); return ALL filters as residual so Spark
    * re-evaluates above — the parquet-source convention: pushdown is an
    * optimization, the engine keeps the authoritative evaluation. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => GraftScan.toColumn(f).isDefined)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Footer-only aggregation (q246): a global COUNT/MIN/MAX over a
    * copy-on-write target is answered from parquet footer statistics — the
    * same metadata-only pass `spark.sql.parquet.aggregatePushdown` runs on
    * plain parquet (q139), now available behind the connector. PARTIAL
    * pushdown: the scan serves one per-file statistics row and Spark's own
    * final aggregate merges them (typed min-of-mins, summed counts), so
    * this engine never re-implements aggregate semantics. Acceptance is
    * strict — see [[GraftAggScan.fromFooters]]: merge-on-read refuses
    * (latest-per-key resolution changes every answer), any footer whose
    * statistics cannot PROVE all rows live refuses, any filter present
    * refuses (this engine keeps authoritative filter evaluation above the
    * scan, which pre-aggregated rows would bypass). Refusal is never
    * wrong — the planner falls back to the ordinary row-level scan. */
  override def supportCompletePushDown(agg: Aggregation): Boolean = false
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (pushed.nonEmpty || asOf.isDefined || changesFrom.isDefined ||
      branch.isDefined) return false
    aggScan = GraftAggScan.fromFooters(spark, targetDir, fullSchema, agg)
    aggScan.isDefined
  }

  /** LIMIT pushdown: the scan caps each partition at `n` rows (Spark's
    * LocalLimit semantics) AFTER mor resolution and tombstone filtering,
    * so a bare `SELECT ... LIMIT n` stops reading once satisfied instead
    * of materializing the table. Partial by contract — Spark keeps its own
    * global limit above. */
  override def pushLimit(n: Int): Boolean = { pushedLimit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** Top-level column pruning only: Catalyst may hand a schema with
    * NESTED-pruned struct fields (e.g. `before: struct<bal>` in the
    * change-feed mode); the scans serve whole columns, so each requested
    * column is restored to its full declared type — a silently-accepted
    * narrower struct would make the consumer read wrong ordinals inside
    * the actual rows. Spark projects the nested extraction above the scan.
    * (With a pushed aggregation the scan's output IS the aggregate schema
    * — nothing to prune.) */
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (aggScan.isEmpty)
      required = StructType(requiredSchema.fields.map(f => fullSchema(f.name)))

  /** A pushed aggregation wins (footer-only); the change-feed envelope
    * takes its own [[GraftScan]]; every read of the table's own shape —
    * full or pruned, LIMIT, as-of, branch — is the one [[GraftBatchScan]]. */
  override def build(): Scan = aggScan.getOrElse {
    require(Seq(asOf, changesFrom, branch).count(_.isDefined) <= 1,
      "asOfPos / changesFrom / branch are mutually exclusive read modes")
    changesFrom match {
      case Some(from) =>
        new GraftScan(spark, targetDir, required, pushed, from, pushedLimit)
      case None =>
        new GraftBatchScan(spark, targetDir, fullSchema, required, pushed,
          spjCapable, asOf, pushedLimit, branch)
    }
  }
}

/** The change-feed read (`changesFrom`): the reconstructed CDC envelope
  * ([[CdcApplier.changeFeed]], with its own mor/floor guards) is not a
  * stored read, so it plans a DataFrame and serves it through the public
  * [[V1Scan]] seam (the one Spark's own JDBC V2 connector uses).
  * Translatable pushed filters apply on the envelope frame (Spark
  * re-evaluates above as always). */
class GraftScan(
    spark: SparkSession, targetDir: String, required: StructType,
    pushed: Array[Filter], changesFrom: Long, limit: Option[Int] = None)
    extends V1Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** The envelope plan the relation executes. */
  val innerDf: DataFrame = {
    val df = pushed.flatMap(GraftScan.toColumn)
      .foldLeft(CdcApplier.changeFeed(spark, targetDir, changesFrom))(_.filter(_))
      .select(required.fieldNames.map(col).toIndexedSeq: _*)
    limit.map(df.limit).getOrElse(df)
  }

  override def readSchema(): StructType = required

  /** The table's stored bytes — an upper bound on the envelope, so
    * Catalyst can still broadcast a small table's feed. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = GraftScan.bytesUnder(fs, CdcApplier.bucketIds(fs, target)
      .map(b => new Path(target, s"${CdcApplier.BUCKET}=$b")))
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  override def description(): String =
    s"GraftScan $targetDir changesFrom=$changesFrom" + limit.fold("")(n => s" limit=$n")

  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new GraftRelation(context, required, innerDf, description()).asInstanceOf[T]
}

/** `needConversion=false`: `buildScan` hands back the inner plan's
  * InternalRow RDD directly — zero row conversion, and the inner plan
  * keeps whole-stage codegen. */
class GraftRelation(ctx: SQLContext, s: StructType, df: DataFrame, label: String)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = s
  override def needConversion: Boolean = false
  override def buildScan(): RDD[Row] =
    df.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  override def toString: String = s"GraftRelation($label)"
}

/** Helpers shared by the connector's scans and writes: exact
  * Filter→Column translation, logical→physical renaming, the
  * predicate→covered-buckets arithmetic, and bucket-directory bytes. */
object GraftScan {

  /** Safe, exact Filter→Column translations (null semantics identical to
    * the engine's own evaluation of the same predicate). Anything else is
    * not accepted — Spark evaluates it above the scan. */
  private[sources] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r)  => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c)    => toColumn(c).map(not)
    case _         => None
  }

  /** Rewrite a pushed filter's attribute references (q258 column mapping:
    * LOGICAL query names → the PHYSICAL names footers and sidecars carry).
    * An untranslatable node returns None and the CALLER DROPS it — both
    * consumers (file-level skipping, parquet row-group pushdown) are pure
    * optimizations, so dropping only reads more, never wrong. */
  private[sources] def renameRefs(f: Filter, phys: String => String): Option[Filter] = f match {
    case EqualTo(a, v)            => Some(EqualTo(phys(a), v))
    case EqualNullSafe(a, v)      => Some(EqualNullSafe(phys(a), v))
    case In(a, vs)                => Some(In(phys(a), vs))
    case IsNull(a)                => Some(IsNull(phys(a)))
    case IsNotNull(a)             => Some(IsNotNull(phys(a)))
    case GreaterThan(a, v)        => Some(GreaterThan(phys(a), v))
    case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(phys(a), v))
    case LessThan(a, v)           => Some(LessThan(phys(a), v))
    case LessThanOrEqual(a, v)    => Some(LessThanOrEqual(phys(a), v))
    case StringStartsWith(a, v)   => Some(StringStartsWith(phys(a), v))
    case StringEndsWith(a, v)     => Some(StringEndsWith(phys(a), v))
    case StringContains(a, v)     => Some(StringContains(phys(a), v))
    case And(l, r) => for { lc <- renameRefs(l, phys); rc <- renameRefs(r, phys) } yield And(lc, rc)
    case Or(l, r)  => for { lc <- renameRefs(l, phys); rc <- renameRefs(r, phys) } yield Or(lc, rc)
    case Not(c)    => renameRefs(c, phys).map(Not)
    case _         => None
  }

  /** Literal of a pushed filter value, cast to the column's declared type
    * so the hash sees exactly what the writer hashed (an INT literal
    * against a LONG column must hash as LONG). */
  private def typedLit(v: Any, schema: StructType, c: String): Column =
    lit(v).cast(schema(c).dataType)

  /** Bounded literal value set for column `c` from one top-level conjunct. */
  private def valueSet(f: Filter, c: String): Option[Seq[Any]] = f match {
    case EqualTo(`c`, v)       => Some(Seq(v))
    case EqualNullSafe(`c`, v) => Some(Seq(v))
    case In(`c`, vs)           => Some(vs.toIndexedSeq)
    case _                     => None
  }

  private val MaxTuples = 1024 // pruning is worth a bounded driver loop only

  /** A set of candidate bucket-key tuples: a bounded value set per
    * constrained bucket column, standing for their cross product. */
  private type Box = Map[String, Set[Any]]

  /** Boxes whose union covers every row `f` passes, or None when `f`
    * bounds no bucket column. A disjunction concatenates its sides' boxes,
    * so `(a=1 AND b=2) OR (a=3 AND b=4)` is exactly its two tuples. */
  private def boxes(f: Filter, cols: Set[String]): Option[Seq[Box]] = f match {
    case Or(l, r)  => for (a <- boxes(l, cols); b <- boxes(r, cols)) yield a ++ b
    case And(l, r) => both(boxes(l, cols), boxes(r, cols))
    case leaf => leaf.references match {
      case Array(c) if cols(c) => valueSet(leaf, c).map(vs => Seq(Map(c -> vs.toSet)))
      case _                   => None
    }
  }

  /** A conjunction's boxes: each pair intersects per column. Two
    * disjunctions whose pairs exceed MaxTuples keep the side with fewer
    * boxes, which alone still covers the conjunction. */
  private def both(l: Option[Seq[Box]], r: Option[Seq[Box]]): Option[Seq[Box]] =
    (l, r) match {
      case (Some(a), Some(b)) if a.size == 1 || b.size == 1 ||
          a.size.toLong * b.size <= MaxTuples =>
        Some(for (x <- a; y <- b) yield x ++ y.map { case (c, vs) =>
          c -> x.get(c).fold(vs)(xs => if (xs.size <= vs.size) xs.filter(vs) else vs.filter(xs))
        })
      case (Some(a), Some(b)) => Some(if (a.size <= b.size) a else b)
      case _                  => l.orElse(r)
    }

  /** Bytes of the files directly under `dirs` (absent dirs count 0). */
  private[sources] def bytesUnder(fs: org.apache.hadoop.fs.FileSystem,
      dirs: Seq[Path]): Long =
    dirs.map(d => if (fs.exists(d)) fs.listStatus(d).map(_.getLen).sum else 0L).sum

  /** Map pushed conjuncts to the covered bucket ids, or `all` when the
    * predicates don't bound the bucket key. Hash layouts need every
    * candidate [[Box]] to bound EVERY bucket column, each box's cross
    * product within MaxTuples; the boxes' tuples (however many
    * disjuncts) are hashed through the writer's own expression; range
    * layouts turn interval endpoints into the covering contiguous bucket
    * range by pure driver arithmetic over the persisted split points.
    * Defensive: any evaluation surprise falls back to no pruning. */
  private[sources] def coveredBuckets(
      meta: Option[TargetMeta], schema: StructType,
      pushed: Array[Filter], all: Seq[Int]): Seq[Int] = Try {
    val m = meta.getOrElse(return all)
    val pkCols = m.pkCols.getOrElse(return all)
    val bucketCols = m.bucketCols.getOrElse(pkCols)
    m.rangeBounds match {
      case Some(bounds) =>
        val c = bucketCols.head
        def asLong(v: Any): Option[Long] = v match {
          case n: java.lang.Number => Some(n.longValue)
          case _                   => None
        }
        // tightest [lo, hi] the conjuncts imply for the range key
        var lo = Long.MinValue
        var hi = Long.MaxValue
        var bounded = false
        pushed.foreach {
          case GreaterThan(`c`, v)        => asLong(v).foreach { x => lo = math.max(lo, x + 1); bounded = true }
          case GreaterThanOrEqual(`c`, v) => asLong(v).foreach { x => lo = math.max(lo, x); bounded = true }
          case LessThan(`c`, v)           => asLong(v).foreach { x => hi = math.min(hi, x - 1); bounded = true }
          case LessThanOrEqual(`c`, v)    => asLong(v).foreach { x => hi = math.min(hi, x); bounded = true }
          case f => valueSet(f, c).foreach { vs =>
            val ls = vs.flatMap(asLong)
            if (ls.nonEmpty && ls.size == vs.size) {
              lo = math.max(lo, ls.min); hi = math.min(hi, ls.max); bounded = true
            }
          }
        }
        if (!bounded) all
        else if (hi < lo) Seq.empty
        else {
          val covered = bounds.count(_ <= lo) to bounds.count(_ <= hi)
          all.filter(covered.contains)
        }
      case None =>
        val cols = bucketCols.toSet
        val bs = pushed.map(boxes(_, cols)).foldLeft(Option.empty[Seq[Box]])(both)
          .getOrElse(return all)
        if (bs.exists(b => !cols.subsetOf(b.keySet) ||
            bucketCols.map(b(_).size.toLong).product > MaxTuples)) return all
        val tuples = bs.flatMap(b => bucketCols.foldLeft(Seq(Seq.empty[Any]))((acc, c) =>
          acc.flatMap(t => b(c).toSeq.map(t :+ _)))).distinct
        val litTuples = tuples.map(t =>
          bucketCols.zip(t).map { case (c, v) => typedLit(v, schema, c) })
        val ids = CdcApplier.bucketIdsOf(
          SparkSession.active, litTuples, m.numBuckets, None).distinct.sorted
        all.filter(ids.contains)
    }
  }.getOrElse(all)
}

/** Footer-only aggregate scan (q246): readSchema IS the aggregate schema;
  * the relation serves the precomputed per-file statistics rows and Spark's
  * final aggregate merges them. No data page is ever read — the scan's
  * entire input was the footers the acceptance sweep already opened. */
class GraftAggScan(targetDir: String, aggSchema: StructType,
    partials: Seq[org.apache.spark.sql.catalyst.InternalRow], nFiles: Int)
    extends V1Scan {
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftAggScan $targetDir footer-only files=$nFiles"
  override def toV1TableScan[T <: BaseRelation with TableScan](context: SQLContext): T =
    new GraftAggRelation(context, aggSchema, partials, targetDir, nFiles)
      .asInstanceOf[T]
}

/** The per-file partial rows as a `needConversion=false` relation — one
  * row per file, result-sized by construction. */
class GraftAggRelation(ctx: SQLContext, s: StructType,
    rows: Seq[org.apache.spark.sql.catalyst.InternalRow], targetDir: String,
    nFiles: Int) extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = s
  override def needConversion: Boolean = false
  override def sizeInBytes: Long = 1024L
  override def buildScan(): RDD[Row] =
    ctx.sparkSession.sparkContext.parallelize(rows, 1).asInstanceOf[RDD[Row]]
  override def toString: String =
    s"GraftAggRelation($targetDir footer-only files=$nFiles)"
}

object GraftAggScan {
  import scala.jdk.CollectionConverters._

  /** Planning-time footer caches (ADVICE r11): an ACCEPTING aggregate
    * query used to re-open every data file's footer on every planning —
    * at thousands of files that is repeated driver I/O well beyond the
    * directory-listing cost class. Keyed by (path, length, modification
    * time): the applier's crash-safe publish never rewrites a file in
    * place (bucket swaps create new files; mor deltas are append-only
    * renames), so a matching key proves the footer content. `liveCache`
    * (file → all-rows-live?) is aggregation-independent; `rowCache`
    * additionally keys the aggregation so distinct aggregates over one
    * file each cache their own partial row. Bounded by wholesale clear —
    * a planning cache, correctness never depends on residency. */
  private type FileKey = (String, Long, Long)
  private val liveCache =
    new java.util.concurrent.ConcurrentHashMap[FileKey, java.lang.Boolean]
  private val rowCache = new java.util.concurrent.ConcurrentHashMap[
    (FileKey, String), org.apache.spark.sql.catalyst.InternalRow]
  private val CacheCap = 1 << 16
  private def capped[K, V](m: java.util.concurrent.ConcurrentHashMap[K, V]): Unit =
    if (m.size > CacheCap) m.clear()

  /** Some(scan) iff this aggregation is PROVABLY answerable from footer
    * statistics alone; None refuses (the caller falls back to the ordinary
    * row-level scan, so refusal is never a correctness event). Acceptance:
    *
    *  - copy-on-write only: merge-on-read holds superseded versions whose
    *    statistics would pollute every extreme and every count;
    *  - shape/type gate is Spark's own parquet-pushdown rule
    *    ([[org.apache.spark.sql.graft.AggShim.aggSchema]] — global
    *    count/min/max over stats-safe types);
    *  - EVERY footer's `_graft_deleted` statistics must prove all rows
    *    live (max = false, zero nulls — the read path drops null-DEL rows
    *    too). COW targets keep tombstones until `compact`, and a footer
    *    cannot subtract them, so a tombstone-bearing file refuses;
    *  - a missing statistic for any referenced column throws inside the
    *    sweep and refuses.
    *
    * The sweep is metadata-only I/O, one footer per file, driver-side —
    * the same cost class as the directory listing the scan already pays
    * (and the acceptance decision is synchronous by API contract). At
    * thousands of buckets the refusing path costs nothing: the first
    * tombstone-bearing footer short-circuits. */
  private[sources] def fromFooters(
      spark: SparkSession, targetDir: String, fullSchema: StructType,
      agg: Aggregation): Option[GraftAggScan] = Try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val target = new Path(targetDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = target.getFileSystem(hconf)
    CdcApplier.openTarget(fs, target)
    val meta = TargetMeta.read(hconf, target)
    if (meta.exists(_.storage.contains("mor"))) return None
    // outstanding deletion vectors (q275) refuse: footers cannot subtract a
    // masked row (the per-file DEL sweep below would catch the vectors too,
    // but refusing on the flag skips the sweep)
    if (meta.exists(_.dv.exists(_ > 0))) return None
    // column-mapped tables refuse (q258): the aggregation names logical
    // columns, footers carry physical — refusal falls back to the row
    // scan, which translates; never a correctness event
    if (meta.exists(_.renames.exists(_.nonEmpty))) return None
    val aggSchema = org.apache.spark.sql.graft.AggShim.aggSchema(agg, fullSchema)
      .getOrElse(return None)
    val files = CdcApplier.bucketIds(fs, target).flatMap { b =>
      fs.listStatus(new Path(target, s"${CdcApplier.BUCKET}=$b"))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    }
    val aggCols = agg.aggregateExpressions.toSeq
      .flatMap(_.references().map(_.fieldNames.mkString("."))).distinct
    val aggKey = aggSchema.catalogString + "|" +
      (agg.groupByExpressions ++ agg.aggregateExpressions)
        .map(_.describe()).mkString(",")
    val rows = files.map { st =>
      val fkey: FileKey = (st.getPath.toString, st.getLen, st.getModificationTime)
      // cache fast paths: a known tombstone-bearing file refuses without
      // I/O; a known-live file with a cached partial row serves without I/O
      val knownLive = liveCache.get(fkey)
      if (knownLive != null && !knownLive.booleanValue) return None
      val cached = rowCache.get((fkey, aggKey))
      if (cached != null) cached
      else {
        val rdr = ParquetFileReader.open(HadoopInputFile.fromStatus(st, hconf))
        try {
          val footer = rdr.getFooter
          // the footer reader finds a column's chunk at its ordinal in the
          // served schema: a file whose chunk there is another column (a
          // file written before an additive evolution, a served column
          // missing) would answer from the wrong statistics — refuse
          val chunks = footer.getBlocks.asScala.headOption
            .map(_.getColumns.asScala.map(_.getPath.toDotString).toIndexedSeq)
            .getOrElse(IndexedSeq.empty)
          if (chunks.nonEmpty &&
              !aggCols.forall(c => chunks.lift(fullSchema.fieldIndex(c)).contains(c)))
            return None
          val allLive = footer.getBlocks.asScala.forall { blk =>
            blk.getColumns.asScala.find(_.getPath.toDotString == CdcApplier.DEL)
              .exists { c =>
                val s = c.getStatistics
                s != null && !s.isEmpty && s.getNumNulls == 0 &&
                  s.hasNonNullValue && s.genericGetMax == java.lang.Boolean.FALSE
              }
          }
          capped(liveCache)
          liveCache.put(fkey, java.lang.Boolean.valueOf(allLive))
          if (!allLive) return None
          val row = org.apache.spark.sql.graft.AggShim.footerPartialRow(
            footer, st.getPath.toString, fullSchema, agg, aggSchema)
          capped(rowCache)
          rowCache.put((fkey, aggKey), row)
          row
        } finally rdr.close()
      }
    }
    Some(new GraftAggScan(targetDir, aggSchema, rows, files.size))
  }.toOption.flatten
}
