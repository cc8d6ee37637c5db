package graft.catalog

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NonEmptyNamespaceException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.CdcApplier
import graft.cdc.CdcApplier.TargetMeta
import graft.sources.GraftTable

/** A Spark V2 catalog plugin serving graft tables by NAME — full DDL + DML
  * through plain SQL with zero Scala in sight:
  * {{{
  *   spark.sql.catalog.gr      = graft.catalog.GraftCatalog
  *   spark.sql.catalog.gr.root = /data/graft
  *
  *   CREATE NAMESPACE gr.prod;
  *   CREATE TABLE gr.prod.accounts (k BIGINT, bal DOUBLE) OPTIONS (pk 'k');
  *   INSERT INTO gr.prod.accounts ...;         -- CDC upsert (q226 path)
  *   SELECT * FROM gr.prod.accounts WHERE k = 7;  -- bucket-pruned (q216)
  *   ALTER TABLE gr.prod.accounts ADD COLUMN note STRING;  -- additive (S4)
  *   SHOW TABLES IN gr.prod; DROP TABLE ...; ALTER TABLE ... RENAME TO ...
  * }}}
  *
  * Layout: `root/<namespace...>/<table>` — a table IS its target directory
  * (the `.graft_meta` marks it; namespaces carry a `.graft_namespace`
  * marker so an empty namespace survives a listing). The catalog holds NO
  * state of its own: `loadTable` reads `.graft_meta` fresh, so a table
  * maintained by a concurrently-running applier/stream serves its current
  * state through the same [[GraftTable]] as the path-based reads — one
  * table implementation behind both addressing modes.
  *
  * `CREATE TABLE` writes only the meta file (PK from the `pk` option,
  * `buckets`/`bucketCols`/`rangeBounds`/`storage=mor` as in every other
  * write surface) — an empty layout the first INSERT/applyBatch fills,
  * exactly the state the applier leaves after a crash between meta and
  * first publish (a valid empty table, by its own recovery contract).
  * `ALTER TABLE ADD COLUMN` is the additive-evolution DDL (S4): it evolves
  * the persisted schema; existing rows surface NULL.
  *
  * Reference parity: S15 catalog CRUD + EP2's `map` surface (SURVEY §2.1)
  * as a native Spark catalog — the reference's Astro-backed
  * `Hbase2CataLog` equivalent, addressed with multi-part SQL names.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  /** SQL `CALL <cat>.system.<op>(...)` — the maintenance surface
    * ([[GraftProcedures]]: optimize / compact / vacuum / rebucket /
    * backfill), dispatching to the same applier entry points as the
    * Scala API. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(root, ident).getOrElse(
      throw new RuntimeException(s"unknown procedure: $ident"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array(GraftProcedures.Namespace)))
      GraftProcedures.list(catalogName)
    else Array.empty

  /** The catalog's FUNCTION surface — one entry, `bucket`, the layout's
    * own assignment ([[graft.sources.GraftBucketFunction]]). Spark's
    * storage-partitioned-join machinery resolves the `bucket(n, k)`
    * transform that [[graft.sources.GraftTable.partitioning]] /
    * [[graft.sources.GraftBatchScan.outputPartitioning]] report by loading
    * this function from the table's own catalog (empty namespace — the
    * V2ExpressionUtils convention), so two graft tables join
    * shuffle-free exactly when their layouts genuinely agree. */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name == "bucket")
      graft.sources.GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(Array.empty, "bucket"))
    // `system` is a real namespace on the procedure surface (CALL system.*)
    // but carries no marker dir — mirror listProcedures' special-casing so
    // SHOW FUNCTIONS IN <cat>.system lists empty instead of erroring
    else if (namespace.sameElements(Array(GraftProcedures.Namespace))) Array.empty
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  private var catalogName: String = _
  private var root: Path = _

  private def spark: SparkSession = SparkSession.active
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def hconf = spark.sparkContext.hadoopConfiguration

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = Option(options.get("root")).getOrElse(throw new IllegalArgumentException(
      s"graft catalog '$name' needs spark.sql.catalog.$name.root=<warehouse dir>"))
    root = new Path(r)
    fs.mkdirs(root)
  }

  override def name(): String = catalogName
  override def defaultNamespace(): Array[String] = Array("default")

  private def nsPath(ns: Array[String]): Path =
    ns.foldLeft(root)((p, n) => new Path(p, n))
  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace), ident.name)
  private def nsMarker(p: Path): Path = new Path(p, ".graft_namespace")
  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, ".graft_meta"))

  // ---- namespaces -------------------------------------------------------

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || fs.exists(nsMarker(nsPath(ns))) ||
      (ns.sameElements(defaultNamespace()) && { fs.mkdirs(nsPath(ns)); true })

  override def createNamespace(ns: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    val p = nsPath(ns)
    if (fs.exists(nsMarker(p))) throw new NamespaceAlreadyExistsException(ns)
    fs.mkdirs(p)
    graft.util.AtomicFile.write(hconf, nsMarker(p), "")
  }

  override def listNamespaces(): Array[Array[String]] =
    fs.listStatus(root).filter(s => s.isDirectory && fs.exists(nsMarker(s.getPath)))
      .map(s => Array(s.getPath.getName)).sortBy(_.head) ++
      (if (fs.exists(nsMarker(nsPath(defaultNamespace())))) Nil
       else Seq(defaultNamespace())) // implicit default always addressable

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (ns.isEmpty) return listNamespaces()
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    val p = nsPath(ns)
    fs.listStatus(p).filter(s => s.isDirectory && fs.exists(nsMarker(s.getPath)))
      .map(s => ns :+ s.getPath.getName).sortBy(_.mkString("."))
  }

  override def loadNamespaceMetadata(ns: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Map("location" -> nsPath(ns).toString).asJava
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no mutable metadata")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(ns)
    if (!fs.exists(nsMarker(p))) return false
    if (!cascade && listTables(ns).nonEmpty)
      throw new NonEmptyNamespaceException(ns)
    fs.delete(p, true)
  }

  // ---- tables -----------------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    val p = nsPath(ns)
    if (!fs.exists(p)) return Array.empty
    fs.listStatus(p).filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(ns, s.getPath.getName)).sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(tablePath(ident))

  override def loadTable(ident: Identifier): Table = {
    // Branch-qualified spelling (q287; Iceberg's `t.branch_<name>`): in
    // `cat.ns.t.branch_x` the last element arrives as the ident NAME with
    // the table as the namespace tail. Resolves ONLY when the base table
    // and a live branch both exist, so a real table named branch_* (if
    // anyone makes one) still wins through the ordinary path below. The
    // returned table READS the branch lineage and WRITES (INSERT / UPDATE /
    // MERGE / DELETE) as branch staging — main untouched until
    // fast_forward.
    if (ident.name.startsWith("branch_") && ident.namespace.length >= 2) {
      val baseIdent = Identifier.of(ident.namespace.init, ident.namespace.last)
      val bdir = tablePath(baseIdent)
      val bname = ident.name.stripPrefix("branch_")
      if (isTableDir(bdir) && bname.nonEmpty &&
          graft.cdc.Branch.exists(spark, bdir.toString, bname))
        return new GraftTable(bdir.toString,
          GraftTable.tableSchema(spark, bdir.toString, Some(bname)), spjCapable = true,
          branch = Some(bname))
    }
    val dir = tablePath(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    // q283: the durable index registrations live in `.graft_meta`; the
    // optimizer route table is in-memory per JVM — re-register this
    // table's LIVE indexes on load so a fresh session routes immediately
    graft.cdc.IndexLifecycle.registerLive(spark, dir.toString)
    // spjCapable: THIS catalog resolves the `bucket` transform (q255), so
    // tables it serves may report their layout for storage-partitioned
    // joins; path-based/session-catalog reads must not (their catalog
    // throws on the function lookup instead of declining).
    new GraftTable(dir.toString,
      GraftTable.tableSchema(spark, dir.toString), spjCapable = true)
  }

  /** SQL time travel: `SELECT ... FROM <cat>.<ns>.<t> VERSION AS OF <pos>`
    * serves the state as of `_graft_pos` = pos — the same cut the
    * DataFrame path reaches via `.option("asOfPos", pos)` (q224) and the
    * Scala path via [[CdcApplier.snapshotAsOf]]: the as-of filter applies
    * BEFORE latest-per-key resolution, so each key answers with its newest
    * version at or below the cut. A graft table's version axis IS the
    * replication position (every change carries one), so the SQL
    * "version" is a position, not a snapshot counter.
    *
    * Guards are checked EAGERLY here — at statement analysis, not first
    * action — with [[CdcApplier.snapshotAsOf]]'s exact semantics: only a
    * merge-on-read layout retains history (copy-on-write rewrites
    * superseded versions away), and a position below the retained floor
    * (compaction horizon / vacuum collapse watermark) is REFUSED rather
    * than answered with the collapsed, wrong history. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    val meta = TargetMeta.read(hconf, tablePath(ident)).getOrElse(
      throw new NoSuchTableException(ident))
    // numeric = a raw _graft_pos; otherwise a NAMED TAG (q256 — tag names
    // are refused all-digit forms at creation, so the two cannot collide),
    // or a live BRANCH name (q277 — Iceberg's branch-read spelling): the
    // branch LINEAGE (main as of the branch point + staged deltas) serves
    // through the connector's branch mode. Tags win a name collision
    // (they are the older namespace; branch pin tags live under the
    // reserved `branch-` prefix, so the two metas cannot alias).
    val pos =
      try version.toLong
      catch {
        case _: NumberFormatException =>
          val tags = meta.tags.getOrElse(Map.empty)
          tags.get(version) match {
            case Some(p) => p
            case None if graft.cdc.Branch.exists(spark, dir.toString, version) =>
              return new GraftTable(dir.toString,
                GraftTable.tableSchema(spark, dir.toString, Some(version)),
                branch = Some(version))
            case None =>
              throw new IllegalArgumentException(
                s"graft VERSION AS OF takes a _graft_pos position, a tag " +
                  s"name, or a live branch name; '$version' is none (tags: ${
                    tags.keys.toSeq.filterNot(_.startsWith("branch-"))
                      .sorted.mkString(", ")}; branches: ${
                    tags.keys.toSeq.filter(_.startsWith("branch-"))
                      .map(_.stripPrefix("branch-")).sorted.mkString(", ")})")
          }
      }
    CdcApplier.requireHistory(meta, ident.toString, pos, "VERSION AS OF")
    new GraftTable(dir.toString,
      GraftTable.tableSchema(spark, dir.toString), asOf = Some(pos),
      spjCapable = true)
  }

  /** SQL `TIMESTAMP AS OF` (q265; Delta/Iceberg's wall-clock travel).
    * Spark hands the resolved timestamp in MICROSECONDS; the fence's commit
    * stamps ([[CdcApplier.commitStamps]] — written by every publish from an
    * injectable, monotone clock) resolve it to the greatest position
    * published at or before it, which then serves through the SAME
    * position-travel path as `VERSION AS OF` (identical floor guards). A
    * timestamp before the first stamped commit errors, the Delta contract. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    val pos = CdcApplier.positionAsOfTimestamp(spark, dir.toString,
      Math.floorDiv(timestamp, 1000L))
    loadTable(ident, pos.toString)
  }

  /** Case-insensitive property lookup, accepting both the bare key and
    * Spark's `option.`-prefixed form (CREATE TABLE ... OPTIONS). */
  private def prop(properties: java.util.Map[String, String], key: String): Option[String] = {
    val m = properties.asScala
    m.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }
      .orElse(m.collectFirst {
        case (k, v) if k.equalsIgnoreCase(s"${TableCatalog.OPTION_PREFIX}$key") => v
      })
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft tables are bucketed by their PK layout (buckets/rangeBounds " +
        "options), not PARTITIONED BY")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    val pk = prop(properties, "pk").map(_.split(",").toSeq.map(_.trim)).getOrElse(
      throw new IllegalArgumentException(
        "CREATE TABLE needs the primary key: OPTIONS (pk 'col1,col2')"))
    pk.foreach { k =>
      require(schema.fieldNames.contains(k), s"pk column '$k' is not in the schema")
    }
    require(!(prop(properties, "storage").exists(_.equalsIgnoreCase("mor")) &&
      prop(properties, "dv_deletes").exists(_.equalsIgnoreCase("true"))),
      "dv_deletes is the copy-on-write small-delete path; a mor table's " +
        "ordinary delete already appends a tombstone delta")
    // persisted schema = user columns + layout columns, exactly the shape
    // the first applyBatch would write (snapshot/tableSchema filter them)
    val withLayout = StructType(
      schema.fields.filterNot(f =>
        f.name == CdcApplier.POS || f.name == CdcApplier.DEL) ++
        Seq(StructField(CdcApplier.POS, LongType, nullable = true),
          StructField(CdcApplier.DEL, BooleanType, nullable = true)))
    val dir = tablePath(ident)
    fs.mkdirs(dir)
    TargetMeta.write(hconf, dir, TargetMeta(
      numBuckets = prop(properties, "buckets").map(_.toInt).getOrElse(16),
      horizon = Long.MinValue,
      schemaJson = Some(withLayout.json),
      pkCols = Some(pk),
      bucketCols = prop(properties, "bucketCols").map(_.split(",").toSeq.map(_.trim)),
      storage = prop(properties, "storage").filter(_.equalsIgnoreCase("mor")).map(_ => "mor"),
      rangeBounds = prop(properties, "rangeBounds").map(_.split(",").toSeq.map(_.trim.toLong)),
      // q281: SQL DELETEs on this cow table land as deletion vectors
      // (appended key-tombstones, q275) instead of bucket rewrites
      dvDeletes = prop(properties, "dv_deletes").map(_.equalsIgnoreCase("true"))
        .filter(identity),
      // q262: a fresh copy-on-write table's every future bucket publish is
      // sorted, so the layout is born with the recorded order (mor delta
      // chains are unordered by construction — unmarked)
      sorted = if (prop(properties, "storage").exists(_.equalsIgnoreCase("mor"))) None
        else Some(CdcApplier.sortColsOf(
          prop(properties, "bucketCols").map(_.split(",").toSeq.map(_.trim)).getOrElse(pk),
          pk))))
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) throw new NoSuchTableException(ident)
    if (changes.isEmpty) return loadTable(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    // Atomicity contract: ADD COLUMNs batch (validated together, one fenced
    // schema write — all land or none); every OTHER evolution (widen /
    // rename / drop) applies side effects eagerly through its own fenced
    // applier entry point, so it must be the statement's ONLY change — a
    // multi-change statement failing halfway would otherwise leave earlier
    // changes permanently applied with no rollback.
    if (adds.length != changes.length && changes.length > 1)
      throw new UnsupportedOperationException(
        "graft ALTER TABLE applies widening/RENAME/DROP changes one per " +
          "statement (each is its own fenced commit); only ADD COLUMNs batch")
    if (adds.nonEmpty) {
      // The whole read-validate-evolve-write fold runs INSIDE the commit
      // ticket over a FRESH meta read: computing the evolved schema from a
      // pre-claim read would silently clobber a concurrent publisher's
      // additive evolution or widen landing in between (lost update —
      // exactly the race the fence exists to close).
      CdcApplier.withCommitTicket(org.apache.spark.sql.SparkSession.active, dir.toString) {
        val meta = TargetMeta.read(hconf, dir).getOrElse(
          throw new NoSuchTableException(ident))
        val stored = meta.schemaJson.map(j =>
          DataType.fromJson(j).asInstanceOf[StructType]).getOrElse(
          throw new IllegalStateException(
            s"$dir has a pre-upgrade meta with no persisted schema; run one applyBatch first"))
        val evolved = adds.foldLeft(stored) { (s, add) =>
          require(add.fieldNames.length == 1,
            "graft supports top-level ADD COLUMN only")
          val n = add.fieldNames.head
          require(!s.fieldNames.contains(n), s"column '$n' already exists")
          // q258: the new name must not shadow a renamed column's LOGICAL name
          require(!meta.renames.exists(_.contains(n)),
            s"column '$n' already exists (as a renamed column's current name)")
          // q259: a retired physical name cannot return — old files may still
          // carry its bytes, and a re-add would resurrect them
          require(!meta.drops.exists(_.contains(n)),
            s"'$n' is a retired (dropped) column's physical name; pick a fresh name")
          // additive evolution (S4): always nullable — stored rows have no
          // value for it, and the applier's merge surfaces NULL. New
          // columns APPEND AT THE END (the Iceberg/Delta convention):
          // Spark's MERGE schema evolution (q288) remaps the statement's
          // already-resolved attributes old→new BY ORDINAL, so an ALTER
          // that inserted mid-schema would silently rebind every column
          // behind the insertion point (`_graft_pos` landing on the new
          // column was the observed failure). Positional INSERTs follow
          // the served order, so post-ALTER they list the new column LAST
          // (after `_graft_pos`).
          StructType(s.fields :+ StructField(n, add.dataType, nullable = true))
        }
        TargetMeta.write(hconf, dir, meta.copy(schemaJson = Some(evolved.json)))
      }
    } else changes.head match {
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames.length == 1,
          "graft supports top-level ALTER COLUMN TYPE only")
        // lossless type widening (q253, the S4 lattice) — EAGER and
        // whole-target-atomic via the applier (a meta-only update would
        // tear readers: meta bigint, files int); everything outside the
        // lattice refuses inside widenColumn with the drift message
        CdcApplier.widenColumn(org.apache.spark.sql.SparkSession.active,
          dir.toString, up.fieldNames.head, up.newDataType)
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          "graft supports top-level DROP COLUMN only")
        // column mapping (q259): META-ONLY — the physical name retires
        // from the logical view; files rewrite on their own cadence
        CdcApplier.dropColumn(org.apache.spark.sql.SparkSession.active,
          dir.toString, dc.fieldNames.head)
      case rc: TableChange.RenameColumn =>
        require(rc.fieldNames.length == 1,
          "graft supports top-level RENAME COLUMN only")
        // column mapping (q258): META-ONLY — files keep physical names,
        // the applier records logical->physical; guards live there
        CdcApplier.renameColumn(org.apache.spark.sql.SparkSession.active,
          dir.toString, rc.fieldNames.head, rc.newName)
      case c =>
        throw new UnsupportedOperationException(
          s"graft tables evolve via ADD COLUMN, widening ALTER COLUMN TYPE, " +
            s"RENAME COLUMN, and DROP COLUMN; got $c")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tablePath(ident)
    if (!isTableDir(dir)) false
    else fs.delete(dir, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    if (!namespaceExists(to.namespace))
      throw new NoSuchNamespaceException(to.namespace)
    fs.mkdirs(nsPath(to.namespace))
    if (!fs.rename(tablePath(from), tablePath(to)))
      throw new IllegalStateException(s"cannot rename $from to $to")
  }

  override def toString: String = s"GraftCatalog($catalogName at $root)"
}
