package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.CdcApplier
import graft.cdc.CdcApplier.TargetMeta

/** SQL `CALL` surface for the engine's maintenance operations — the
  * reference's EP2 ops tooling (SURVEY §2.1) as Spark V2 procedures:
  * {{{
  *   CALL gr.system.optimize(table => 'prod.accounts', target_mb => 128);
  *   CALL gr.system.compact(table => 'prod.accounts');        -- mode-aware
  *   CALL gr.system.vacuum(table => 'prod.events', retain_from_pos => 500);
  *   CALL gr.system.rebucket(table => 'prod.accounts', buckets => 64);
  *   CALL gr.system.backfill(table => 't', column => 'c', expression => 'a*2');
  * }}}
  * Each procedure resolves `table` ('ns.table', relative to this catalog's
  * root), dispatches to the SAME [[CdcApplier]] entry point the Scala API
  * uses (one decision procedure — a SQL CALL cannot drift from the
  * library), and returns a one-row summary relation (op, target, touched
  * buckets). `compact` dispatches on the persisted storage mode: mor
  * targets collapse their version deltas ([[CdcApplier.compactMor]]), cow
  * targets drop tombstones below the required `horizon_pos`
  * ([[CdcApplier.compact]]) — the mode lives in `.graft_meta`, so the
  * caller cannot pick the wrong collapse. `backfill` takes the fill as a
  * SQL expression string, parsed by Spark's own parser.
  *
  * 100 TB: identical to the Scala entry points — every procedure is the
  * applier's own bounded bucket-level rewrite; the CALL adds name
  * resolution only.
  */
object GraftProcedures {

  val Namespace = "system"

  private val names = Seq("optimize", "compact", "vacuum", "rebucket", "backfill",
    "history", "tag", "drop_tag", "tags", "detail",
    "rollback", "commits", "files", "branch", "fast_forward", "drop_branch",
    "branches", "analyze", "zorder", "stats", "create_index", "drop_index",
    "indexes", "audit")

  def list(catalogName: String): Array[Identifier] =
    names.map(n => Identifier.of(Array(Namespace), n)).toArray

  def load(root: Path, ident: Identifier): Option[UnboundProcedure] =
    if (!ident.namespace.sameElements(Array(Namespace))) None
    else if (!names.contains(ident.name)) None
    else Some(new GraftProcedure(root, ident.name))
}

/** One maintenance procedure; binding is trivial (fixed signatures). */
class GraftProcedure(root: Path, op: String) extends UnboundProcedure with BoundProcedure {
  import ProcedureParameter.in

  override def name(): String = op
  override def description(): String = s"graft maintenance: $op"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] = op match {
    case "optimize" => Array(
      in("table", StringType).build(),
      in("target_mb", IntegerType).defaultValue("128").build())
    case "compact" => Array(
      in("table", StringType).build(),
      in("horizon_pos", LongType).defaultValue("CAST(NULL AS BIGINT)").build())
    case "vacuum" => Array(
      in("table", StringType).build(),
      in("retain_from_pos", LongType).build())
    case "rebucket" => Array(
      in("table", StringType).build(),
      in("buckets", IntegerType).build())
    case "backfill" => Array(
      in("table", StringType).build(),
      in("column", StringType).build(),
      in("expression", StringType).build(),
      in("max_buckets", IntegerType).defaultValue("2147483647").build())
    case "history" => Array(in("table", StringType).build())
    case "tag" => Array(
      in("table", StringType).build(),
      in("name", StringType).build(),
      in("pos", LongType).build())
    case "drop_tag" => Array(
      in("table", StringType).build(),
      in("name", StringType).build())
    case "tags" => Array(in("table", StringType).build())
    case "detail" => Array(in("table", StringType).build())
    case "rollback" => Array(
      in("table", StringType).build(),
      in("pos", LongType).defaultValue("CAST(NULL AS BIGINT)").build(),
      in("tag", StringType).defaultValue("CAST(NULL AS STRING)").build())
    case "commits" => Array(in("table", StringType).build())
    case "files" => Array(in("table", StringType).build())
    case "branch" | "drop_branch" | "fast_forward" => Array(
      in("table", StringType).build(),
      in("name", StringType).build())
    case "branches" => Array(in("table", StringType).build())
    case "stats" => Array(in("table", StringType).build())
    case "analyze" => Array(
      in("table", StringType).build(),
      in("approx", org.apache.spark.sql.types.BooleanType)
        .defaultValue("false").build(),
      in("histogram_bins", IntegerType).defaultValue("0").build())
    case "zorder" => Array(
      in("table", StringType).build(),
      in("columns", StringType).build(),
      in("target_mb", IntegerType).defaultValue("128").build())
    case "create_index" => Array(
      in("table", StringType).build(),
      in("column", StringType).build(),
      in("covering", StringType).defaultValue("''").build(),
      in("layout", StringType).defaultValue("'hash'").build(),
      in("buckets", IntegerType).defaultValue("CAST(NULL AS INT)").build(),
      in("max_buckets", IntegerType).defaultValue("2147483647").build())
    case "drop_index" => Array(
      in("table", StringType).build(),
      in("column", StringType).build())
    case "indexes" => Array(in("table", StringType).build())
    case "audit" => Array(in("table", StringType).build())
  }

  private def dirOf(table: String): String = {
    val parts = table.split('.')
    parts.foldLeft(root)((p, seg) => new Path(p, seg)).toString
  }

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    val table = input.getUTF8String(0).toString
    val dir = dirOf(table)
    // `history` (q254): time travel (VERSION AS OF / asOfPos) exists, but a
    // SQL user could not DISCOVER what positions are answerable. One
    // relation per retained VERSION-IMAGE position stamp: row count at the
    // stamp, whether snapshotAsOf answers it (pos >= the floor), plus the
    // floor / storage mode / bucket modulus from `.graft_meta`. Cost: one
    // POS-grouped pass over the retained window's files — the window a
    // deployment already sizes to its audit horizon; never the history.
    if (op == "history") {
      val hconf = spark.sparkContext.hadoopConfiguration
      val meta = TargetMeta.read(hconf, new Path(dir)).getOrElse(
        throw new IllegalStateException(s"no graft table state at $dir"))
      require(meta.storage.contains("mor"),
        "history needs the mor layout — copy-on-write rewrites supersede history")
      val floorRaw = meta.asOfFloor
      val posCounts = CdcApplier.readStored(spark, Some(meta), Seq(dir))
        .groupBy(org.apache.spark.sql.functions.col(CdcApplier.POS))
        .count().collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val schema = StructType(Seq(
        StructField("position", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("answerable", org.apache.spark.sql.types.BooleanType, nullable = false),
        StructField("floor", LongType, nullable = true),
        StructField("storage", StringType, nullable = false),
        StructField("buckets", IntegerType, nullable = false)))
      val outRows: Array[InternalRow] = posCounts.map { case (p, n) =>
        new GenericInternalRow(Array[Any](p, n, p >= floorRaw,
          if (floorRaw == Long.MinValue) null else floorRaw,
          UTF8String.fromString(meta.storage.getOrElse("cow")), meta.numBuckets))
          : InternalRow
      }
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = outRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // DESCRIBE DETAIL (q261; Delta's DESCRIBE DETAIL surface): ONE row of
    // table-level facts a SQL operator needs before any maintenance call —
    // storage mode, bucket modulus, PK, the as-of floor, the published
    // high-water position, the commit-fence sequence, live row count, and
    // the evolution-surface counts (tags/renames/drops). Everything comes
    // from `.graft_meta` + the marker dir except `live_rows` (one snapshot
    // count — the same read any reader pays) and files/bytes (one bounded
    // listing, the cost class every maintenance op already pays).
    if (op == "detail") {
      val hconf = spark.sparkContext.hadoopConfiguration
      val target = new Path(dir)
      val meta = TargetMeta.read(hconf, target).getOrElse(
        throw new IllegalStateException(s"no graft table state at $dir"))
      val fs = target.getFileSystem(hconf)
      val floorD = meta.asOfFloor
      val buckets = CdcApplier.bucketIds(fs, target)
      val files = buckets.flatMap { b =>
        fs.listStatus(new Path(target, s"${CdcApplier.BUCKET}=$b"))
          .filterNot(f => f.getPath.getName.startsWith("_") ||
            f.getPath.getName.startsWith("."))
      }
      val liveRows = CdcApplier.snapshot(spark, dir).count()
      val schema = StructType(Seq(
        StructField("storage", StringType, nullable = false),
        StructField("buckets", IntegerType, nullable = false),
        StructField("pk", StringType, nullable = false),
        StructField("floor", LongType, nullable = true),
        StructField("max_pos", LongType, nullable = true),
        StructField("commit_seq", LongType, nullable = false),
        StructField("live_rows", LongType, nullable = false),
        StructField("n_tags", IntegerType, nullable = false),
        StructField("n_renames", IntegerType, nullable = false),
        StructField("n_drops", IntegerType, nullable = false),
        StructField("n_buckets_on_disk", IntegerType, nullable = false),
        StructField("n_files", IntegerType, nullable = false),
        StructField("bytes", LongType, nullable = false)))
      val row: InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(meta.storage.getOrElse("cow")),
        meta.numBuckets,
        UTF8String.fromString(meta.pkCols.getOrElse(Seq.empty).mkString(",")),
        if (floorD == Long.MinValue) null else floorD,
        meta.maxPos.orNull,
        CdcApplier.commitSeq(fs, target),
        liveRows,
        meta.tags.map(_.size).getOrElse(0),
        meta.renames.map(_.size).getOrElse(0),
        meta.drops.map(_.size).getOrElse(0),
        buckets.size,
        files.size,
        files.map(_.getLen).sum))
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // Commit stamps (q265/q267): the fence's done markers as a relation —
    // sequence, wall-clock timestamp, published position, recorded bucket
    // count. The observability half of TIMESTAMP AS OF (which timestamps
    // are answerable and what position each resolves to) and of the
    // disjoint-commit rebase (which commits recorded their touch sets).
    if (op == "commits") {
      val stamps = CdcApplier.commitStamps(spark, dir)
      val schema = StructType(Seq(
        StructField("seq", LongType, nullable = false),
        StructField("ts_ms", LongType, nullable = true),
        StructField("position", LongType, nullable = true),
        StructField("n_buckets", IntegerType, nullable = true)))
      val outRows: Array[InternalRow] = stamps.map { s =>
        new GenericInternalRow(Array[Any](s.seq, s.ts.orNull, s.pos.orNull,
          s.buckets.map(_.size).orNull)): InternalRow
      }.toArray
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = outRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // Per-file data-skipping statistics (q269; the observability half of
    // q250): one row per (file, tracked column) straight from the bucket
    // sidecars, so an operator can SEE why a predicate did or did not skip
    // a file. String ranges decode from their canonical base64 for
    // display; numeric/date/boolean ranges are the canonical longs/doubles.
    if (op == "files") {
      val hconf = spark.sparkContext.hadoopConfiguration
      val target = new Path(dir)
      val fs = target.getFileSystem(hconf)
      val schema = StructType(Seq(
        StructField("bucket", IntegerType, nullable = false),
        StructField("file", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("column", StringType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("nulls", LongType, nullable = true),
        StructField("min", StringType, nullable = true),
        StructField("max", StringType, nullable = true)))
      def display(kind: Char, v: Option[String]): AnyRef = v.map { c =>
        UTF8String.fromString(if (kind == 's')
          new String(java.util.Base64.getDecoder.decode(c),
            java.nio.charset.StandardCharsets.UTF_8)
        else c)
      }.orNull
      val outRows: Array[InternalRow] =
        CdcApplier.bucketIds(fs, target).flatMap { b =>
          graft.cdc.FileStats
            .readSidecar(fs, new Path(target, s"${CdcApplier.BUCKET}=$b"))
            .toSeq.sortBy(_._1).flatMap { case (f, e) =>
              e.cols.toSeq.sortBy(_._1).map { case (c, st) =>
                new GenericInternalRow(Array[Any](
                  b, UTF8String.fromString(f), e.rows, UTF8String.fromString(c),
                  UTF8String.fromString(st.kind.toString),
                  if (st.nulls < 0) null else st.nulls,
                  display(st.kind, st.mn), display(st.kind, st.mx))): InternalRow
              }
            }
        }.toArray
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = outRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // Branch listing (q264's observability): one row per live branch —
    // name, branch point, and the branch's own staged high-water mark
    // (null before any staged batch). Branches are the `branch-` pin tags
    // plus their sibling delta dirs; both read in one meta pass.
    if (op == "branches") {
      val hconf = spark.sparkContext.hadoopConfiguration
      val meta = TargetMeta.read(hconf, new Path(dir)).getOrElse(
        throw new IllegalStateException(s"no graft table state at $dir"))
      val schema = StructType(Seq(
        StructField("branch", StringType, nullable = false),
        StructField("from_pos", LongType, nullable = false),
        StructField("staged_max_pos", LongType, nullable = true)))
      val outRows: Array[InternalRow] = meta.tags.getOrElse(Map.empty).toSeq
        .collect { case (n, p) if n.startsWith("branch-") =>
          val name = n.stripPrefix("branch-")
          val staged = TargetMeta.read(hconf,
            new Path(graft.cdc.Branch.branchDir(dir, name))).flatMap(_.maxPos)
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(name), p, staged.orNull)): InternalRow
        }.sortBy(_.getUTF8String(0).toString).toArray
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = outRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // Branch lifecycle (q264): create / fast_forward / drop, dispatching to
    // the same Branch entry points as the Scala API.
    if (op == "branch" || op == "fast_forward" || op == "drop_branch") {
      val name = input.getUTF8String(1).toString
      val detail: Long = op match {
        case "branch"       => graft.cdc.Branch.create(spark, dir, name)
        case "fast_forward" => graft.cdc.Branch.fastForward(spark, dir, name).size.toLong
        case "drop_branch"  => graft.cdc.Branch.drop(spark, dir, name); 0L
      }
      val schema = StructType(Seq(
        StructField("op", StringType, nullable = false),
        StructField("branch", StringType, nullable = false),
        StructField("detail", LongType, nullable = false)))
      val row: InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(op), UTF8String.fromString(name), detail))
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // RESTORE as a new commit (q263): reinstates the as-of state at
    // maxPos+1 — history keeps answering, CDC continues on top. Addressed
    // by position OR by tag name (q271), exactly one.
    if (op == "rollback") {
      val byPos = !input.isNullAt(1)
      val byTag = !input.isNullAt(2)
      require(byPos != byTag, "rollback takes exactly one of pos / tag")
      val restoredTo =
        if (byPos) CdcApplier.rollback(spark, dir, input.getLong(1))
        else CdcApplier.rollbackToTag(spark, dir, input.getUTF8String(2).toString)
      val schema = StructType(Seq(
        StructField("op", StringType, nullable = false),
        StructField("target", StringType, nullable = false),
        StructField("restored_as_pos", LongType, nullable = false)))
      val row: InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(op), UTF8String.fromString(table), restoredTo))
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // ANALYZE (q278; ANALYZE TABLE ... FOR COLUMNS): one distributed pass
    // over the live snapshot → persisted row count + per-column NDV/min/
    // max/nulls/widths (`.graft_colstats`), served to Spark's CBO through
    // the scans' SupportsReportStatistics — join reorder and broadcast
    // selection then run on real numbers.
    if (op == "analyze") {
      val ts = graft.cdc.ColumnStats.analyze(spark, dir,
        approx = !input.isNullAt(1) && input.getBoolean(1),
        histogramBins = if (input.isNullAt(2)) 0 else input.getInt(2))
      val schema = StructType(Seq(
        StructField("op", StringType, nullable = false),
        StructField("target", StringType, nullable = false),
        StructField("n_rows", LongType, nullable = false),
        StructField("n_columns", IntegerType, nullable = false),
        StructField("size_estimate_bytes", LongType, nullable = false)))
      val row: InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(op), UTF8String.fromString(table),
        ts.rows, ts.cols.size, ts.sizeBytes))
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // The persisted ANALYZE statistics as a relation (q280; the
    // observability half of q278, the way system.files surfaces the q250
    // sidecars): one row per analyzed column — kind, exact NDV, nulls,
    // canonical min/max (strings base64-decoded for display), widths.
    // Refuses when never analyzed (an empty answer would read as "zero
    // columns tracked", which is a different fact).
    if (op == "stats") {
      val ts = graft.cdc.ColumnStats.read(spark, dir).getOrElse(
        throw new IllegalStateException(
          s"$dir has no persisted statistics — CALL system.analyze first"))
      val schema = StructType(Seq(
        StructField("column", StringType, nullable = false),
        StructField("kind", StringType, nullable = false),
        StructField("ndv", LongType, nullable = false),
        StructField("nulls", LongType, nullable = false),
        StructField("min", StringType, nullable = true),
        StructField("max", StringType, nullable = true),
        StructField("avg_len", LongType, nullable = false),
        StructField("max_len", LongType, nullable = false)))
      def display(kind: Char, v: Option[String]): AnyRef = v.map { c =>
        UTF8String.fromString(if (kind == 's')
          new String(java.util.Base64.getDecoder.decode(c),
            java.nio.charset.StandardCharsets.UTF_8)
        else c)
      }.orNull
      val outRows: Array[InternalRow] = ts.cols.toSeq.sortBy(_._1).map {
        case (c, st) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(c), UTF8String.fromString(st.kind.toString),
            st.ndv, st.nulls, display(st.kind, st.mn), display(st.kind, st.mx),
            st.avgLen, st.maxLen)): InternalRow
      }.toArray
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = outRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // Z-ORDER (q279; Delta's OPTIMIZE ZORDER BY as a CALL): split bounds
    // self-derive from the table's own exact quantiles (deterministic —
    // the q34 engine), then the fenced bit-interleaved rewrite (q272).
    if (op == "zorder") {
      val cols = input.getUTF8String(1).toString.split(",").toSeq.map(_.trim)
      val (bounds, touched) = graft.cdc.CdcApplier.zorderAuto(spark, dir, cols,
        input.getInt(2).toLong << 20)
      val schema = StructType(Seq(
        StructField("op", StringType, nullable = false),
        StructField("target", StringType, nullable = false),
        StructField("touched_buckets", IntegerType, nullable = false),
        StructField("bounds", StringType, nullable = false)))
      val row: InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(op), UTF8String.fromString(table), touched.size,
        UTF8String.fromString(bounds.map(_.mkString(",")).mkString(";"))))
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // CREATE INDEX / DROP INDEX (q283): the full secondary-index lifecycle
    // as DDL — seed backfill from the current store state (bucket-sliced,
    // resumable via max_buckets; crash-resume re-CALLs), automatic
    // maintenance from every subsequent apply, optimizer-route
    // auto-registration on completion. Returns one row: lifecycle state
    // after this call + the store buckets seeded by it.
    if (op == "create_index") {
      val column = input.getUTF8String(1).toString
      val covering = input.getUTF8String(2).toString.split(",").toSeq
        .map(_.trim).filter(_.nonEmpty)
      val layout = input.getUTF8String(3).toString
      val buckets = if (input.isNullAt(4)) None else Some(input.getInt(4))
      val r = graft.cdc.IndexLifecycle.createIndex(
        spark, dir, column, covering, layout, buckets, input.getInt(5))
      val schema = StructType(Seq(
        StructField("op", StringType, nullable = false),
        StructField("target", StringType, nullable = false),
        StructField("column", StringType, nullable = false),
        StructField("state", StringType, nullable = false),
        StructField("seeded_buckets", IntegerType, nullable = false)))
      val row: InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(op), UTF8String.fromString(table),
        UTF8String.fromString(column), UTF8String.fromString(r.state),
        r.seeded.size))
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // DISTRIBUTED TABLE AUDIT (q291; Delta invariant checks / HBase hbck
    // posture): verify the store's structural invariants IN PLACE — bucket
    // assignment vs the layout fold, one-version-per-key on resolve-free
    // layouts, file columns within the persisted schema, the dv flag vs
    // on-disk vectors, each live secondary index set-equal to the store,
    // ANALYZE row drift (informational). Read-only; repairs are the
    // applier's documented entry points (rebucket / compact / re-seed).
    if (op == "audit") {
      val rows = graft.cdc.TableAudit.audit(spark, dir)
      val schema = StructType(Seq(
        StructField("check", StringType, nullable = false),
        StructField("ok", org.apache.spark.sql.types.BooleanType, nullable = true),
        StructField("violations", LongType, nullable = false),
        StructField("detail", StringType, nullable = false)))
      val outRows: Array[InternalRow] = rows.map { r =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(r.check),
          r.ok.map(Boolean.box).orNull, r.violations,
          UTF8String.fromString(r.detail))): InternalRow
      }.toArray
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = outRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // SECONDARY INDEXES AS A RELATION (q290; the observability half of
    // q283, the system.stats pattern): one row per index — lifecycle
    // state, layout, covering payload, live entry count (NULL while
    // building — a partial count would read as corruption), and seed
    // progress in store buckets. Refuses when the table has none.
    if (op == "indexes") {
      val infos = graft.cdc.IndexLifecycle.describe(spark, dir)
      val schema = StructType(Seq(
        StructField("idx_column", StringType, nullable = false),
        StructField("state", StringType, nullable = false),
        StructField("layout", StringType, nullable = false),
        StructField("covering", StringType, nullable = false),
        StructField("entries", LongType, nullable = true),
        StructField("seeded_buckets", IntegerType, nullable = false),
        StructField("total_buckets", IntegerType, nullable = false)))
      val outRows: Array[InternalRow] = infos.map { i =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(i.column), UTF8String.fromString(i.state),
          UTF8String.fromString(i.layout),
          UTF8String.fromString(i.covering.mkString(",")),
          i.entries.map(Long.box).orNull, i.seeded, i.total)): InternalRow
      }.toArray
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = outRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
    if (op == "drop_index") {
      val column = input.getUTF8String(1).toString
      graft.cdc.IndexLifecycle.dropIndex(spark, dir, column)
      val schema = StructType(Seq(
        StructField("op", StringType, nullable = false),
        StructField("target", StringType, nullable = false),
        StructField("column", StringType, nullable = false)))
      val row: InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromString(op), UTF8String.fromString(table),
        UTF8String.fromString(column)))
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = schema
      }).iterator()
    }
    // Named refs (q256): tag/drop_tag mutate `.graft_meta` through the
    // applier's own guards (mor-only, answerable-position, no-overwrite,
    // collapse-pinning); `tags` lists them with live answerability.
    if (op == "tag" || op == "drop_tag" || op == "tags") {
      val hconf = spark.sparkContext.hadoopConfiguration
      if (op == "tag")
        CdcApplier.createTag(spark, dir, input.getUTF8String(1).toString,
          input.getLong(2))
      else if (op == "drop_tag")
        CdcApplier.dropTag(spark, dir, input.getUTF8String(1).toString)
      val meta = TargetMeta.read(hconf, new Path(dir)).getOrElse(
        throw new IllegalStateException(s"no graft table state at $dir"))
      val floorT = meta.asOfFloor
      val schema = StructType(Seq(
        StructField("tag", StringType, nullable = false),
        StructField("position", LongType, nullable = false),
        StructField("answerable", org.apache.spark.sql.types.BooleanType,
          nullable = false)))
      val tagRows: Array[InternalRow] = meta.tags.getOrElse(Map.empty).toSeq.sorted
        .map { case (n, p) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(n), p, p >= floorT)): InternalRow
        }.toArray
      return java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = tagRows
        override def readSchema(): StructType = schema
      }).iterator()
    }
    val touched: Int = op match {
      case "optimize" =>
        CdcApplier.optimize(spark, dir, input.getInt(1).toLong << 20).size
      case "compact" =>
        val meta = TargetMeta.read(spark.sparkContext.hadoopConfiguration,
          new Path(dir)).getOrElse(
          throw new IllegalStateException(s"no graft table state at $dir"))
        if (meta.storage.contains("mor")) CdcApplier.compactMor(spark, dir).size
        else {
          require(!input.isNullAt(1),
            "compact on a copy-on-write target needs horizon_pos (tombstones " +
              "below it are dropped; size it to the slowest change-feed cursor)")
          CdcApplier.compact(spark, dir, input.getLong(1)).size
        }
      case "vacuum" =>
        CdcApplier.vacuumMor(spark, dir, input.getLong(1)).size
      case "rebucket" =>
        CdcApplier.rebucket(spark, dir, input.getInt(1))
      case "backfill" =>
        CdcApplier.backfill(spark, dir, input.getUTF8String(1).toString,
          expr(input.getUTF8String(2).toString), input.getInt(3)).size
    }
    val schema = StructType(Seq(
      StructField("op", StringType, nullable = false),
      StructField("target", StringType, nullable = false),
      StructField("touched_buckets", IntegerType, nullable = false)))
    val row = new GenericInternalRow(
      Array[Any](UTF8String.fromString(op), UTF8String.fromString(table), touched))
    java.util.Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = schema
    }).iterator()
  }
}
