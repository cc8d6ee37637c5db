package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StructField, StructType}

import graft.cdc.CdcApplier.{Options, TargetMeta, POS, DEL, BUCKET}

/** SECONDARY-INDEX LIFECYCLE (q283) — `CREATE INDEX` as a first-class
  * operation: seed backfill + automatic maintenance + route registration +
  * drop, closing the last manual step in the optimizer-routing story
  * (q123 hand-assembled the index from the envelope; q266/q273 hand-
  * registered the route). Public design points: Phoenix's
  * `CREATE INDEX ... ASYNC` global secondary indexes over HBase (the
  * ecosystem the reference's composite rowkeys exist for —
  * `Hbase2CataLog.scala:19-23`), Hudi/Delta metadata-index builds.
  *
  * The index is ITSELF a graft table at the [[indexDir]] sibling, keyed
  * `(column, storePk...)`, bucketed on the column prefix (hash, or RANGE
  * with bounds self-derived from the store's own exact quantiles — the
  * q279 zorderAuto discipline), optionally carrying COVERING payload
  * columns so q282's one-hop covered route can serve index-only
  * projections.
  *
  * Lifecycle:
  *  1. [[createIndex]] registers the index in the STORE's meta as
  *     `building` and writes the INDEX table's layout meta FIRST — from
  *     that point every store apply maintains the index automatically
  *     ([[maintain]], hooked into applyBatch/applyBatchMor/applyBatchDv),
  *     so changes landing DURING the seed are never lost.
  *  2. The seed then walks the store's buckets — the q171 resumable
  *     discipline: at 100 TB a seed cannot be one job, so each call takes
  *     a ≤`maxBuckets` SLICE of store buckets whose LIVE rows project to
  *     `(column, pk, covering...)` and apply as ONE insert batch AT THE
  *     ROWS' OWN POSITIONS (`_graft_pos`), with completed buckets
  *     recorded in a `.graft_idxseed` marker (atomic rewrite per slice).
  *     A crash — or a deliberate `maxBuckets` slice — resumes where it
  *     left off. Re-seeding a slice is idempotent: seeded rows carry the
  *     same (key, position) as any concurrently maintained entry, so
  *     last-writer-wins folds duplicates.
  *  3. On completion the store meta flips to `live` and the optimizer
  *     route registers ([[graft.plans.GraftIndexRoute]]) — ONLY then: a
  *     half-seeded index routed early would answer point queries with
  *     missing rows. `building` indexes are maintained but never routed.
  *  4. [[dropIndex]] deregisters the route, removes the meta entry, and
  *     deletes the index table.
  *
  * Consistency contract: the index applies strictly AFTER its store batch
  * publishes (same envelope, same positions). A crash in between leaves
  * the index stale by exactly that batch until the batch replays — the
  * standard global-secondary-index lag (Phoenix's async index semantics),
  * bounded here by replay convergence because both sides are LWW on the
  * shared positions. Renaming/dropping/widening a column that an index
  * serves REFUSES (drop the index first) — the index schema pins the
  * names it was built on.
  *
  * 100 TB: the seed is bucket-sliced and resumable (never one job); each
  * maintenance apply is the batch projected to 2-4 columns, landing
  * through the applier's own bucket-pruned merge; the payoff is q273/q274/
  * q282's routed reads — ≤k index buckets + matched store buckets instead
  * of a fact-table scan, now with zero hand-wiring.
  */
object IndexLifecycle {

  /** The index table's directory — a SIBLING of the store (the
    * `.branch-*` convention: main's readers glob only their own bucket
    * dirs, so the index is invisible to them by construction). */
  def indexDir(storeDir: String, column: String): String =
    storeDir + s".idx-$column"

  private def seedMarker(idxDir: String) = new Path(idxDir, ".graft_idxseed")

  /** The index table's DATA columns (its schema minus layout columns) —
    * the projection maintenance applies and covered routing serves. */
  private def indexDataCols(imeta: TargetMeta): Seq[String] =
    imeta.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType]
      .fieldNames.toSeq.filterNot(c => c == POS || c == DEL || c == BUCKET))
      .getOrElse(throw new IllegalStateException("index table has no persisted schema"))

  /** Result of one [[createIndex]] call: lifecycle state after the call
    * (`building` | `live`) and the store buckets seeded BY THIS CALL. */
  case class CreateResult(state: String, seeded: Seq[Int])

  /** Create (or resume creating) a secondary index on `column`, seeding
    * from the CURRENT store state bucket-by-bucket (≤ `maxBuckets` this
    * call — the q171 incremental API; crash-resume uses the same path).
    * `covering` columns ride on each index entry for q282's one-hop
    * covered route. `layout` is `hash` (default) or `range` — range
    * derives its split bounds from exact quantiles of the column over the
    * live store (deterministic), enabling q274's range route. */
  def createIndex(spark: SparkSession, storeDir: String, column: String,
      covering: Seq[String] = Nil, layout: String = "hash",
      buckets: Option[Int] = None, maxBuckets: Int = Int.MaxValue): CreateResult = {
    require(maxBuckets > 0, "maxBuckets must be positive")
    require(layout == "hash" || layout == "range",
      s"index layout must be hash|range, got '$layout'")
    require(!column.exists(c => c == ',' || c == ':' || c == '\n'),
      s"indexed column '$column' carries a meta-format delimiter")
    val hconf = spark.sparkContext.hadoopConfiguration
    val store = new Path(storeDir)
    val fs = store.getFileSystem(hconf)
    val meta = TargetMeta.read(hconf, store).getOrElse(
      throw new IllegalStateException(s"no graft table state at $storeDir"))
    val storePk = meta.pkCols.getOrElse(
      throw new IllegalStateException(s"$storeDir has no persisted PK"))
    val logicalPk = storePk.map(CdcApplier.logicalName(Some(meta), _))
    val idir = indexDir(storeDir, column)
    val existing = meta.indexes.getOrElse(Map.empty)

    existing.get(column) match {
      case Some("live") =>
        throw new IllegalArgumentException(
          s"column '$column' is already indexed at $storeDir — drop_index first")
      case Some("building") => // resume the seed below
      case Some(other) =>
        throw new IllegalStateException(
          s"index on '$column' at $storeDir is in unknown state '$other'")
      case None =>
        // fresh create: validate the column against the LOGICAL schema
        val logicalFields = meta.schemaJson.map(j =>
          DataType.fromJson(j).asInstanceOf[StructType].fields.toSeq
            .filterNot(f => f.name == POS || f.name == DEL || f.name == BUCKET)
            .filterNot(f => meta.drops.exists(_.contains(f.name)))
            .map(f => f.copy(name = CdcApplier.logicalName(Some(meta), f.name))))
          .getOrElse(throw new IllegalStateException(
            s"$storeDir has no persisted schema; run one applyBatch first"))
        val byName = logicalFields.map(f => f.name -> f).toMap
        require(byName.contains(column), s"no column '$column' at $storeDir")
        require(!logicalPk.contains(column),
          s"'$column' is a PK column — the store's own layout already serves it")
        covering.foreach { c =>
          require(byName.contains(c), s"no covering column '$c' at $storeDir")
          require(c != column, s"covering column '$c' is the indexed column itself")
        }
        // index layout: PK (column, storePk...), bucketed on the column
        // prefix; covering payload rides as ordinary data columns
        val ipk = column +: logicalPk.filterNot(_ == column)
        val iFields = (ipk ++ covering.filterNot(ipk.contains)).map(byName(_))
        val n = buckets.getOrElse(meta.numBuckets)
        require(n > 0, "buckets must be positive")
        val rangeBounds =
          if (layout != "range") None
          else {
            // self-derived split points — the q279 zorderAuto discipline:
            // exact distributed quantiles of the indexed column over the
            // live store (deterministic, reproducible run-to-run)
            require(n > 1, "a range layout needs >= 2 buckets")
            val snap = CdcApplier.snapshot(spark, storeDir)
              .withColumn("_graft_all", lit(1))
            val specs = (1 until n).map(i => (s"q$i", i.toDouble / n))
            val rows = graft.operators.Advanced
              .exactQuantiles(snap, "_graft_all", column, specs).collect()
            require(rows.nonEmpty,
              s"range bounds need non-null values in '$column' — seed the store first")
            Some((1 until n).map(i =>
              math.floor(rows(0).getAs[Double](s"q$i")).toLong).distinct.sorted)
          }
        val iSchema = StructType(iFields.map(_.copy(nullable = true)) ++ Seq(
          StructField(POS, LongType), StructField(DEL, BooleanType),
          StructField(BUCKET, IntegerType)))
        // ORDER MATTERS: the index table's meta lands FIRST (maintenance
        // needs its layout), the store's `building` entry SECOND — a crash
        // in between leaves an orphan index dir that the next createIndex
        // call adopts (same deterministic layout inputs), never a
        // registered index with no table.
        val ipath = new Path(idir)
        if (fs.exists(ipath)) fs.delete(ipath, true)
        TargetMeta.write(hconf, ipath, TargetMeta(
          numBuckets = rangeBounds.map(_.size + 1).getOrElse(n),
          horizon = Long.MinValue,
          schemaJson = Some(iSchema.json), pkCols = Some(ipk),
          bucketCols = Some(Seq(column)), rangeBounds = rangeBounds))
        CdcApplier.withCommitTicket(spark, storeDir) {
          val m = TargetMeta.read(hconf, store).get
          TargetMeta.write(hconf, store, m.copy(indexes =
            Some(m.indexes.getOrElse(Map.empty) + (column -> "building"))))
        }
    }

    // ---- resumable seed: store buckets -> index insert batches ----------
    val imeta = TargetMeta.read(hconf, new Path(idir)).getOrElse(
      throw new IllegalStateException(s"index table at $idir lost its meta"))
    val icols = indexDataCols(imeta)
    val iopts = Options(imeta.pkCols.get, numBuckets = imeta.numBuckets,
      bucketCols = imeta.bucketCols, rangeBounds = imeta.rangeBounds)
    val done: Set[Int] = graft.util.AtomicFile.read(hconf, seedMarker(idir)) match {
      case Some(s) =>
        val lines = s.linesIterator.toSeq
        require(lines.headOption.contains(column),
          s"seed marker at $idir names '${lines.headOption.getOrElse("")}', not '$column'")
        lines.drop(1).filter(_.nonEmpty).map(_.toInt).toSet
      case None => Set.empty
    }
    val metaNow = TargetMeta.read(hconf, store).get
    val todo = CdcApplier.bucketIds(fs, store).filterNot(done).take(maxBuckets)
    // The whole ≤maxBuckets slice seeds as ONE apply (optimization round
    // 15): per-bucket applies each rewrote every index bucket the slice's
    // keys hash into — k slices × a near-full index rewrite ≈ O(k·n) write
    // amplification for an n-row seed. One apply per slice pays one index
    // rewrite per CALL; the caller still bounds a 100 TB seed by slicing
    // (maxBuckets), and crash-resume granularity is the slice: the marker
    // lands AFTER the apply, so a crash mid-slice re-seeds the slice,
    // which is idempotent (same keys, same positions).
    if (todo.nonEmpty) {
      val live = CdcApplier.liveRead(spark, Some(metaNow), storeDir,
        todo.map(b => s"$storeDir/$BUCKET=$b"))
      // seed rows apply AT THEIR OWN POSITIONS: a change that raced the
      // seed (already maintained into the index at position p) re-applies
      // value-identical at the same p — LWW folds it; a LATER change
      // out-positions the seeded row as it must.
      val feed = live.select(
        lit("insert").as("op"), col(POS).cast("long").as("next_position"),
        when(lit(false), struct(icols.map(col): _*)).as("before"),
        struct(icols.map(col): _*).as("after"))
      if (!feed.isEmpty) CdcApplier.applyBatch(spark, feed, idir, iopts)
      graft.util.AtomicFile.write(hconf, seedMarker(idir),
        (column +: (done ++ todo).toSeq.sorted.map(_.toString)).mkString("\n"))
    }
    val remaining = CdcApplier.bucketIds(fs, store).filterNot(done ++ todo)
    if (remaining.nonEmpty) CreateResult("building", todo)
    else {
      // complete: flip to live, register the optimizer route, drop marker
      CdcApplier.withCommitTicket(spark, storeDir) {
        val m = TargetMeta.read(hconf, store).get
        TargetMeta.write(hconf, store, m.copy(indexes =
          Some(m.indexes.getOrElse(Map.empty) + (column -> "live"))))
      }
      fs.delete(seedMarker(idir), false)
      graft.plans.GraftIndexRoute.install(spark)
      graft.plans.GraftIndexRoute.register(storeDir, column, idir)
      CreateResult("live", todo)
    }
  }

  /** Drop the index on `column`: deregister the route FIRST (a route
    * serving a deleted table would fail planning-time lookups — the rule
    * declines on failure, but why plan for it), then the meta entry, then
    * the index table itself. */
  def dropIndex(spark: SparkSession, storeDir: String, column: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val store = new Path(storeDir)
    val fs = store.getFileSystem(hconf)
    val meta = TargetMeta.read(hconf, store).getOrElse(
      throw new IllegalStateException(s"no graft table state at $storeDir"))
    require(meta.indexes.exists(_.contains(column)),
      s"no index on '$column' at $storeDir")
    graft.plans.GraftIndexRoute.unregister(storeDir, column)
    CdcApplier.withCommitTicket(spark, storeDir) {
      val m = TargetMeta.read(hconf, store).get
      TargetMeta.write(hconf, store, m.copy(indexes =
        Some(m.indexes.getOrElse(Map.empty) - column).filter(_.nonEmpty)))
    }
    fs.delete(new Path(indexDir(storeDir, column)), true)
    ()
  }

  /** Automatic maintenance — called by every apply entry point AFTER its
    * store publish: the change envelope (LOGICAL names, the store's own
    * positions) projects to each registered index's data columns and
    * applies through the ordinary bucketed merge. resolveBatch's S10
    * PK-move fan-out retires stale entries on indexed-value moves with no
    * index-specific code (q123's discipline, now automatic). The feed is
    * floored at the STORE's horizon so a stale replay the store discards
    * cannot resurrect entries in the index (whose own horizon never
    * advances). Throws propagate: a failed index apply fails the batch,
    * and the replay re-runs both sides (shared positions make that
    * idempotent). */
  private[cdc] def maintain(
      spark: SparkSession, changes: DataFrame, storeDir: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val meta = TargetMeta.read(hconf, new Path(storeDir))
    val idx = meta.flatMap(_.indexes).getOrElse(Map.empty)
    if (idx.isEmpty) return
    val horizon = meta.get.horizon
    idx.keys.toSeq.sorted.foreach { c =>
      val idir = indexDir(storeDir, c)
      val imeta = TargetMeta.read(hconf, new Path(idir)).getOrElse(
        throw new IllegalStateException(
          s"index on '$c' registered at $storeDir but no table at $idir"))
      val icols = indexDataCols(imeta)
      def img(side: String): Column =
        when(col(side).isNotNull,
          struct(icols.map(cc => col(s"$side.$cc").as(cc)): _*))
      val feed = (if (horizon == Long.MinValue) changes
                  else changes.filter(col("next_position") > horizon))
        .select(col("op"), col("next_position"),
          img("before").as("before"), img("after").as("after"))
      CdcApplier.applyBatch(spark, feed, idir,
        Options(imeta.pkCols.get, numBuckets = imeta.numBuckets,
          bucketCols = imeta.bucketCols, rangeBounds = imeta.rangeBounds))
    }
  }

  /** One [[describe]] row: the index's lifecycle facts as
    * `CALL system.indexes` serves them (q290). `entries` is the live
    * index row count — exactly one entry per live store row once live;
    * None while building (a partial count would read as corruption). */
  case class IndexInfo(column: String, state: String, layout: String,
      covering: Seq[String], entries: Option[Long], seeded: Int, total: Int)

  /** The store's secondary indexes as observability facts (q290; the
    * system.stats/system.files pattern): per index — state, layout,
    * covering payload, live entry count, and seed progress in store
    * buckets. Refuses when the table has no indexes (an empty answer
    * would read as "indexes all dropped", which is a different fact). */
  def describe(spark: SparkSession, storeDir: String): Seq[IndexInfo] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val store = new Path(storeDir)
    val meta = TargetMeta.read(hconf, store).getOrElse(
      throw new IllegalStateException(s"no graft table state at $storeDir"))
    val idx = meta.indexes.getOrElse(Map.empty)
    require(idx.nonEmpty,
      s"$storeDir has no secondary indexes — CALL system.create_index first")
    val fs = store.getFileSystem(hconf)
    val total = CdcApplier.bucketIds(fs, store).size
    idx.toSeq.sortBy(_._1).map { case (c, state) =>
      val idir = indexDir(storeDir, c)
      val imeta = TargetMeta.read(hconf, new Path(idir)).getOrElse(
        throw new IllegalStateException(
          s"index on '$c' registered at $storeDir but no table at $idir"))
      val layout = if (imeta.rangeBounds.isDefined) "range" else "hash"
      val ipk = imeta.pkCols.getOrElse(Seq.empty)
      val covering = indexDataCols(imeta).filterNot(ipk.contains)
      val entries =
        if (state == "live") Some(CdcApplier.snapshot(spark, idir).count())
        else None
      val seeded =
        if (state == "live") total
        else graft.util.AtomicFile.read(hconf, seedMarker(idir))
          .map(_.linesIterator.drop(1).count(_.nonEmpty)).getOrElse(0)
      IndexInfo(c, state, layout, covering, entries, seeded, total)
    }
  }

  /** Re-register the optimizer routes for this store's LIVE indexes — the
    * session-restart half of auto-registration (the route table is
    * in-memory per JVM; the durable truth is the meta entry). Called by
    * the catalog's table load, so a fresh session routes as soon as it
    * touches the table. `building` indexes never register. */
  def registerLive(spark: SparkSession, storeDir: String): Unit = {
    val meta = TargetMeta.read(
      spark.sparkContext.hadoopConfiguration, new Path(storeDir))
    val live = meta.flatMap(_.indexes).getOrElse(Map.empty)
      .collect { case (c, "live") => c }
    if (live.nonEmpty) {
      graft.plans.GraftIndexRoute.install(spark)
      live.foreach(c =>
        graft.plans.GraftIndexRoute.register(storeDir, c, indexDir(storeDir, c)))
    }
  }

  /** The columns any LIVE OR BUILDING index serves (indexed + covering,
    * logical names) — the rename/drop/widen guard set: evolving one of
    * these desyncs the index schema, so the evolution refuses until the
    * index drops. */
  private[cdc] def servedColumns(
      hconf: org.apache.hadoop.conf.Configuration, storeDir: String): Set[String] = {
    val meta = TargetMeta.read(hconf, new Path(storeDir))
    meta.flatMap(_.indexes).getOrElse(Map.empty).keys.flatMap { c =>
      TargetMeta.read(hconf, new Path(indexDir(storeDir, c)))
        .map(indexDataCols).getOrElse(Seq(c))
    }.toSet
  }
}
