package graft.cdc

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import CdcApplier.{POS, TargetMeta}

/** BRANCHES + write-audit-publish (q264; public design points: Iceberg
  * branching and the WAP pattern, Delta's staging-table idiom). A tag
  * (q256) is an immutable name; a branch is a named WRITABLE lineage that
  * SHARES the main table's data files:
  *
  *  - [[create]] pins main's published high-water position `P` (via an
  *    internal `branch-<name>` tag, so compaction/vacuum cannot collapse
  *    the branch point away) and opens a SIBLING delta directory
  *    (`<main>.branch-<name>`) carrying a copy of main's layout meta with
  *    `horizon = P` — a stale write at or below the branch point is
  *    discarded by the applier's own horizon guard.
  *  - Staged writes are ordinary [[CdcApplier.applyBatchMor]] calls against
  *    the branch directory: same envelope, same resolve, same bucketing
  *    (the copied meta makes the branch bucket-identical to main, which is
  *    what makes fast-forward a pure file move).
  *  - [[snapshot]] serves the branch lineage: main's rows AS OF `P` union
  *    the branch's deltas, resolved latest-per-key — main's files are READ
  *    IN PLACE, never copied. Main readers are pinned unchanged mid-stage
  *    by construction: nothing under the main directory is touched.
  *  - [[fastForward]] publishes atomically under MAIN's commit ticket: it
  *    refuses if main advanced past the branch point (the branch would no
  *    longer be a linear continuation — re-branch and re-stage, Iceberg's
  *    non-fast-forward refusal), then MOVES the branch's delta files into
  *    main's bucket directories (renames — the same publish primitive as
  *    the MOR apply), merges their data-skipping sidecar entries, advances
  *    `maxPos`/`bucketMaxPos`, drops the pin tag, and deletes the branch
  *    directory. Readers see the old main or the new — the fence plus
  *    per-file renames of strictly-newer positions make a torn read
  *    impossible to RESOLVE wrong (a partially-moved batch is just a
  *    partially-delivered delta set, which latest-per-key handles exactly
  *    as it handles a crashed MOR publish replay).
  *  - [[drop]] abandons the branch: delta dir deleted, pin tag released —
  *    main never knew.
  *
  * 100 TB: a branch costs ZERO data copies (the branch point is a position,
  * the staged data is exactly the staged batches); fast-forward is file
  * renames + one meta write; the audit reads are bucket-pruned like main's
  * ([[pointLookup]]). The pattern every production corpus release needs:
  * stage on the branch, run audits against [[snapshot]], fast-forward on
  * green, drop on red.
  */
object Branch {

  /** The branch's delta directory — a SIBLING of main (never inside it:
    * main's readers glob only its own bucket dirs, so staged data is
    * invisible to them by construction). */
  def branchDir(mainDir: String, name: String): String = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_.\\-]+"),
      s"branch name '$name' must be [A-Za-z0-9_.-]+")
    // purely-numeric names are refused, matching the tag rule (createTag):
    // SQL `VERSION AS OF '2024'` parses digits as a raw position first, so
    // an all-digit branch would be permanently unreachable on that surface
    require(!name.forall(_.isDigit),
      s"branch name '$name' is purely numeric - VERSION AS OF would read it as a position")
    mainDir + s".branch-$name"
  }

  private def pinTag(name: String) = s"branch-$name"

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The branch point, for the SQL read surface (q277): `VERSION AS OF
    * '<branch>'` serves the branch lineage through the connector. */
  private[graft] def point(spark: SparkSession, mainDir: String, name: String): Long =
    branchFrom(spark, mainDir, name)

  /** `true` iff a live branch of this name exists (pin tag + delta dir). */
  private[graft] def exists(spark: SparkSession, mainDir: String, name: String): Boolean =
    CdcApplier.TargetMeta.read(spark.sparkContext.hadoopConfiguration,
      new Path(mainDir))
      .exists(_.tags.getOrElse(Map.empty).contains(pinTag(name)))

  /** Main's meta, with a typed error unless it pins branch `name`. */
  private[graft] def mainMeta(spark: SparkSession, mainDir: String, name: String): TargetMeta = {
    val meta = TargetMeta.read(spark.sparkContext.hadoopConfiguration,
      new Path(mainDir)).getOrElse(
      throw new IllegalStateException(s"no graft table state at $mainDir"))
    if (!meta.tags.exists(_.contains(pinTag(name))))
      throw new IllegalArgumentException(s"no branch '$name' of $mainDir")
    meta
  }

  /** The branch dir's own meta — main's layout copied by [[create]], its
    * schema evolved by staged batches — with [[mainMeta]]'s typed error
    * unless main pins branch `name`. */
  private[graft] def branchMeta(spark: SparkSession, mainDir: String, name: String): TargetMeta = {
    mainMeta(spark, mainDir, name)
    TargetMeta.read(spark.sparkContext.hadoopConfiguration,
      new Path(branchDir(mainDir, name))).getOrElse(
      throw new IllegalStateException(s"branch '$name' of $mainDir has no meta"))
  }

  /** The branch point: main's published high-water position at create time. */
  private def branchFrom(spark: SparkSession, mainDir: String, name: String): Long =
    mainMeta(spark, mainDir, name).tags.get(pinTag(name))

  /** Open a branch at main's current published high-water mark. Mor-only
    * (a branch read pins main AS OF the branch point — only mor retains
    * that history), one per name. Returns the branch point position. */
  def create(spark: SparkSession, mainDir: String, name: String): Long = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val main = new Path(mainDir)
    val meta = TargetMeta.read(hconf, main).getOrElse(
      throw new IllegalStateException(s"no graft table state at $mainDir"))
    if (!meta.storage.contains("mor"))
      throw new IllegalStateException(
        s"$mainDir is copy-on-write — a branch must pin main AS OF its branch " +
          "point, which needs the mor layout")
    val from = meta.maxPos.getOrElse(
      throw new IllegalStateException(
        s"$mainDir has no published high-water mark — publish one batch first"))
    val dir = branchDir(mainDir, name)
    val fs = fsOf(spark, dir)
    if (fs.exists(new Path(dir)))
      throw new IllegalStateException(s"branch '$name' of $mainDir already exists")
    // pin FIRST (fenced — compaction past the branch point now refuses);
    // a crash in between leaves a tag an operator drops, never a branch
    // whose base history can silently vanish
    CdcApplier.createTagInternal(spark, mainDir, pinTag(name), from)
    fs.mkdirs(new Path(dir))
    // the branch's own meta: main's layout verbatim, horizon = the branch
    // point (stale positions refuse), no inherited marks — the branch dir
    // holds ONLY its own deltas
    TargetMeta.write(hconf, new Path(dir), meta.copy(
      horizon = from, maxPos = None, bucketMaxPos = None, tags = None,
      collapsed = None, sorted = None))
    from
  }

  /** Stage a change batch on the branch — the ordinary MOR apply against
    * the branch directory (same envelope, resolve, bucketing, fence —
    * the branch has its own ticket sequence). Positions must be strictly
    * above the branch point (the copied horizon discards the rest). */
  def applyBatch(spark: SparkSession, mainDir: String, name: String,
      changes: DataFrame): Seq[Int] = {
    val meta = branchMeta(spark, mainDir, name)
    val pk = meta.pkCols.getOrElse(
      throw new IllegalStateException(s"branch '$name' of $mainDir has no persisted PK"))
    CdcApplier.applyBatchMor(spark, changes, branchDir(mainDir, name),
      CdcApplier.Options(pk, numBuckets = meta.numBuckets,
        bucketCols = meta.bucketCols, rangeBounds = meta.rangeBounds))
  }

  /** The branch lineage's state: the connector's branch read — main's
    * files cut at the branch point plus the branch's deltas, per bucket,
    * resolved together inside each bucket's reader, served in the branch
    * dir's own schema. Main's files are read in place — zero copies at any
    * size. An unknown branch is refused at call time, by the read's schema
    * resolution. */
  def snapshot(spark: SparkSession, mainDir: String, name: String): DataFrame =
    CdcApplier.connectorRead(spark, mainDir, "branch" -> name)

  /** Point lookup against the branch lineage — the audit read's cheap
    * form: [[snapshot]] filtered by the keys' exact match
    * ([[CdcApplier.keyMatch]]), so BOTH sides read only the keys' bucket
    * directories, never either table. */
  def pointLookup(spark: SparkSession, mainDir: String, name: String,
      keys: DataFrame): DataFrame = {
    val meta = mainMeta(spark, mainDir, name)
    snapshot(spark, mainDir, name).filter(CdcApplier.keyMatch(meta, keys))
  }

  /** Publish the branch into main atomically — the WAP "publish" step.
    * Fenced on MAIN; refuses when main advanced past the branch point
    * (the staged lineage would no longer be linear — re-branch). Returns
    * the buckets that received files. */
  def fastForward(spark: SparkSession, mainDir: String, name: String): Seq[Int] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val main = new Path(mainDir)
    val from = branchFrom(spark, mainDir, name)
    val dir = branchDir(mainDir, name)
    val fs = fsOf(spark, mainDir)
    CdcApplier.withCommitTicketRecorded(spark, mainDir,
      (r: Seq[Int]) => Some(r)) {
      val meta = TargetMeta.read(hconf, main).getOrElse(
        throw new IllegalStateException(s"no graft table state at $mainDir"))
      val hi = meta.maxPos.getOrElse(Long.MinValue)
      if (hi > from)
        throw new CdcApplier.GraftConcurrentWriteException(
          s"main advanced to $hi past branch point $from of '$name' — the " +
            "branch is no longer a linear continuation; re-branch from the " +
            "current head and re-stage")
      val branchMeta = TargetMeta.read(hconf, new Path(dir))
      // q283×q287: registered secondary indexes must see the published
      // branch rows — but fast-forward is file RENAMES, no apply, so the
      // maintenance envelope is reconstructed from state: each staged key
      // at its newest staged position, its lineage row (after image, absent
      // when the branch deleted it) and main's CURRENT row (before image —
      // main cannot have advanced past the branch point, checked above).
      // Both lookups are bucket-pruned. MATERIALIZED before the renames (it
      // reads the very files about to move), applied after the publish —
      // the store-then-index order every apply uses. A key born and
      // deleted entirely on the branch has nothing to retire and drops
      // out. Cost ∝ the staged delta, never either table.
      val ffIdxEnv: Option[org.apache.spark.sql.DataFrame] =
        if (meta.indexes.exists(_.nonEmpty) &&
            CdcApplier.bucketIds(fs, new Path(dir)).nonEmpty) {
          val pk = meta.pkCols.getOrElse(throw new IllegalStateException(
            s"indexed table at $mainDir has no persisted PK"))
          val staged = spark.read.option("mergeSchema", true).parquet(dir)
            .groupBy(pk.map(col): _*).agg(max(col(POS)).as(POS))
          val keys = staged.select(pk.map(col): _*)
          val after = pointLookup(spark, mainDir, name, keys).as("a")
          val before = CdcApplier.pointLookup(spark, mainDir, keys)
            .drop(POS).as("b")
          val dataCols = after.columns.toSeq.filterNot(_ == POS)
          def on(side: String) =
            pk.map(k => col(s"k.$k") <=> col(s"$side.$k")).reduce(_ && _)
          val aExists = col(s"a.${pk.head}").isNotNull
          val bExists = col(s"b.${pk.head}").isNotNull
          def img(side: String) =
            struct(dataCols.map(c => col(s"$side.$c").as(c)): _*)
          val env = staged.as("k")
            .join(after, on("a"), "left_outer")
            .join(before, on("b"), "left_outer")
            .withColumn("op",
              when(aExists, when(bExists, lit("update")).otherwise(lit("insert")))
                .when(bExists, lit("delete")))
            .filter(col("op").isNotNull)
            .select(col("op"), col(s"k.$POS").as("next_position"),
              when(bExists, img("b")).as("before"),
              when(aExists, img("a")).as("after"))
            .localCheckpoint()
          Some(env)
        } else None
      // a compacted table's sorted / one-version-per-key claim (q276) must
      // clear BEFORE any delta file becomes visible — a crash between the
      // moves and a later meta write would otherwise leave the claim
      // licensing resolve-free reads over multi-version buckets
      TargetMeta.read(hconf, main).filter(_.sorted.nonEmpty).foreach(m =>
        TargetMeta.write(hconf, main, m.copy(sorted = None)))
      // the replayed fast-forward re-appends whatever a crash left unmoved
      val touched = CdcApplier.appendBuckets(fs, main, new Path(dir), s"ff-$name").buckets
      // advance main's marks from the BRANCH's published marks
      val metaNow = TargetMeta.read(hconf, main).get
      val bHi = branchMeta.flatMap(_.maxPos)
      val merged = metaNow.bucketMaxPos.getOrElse(Map.empty) ++
        branchMeta.flatMap(_.bucketMaxPos).getOrElse(Map.empty).map {
          case (b, p) => b -> math.max(p,
            metaNow.bucketMaxPos.flatMap(_.get(b)).getOrElse(Long.MinValue))
        }
      TargetMeta.write(hconf, main, metaNow.copy(
        maxPos = Some(math.max(metaNow.maxPos.getOrElse(Long.MinValue),
          bHi.getOrElse(Long.MinValue))).filter(_ > Long.MinValue),
        bucketMaxPos = Some(merged).filter(_.nonEmpty),
        tags = Some(metaNow.tags.getOrElse(Map.empty) - pinTag(name))
          .filter(_.nonEmpty),
        // the moved delta files break a compacted table's sorted /
        // one-version-per-key claim (q276) exactly like any fresh delta
        sorted = None))
      fs.delete(new Path(dir), true)
      spark.catalog.refreshByPath(mainDir)
      // q283×q287: publish-then-maintain, like every apply
      ffIdxEnv.foreach(IndexLifecycle.maintain(spark, _, mainDir))
      touched
    }
  }

  /** Abandon the branch: staged deltas deleted, the branch-point pin
    * released (fenced via the tag machinery) — main never knew. */
  def drop(spark: SparkSession, mainDir: String, name: String): Unit = {
    branchFrom(spark, mainDir, name) // typed error on unknown names
    CdcApplier.dropTagInternal(spark, mainDir, pinTag(name))
    fsOf(spark, mainDir).delete(new Path(branchDir(mainDir, name)), true)
  }
}
