package graft.cdc

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}

/** Idempotent, incremental CDC MERGE applier (SURVEY.md §2.1 S9-S14, §2.3).
  *
  * The reference applies binlog events one-at-a-time through a single-thread
  * executor (`Rep.scala:24,56-65`) with HBase Put/Delete (`HbaseApplier.scala:
  * 226-275`). The Spark-native equivalent is a set-oriented MERGE per
  * micro-batch: resolve each change batch to *one winning operation per key*
  * (last writer by `next_position`), then merge against the current snapshot
  * with a monotonic per-row offset guard (`_graft_pos`) so replayed /
  * out-of-order batches converge (at-least-once ⇒ exactly-once state).
  *
  * Change envelope schema: `op` (insert|update|delete), `next_position` long,
  * `before` struct (null for insert), `after` struct (null for delete);
  * `before`/`after` share one struct schema.
  *
  * Storage layout — designed so a batch's I/O is proportional to the batch,
  * not the table:
  *  - The snapshot is hash-bucketed by PK into `graft_bucket=K` partition
  *    directories. A micro-batch only reads and rewrites the buckets its
  *    keys hash into; at 100 TB with thousands of buckets a small batch
  *    touches a small fraction of the table instead of rewriting all of it.
  *  - Deletes are kept as TOMBSTONE rows (`_graft_deleted = true`) carrying
  *    their position, so a stale upsert replayed after a delete loses the
  *    position race instead of resurrecting the row. [[snapshot]] filters
  *    tombstones at read time. (Production would compact tombstones older
  *    than the replay horizon.)
  *  - Each touched bucket directory is swapped atomically-enough:
  *    live -> .bak, tmp -> live, drop .bak, with every rename checked — a
  *    crash at any point leaves either the old or the new bucket on disk,
  *    never neither. (On a lake format this whole class collapses into
  *    `MERGE INTO`; the bucket-swap scheme stands in because the image
  *    ships no lake-format jar.)
  */
object CdcApplier {

  /** @param pkCols          primary-key columns (ordinal order, like the
    *                        reference's BitSet-ordered row key,
    *                        `HbaseApplier.scala:210-217`)
    * @param compatPkChange  true reproduces the reference's S10 anomaly: an
    *                        UPDATE that changes the PK tuple does NOT delete
    *                        the old row (`HbaseApplier.scala:252-257`); false
    *                        (default) emits the missing delete.
    * @param strictPk        reject upserts with any NULL PK column
    *                        (`HbaseApplier.scala:206-208`).
    * @param numBuckets      PK-hash buckets in the snapshot layout. Sized so
    *                        a bucket fits executor memory at the target
    *                        scale (thousands at 100 TB; small here).
    * @param bucketCols      columns the bucket hash is computed over; must
    *                        be a subset of `pkCols`. Defaults to the full
    *                        PK. Setting a LEADING subset gives the layout
    *                        HBase's rowkey-prefix-scan property (the
    *                        reference's composite row keys are ordinal-
    *                        ordered for exactly this, S7
    *                        `HbaseApplier.scala:210-217`): a [[pointLookup]]
    *                        by just those columns still bucket-prunes —
    *                        the shape a secondary index needs, where the
    *                        lookup key (indexed value) is a prefix of the
    *                        index table's PK (value, pk).
    * @param rangeBounds     sorted split points turning the layout into a
    *                        RANGE-bucketed table (bucket i holds keys in
    *                        [bound_i-1, bound_i)) over a single numeric
    *                        bucket column — the reference target's actual
    *                        layout (HBase regions are rowkey ranges;
    *                        S7's ordinal-ordered composite keys exist so
    *                        range/prefix scans hit contiguous regions).
    *                        Enables [[rangeLookup]]: a BETWEEN touches
    *                        only the covering buckets. None (default) =
    *                        hash bucketing. */
  case class Options(
      pkCols: Seq[String],
      compatPkChange: Boolean = false,
      strictPk: Boolean = true,
      numBuckets: Int = 16,
      bucketCols: Option[Seq[String]] = None,
      rangeBounds: Option[Seq[Long]] = None)

  private[graft] val POS = "_graft_pos"
  private val KIND = "_graft_kind"
  private[graft] val DEL = "_graft_deleted"
  // Partition-directory column; deliberately NOT underscore-prefixed —
  // Hadoop readers treat _-prefixed paths as hidden.
  private[graft] val BUCKET = "graft_bucket"

  private def dataFields(changes: DataFrame): Seq[String] =
    changes.schema("after").dataType.asInstanceOf[StructType].fieldNames.toSeq

  /** Per-target layout metadata, persisted beside the bucket dirs as the
    * hidden `.graft_meta` file:
    *  - `numBuckets`: the hash modulus the layout was CREATED with. A later
    *    run configured with a different modulus would hash keys into
    *    different bucket dirs than the rows already on disk — the merge
    *    would read the wrong buckets and silently duplicate state — so
    *    [[applyBatch]] always adopts the on-disk value.
    *  - `horizon`: the compaction horizon ([[compact]]). Tombstones at or
    *    below it may have been dropped, so any replayed event at or below
    *    it is discarded instead of merged (it is, by the caller's replay
    *    contract, already applied).
    *  - `pkCols`: the PK columns IN THE ORDER the layout's bucket hash was
    *    computed with. `hash(a, b) != hash(b, a)`, so a later writer or a
    *    [[pointLookup]] hashing a different order would target the wrong
    *    bucket dirs silently — both adopt the persisted order (absent only
    *    in pre-upgrade metas, which the next apply backfills).
    *  - `bucketCols`: the subset of `pkCols` the bucket hash runs over
    *    (prefix-lookup layouts, [[Options.bucketCols]]). Absent = full PK,
    *    which keeps every pre-upgrade meta readable unchanged.
    *  - `storage`: `Some("mor")` marks a merge-on-read layout
    *    ([[applyBatchMor]]) whose buckets hold APPENDED delta files — every
    *    reader must resolve latest-per-key on read. Absent = copy-on-write
    *    (the [[applyBatch]] swap layout), so pre-upgrade metas read
    *    unchanged.
    *  - `collapsed`: the highest position whose version history a
    *    [[compactMor]] has collapsed — [[snapshotAsOf]] refuses positions
    *    at or below it (an intermediate image may be gone, so the answer
    *    could silently be the later state).
    *  - `maxPos`: the highest position [[applyBatchMor]] has PUBLISHED
    *    (updated after each batch's deltas land) — the change-feed
    *    high-water mark a streaming tail ([[graft.sources]] `readStream`)
    *    polls from metadata instead of scanning data. May lag the data
    *    after a crash (stale-LOW is the safe direction: rows are
    *    re-discovered, never skipped); absent on pre-upgrade targets →
    *    readers fall back to a POS scan.
    *  - `bucketMaxPos`: per-bucket position high-water marks (mor) —
    *    [[changeFeed]] prunes buckets whose mark is at or below the
    *    cursor, so an incremental consumer's cost is the TOUCHED buckets,
    *    not the table. A missing entry means "unknown — read the bucket"
    *    (bootstrap-seeded targets, pre-upgrade metas). Semantics under the
    *    single-writer crash contract: the pruned feed serves the
    *    ACKNOWLEDGED-position prefix — exactly the high-water contract the
    *    streaming tail already polls; an unacknowledged batch's rows
    *    surface when its replay publishes and meta catches up. */
  /**  - `tags`: NAMED position refs (q256; public design point: Iceberg
    *    tags): `name -> _graft_pos`, served by SQL `VERSION AS OF 'name'`
    *    and the `tag`/`drop_tag`/`tags` procedures. A tag PINS its history:
    *    [[compactMor]]/[[vacuumMor]] refuse any collapse that would raise
    *    the as-of floor above a tagged position (drop the tag first) — so
    *    a tag, once created, stays answerable until explicitly dropped.
    *  - `renames`: COLUMN-MAPPING for non-key data columns (q258; public
    *    design point: Delta Lake column mapping): `logical -> physical`.
    *    Data files and `schemaJson` keep PHYSICAL names forever — a rename
    *    is one meta entry, zero file rewrites at any size — and only the
    *    serving edges translate: reads alias physical→logical on the way
    *    out ([[logicalize]]), incoming change batches map logical→physical
    *    on the way in ([[delogicalizeChanges]]), pushed predicates
    *    translate before footer/sidecar matching. PK and bucket columns
    *    refuse to rename (they are the layout's identity).
    * (The commit-fence sequence — q257, [[withCommitTicket]] — deliberately
    * does NOT live here: it is the `.graft_commits` marker directory, so
    * claiming and advancing it never rewrites this file.) */
  /**  - `sorted`: the PHYSICAL columns every data file is INTERNALLY sorted
    *    by (q262; public design point: Iceberg sort orders / Delta OPTIMIZE
    *    ZORDER). Set when the layout's rewrite paths write each bucket in
    *    this order (copy-on-write only — a MOR delta chain is unordered by
    *    construction); every later bucket rewrite MAINTAINS it. The scan
    *    reports it ([[graft.sources.GraftBatchScan]] `SupportsReportOrdering`)
    *    so a co-bucketed storage-partitioned join runs with NO Exchange and
    *    NO Sort — the layout paid the sort once, at write time. Absent on
    *    pre-upgrade targets (their buckets were written unsorted). */
  /**  - `dv`: outstanding DELETION-VECTOR tombstone rows on a copy-on-write
    *    layout (q275; public design point: Delta deletion vectors / Iceberg
    *    equality-delete files). [[applyBatchDv]] APPENDS per-bucket
    *    key-tombstone files instead of rewriting the bucket — the
    *    small-delete path with MOR's write cost on COW's layout — and
    *    every reader of a `dv > 0` table resolves latest-per-key on read
    *    (the tombstone out-positions the masked row) exactly as MOR does.
    *    The count is an UPPER bound: a later bucket rewrite folds that
    *    bucket's vectors without decrementing (conservative — resolving an
    *    already-folded bucket is a no-op); [[compact]] folds table-wide
    *    and clears it. */
  case class TargetMeta(numBuckets: Int, horizon: Long,
      schemaJson: Option[String] = None, pkCols: Option[Seq[String]] = None,
      bucketCols: Option[Seq[String]] = None, storage: Option[String] = None,
      collapsed: Option[Long] = None, rangeBounds: Option[Seq[Long]] = None,
      maxPos: Option[Long] = None,
      bucketMaxPos: Option[Map[Int, Long]] = None,
      tags: Option[Map[String, Long]] = None,
      renames: Option[Map[String, String]] = None,
      drops: Option[Seq[String]] = None,
      sorted: Option[Seq[String]] = None,
      dv: Option[Long] = None,
      dvDeletes: Option[Boolean] = None,
      /** Live secondary indexes (q283): indexed LOGICAL column → lifecycle
        * state (`building` while the seed backfill runs, `live` once
        * complete and routed). The index table itself lives at the
        * [[graft.cdc.IndexLifecycle.indexDir]] sibling; its layout/schema
        * are ITS meta — this entry is only the store-side registration
        * every apply consults for automatic maintenance. */
      indexes: Option[Map[String, String]] = None) {

    /** The as-of floor: the lowest position whose history is still
      * retained — above both the replay horizon and every collapse. */
    def asOfFloor: Long = math.max(horizon, collapsed.getOrElse(Long.MinValue))
  }

  /** The as-of guard every history read shares: mor only (copy-on-write
    * rewrites superseded versions away), and `pos` at or above the as-of
    * floor — below it the collapsed (wrong) history would answer. */
  private[graft] def requireHistory(
      meta: TargetMeta, where: String, pos: Long, what: String): Unit = {
    if (!meta.storage.contains("mor"))
      throw new IllegalStateException(
        s"$where is copy-on-write — superseded versions are rewritten away; " +
          s"$what needs the mor layout")
    if (pos < meta.asOfFloor)
      throw new IllegalArgumentException(
        s"$what at $pos predates the retained history (floor ${meta.asOfFloor}) — " +
          "those versions have been collapsed")
  }

  object TargetMeta {
    private def metaPath(target: Path) = new Path(target, ".graft_meta")

    def read(conf: org.apache.hadoop.conf.Configuration, target: Path): Option[TargetMeta] =
      graft.util.AtomicFile.read(conf, metaPath(target)).map { s =>
        val kv = s.linesIterator.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
        TargetMeta(kv("numBuckets").toInt, kv("horizon").toLong, kv.get("schema"),
          kv.get("pkCols").map(_.split(",").toSeq.filter(_.nonEmpty)),
          kv.get("bucketCols").map(_.split(",").toSeq.filter(_.nonEmpty)),
          kv.get("storage"), kv.get("collapsed").map(_.toLong),
          kv.get("rangeBounds").map(_.split(",").toSeq.filter(_.nonEmpty).map(_.toLong)),
          kv.get("maxPos").map(_.toLong),
          kv.get("bucketMaxPos").map(_.split(",").toSeq.filter(_.nonEmpty)
            .map { e => val Array(b, p) = e.split(":"); b.toInt -> p.toLong }.toMap),
          kv.get("tags").map(_.split(",").toSeq.filter(_.nonEmpty)
            .map { e => val i = e.lastIndexOf(':'); e.take(i) -> e.drop(i + 1).toLong }.toMap),
          kv.get("renames").map(_.split(",").toSeq.filter(_.nonEmpty)
            .map { e => val Array(l, p) = e.split(":", 2); l -> p }.toMap),
          kv.get("drops").map(_.split(",").toSeq.filter(_.nonEmpty)),
          kv.get("sorted").map(_.split(",").toSeq.filter(_.nonEmpty)),
          kv.get("dv").map(_.toLong),
          kv.get("dvDeletes").map(_ == "1"),
          kv.get("indexes").map(_.split(",").toSeq.filter(_.nonEmpty)
            .map { e => val i = e.lastIndexOf(':'); e.take(i) -> e.drop(i + 1) }.toMap))
      }

    def write(conf: org.apache.hadoop.conf.Configuration, target: Path, m: TargetMeta): Unit =
      graft.util.AtomicFile.write(conf, metaPath(target),
        s"numBuckets=${m.numBuckets}\nhorizon=${m.horizon}\n" +
          m.pkCols.map(p => s"pkCols=${p.mkString(",")}\n").getOrElse("") +
          m.bucketCols.map(p => s"bucketCols=${p.mkString(",")}\n").getOrElse("") +
          m.storage.map(v => s"storage=$v\n").getOrElse("") +
          m.collapsed.map(v => s"collapsed=$v\n").getOrElse("") +
          m.rangeBounds.map(b => s"rangeBounds=${b.mkString(",")}\n").getOrElse("") +
          m.maxPos.map(v => s"maxPos=$v\n").getOrElse("") +
          m.bucketMaxPos.map(bm => s"bucketMaxPos=${
            bm.toSeq.sorted.map { case (b, p) => s"$b:$p" }.mkString(",")}\n")
            .getOrElse("") +
          m.tags.filter(_.nonEmpty).map(ts => s"tags=${
            ts.toSeq.sorted.map { case (n, p) => s"$n:$p" }.mkString(",")}\n")
            .getOrElse("") +
          m.renames.filter(_.nonEmpty).map(rn => s"renames=${
            rn.toSeq.sorted.map { case (l, p) => s"$l:$p" }.mkString(",")}\n")
            .getOrElse("") +
          m.drops.filter(_.nonEmpty).map(ds => s"drops=${ds.sorted.mkString(",")}\n")
            .getOrElse("") +
          m.sorted.filter(_.nonEmpty).map(sc => s"sorted=${sc.mkString(",")}\n")
            .getOrElse("") +
          m.dv.filter(_ > 0).map(v => s"dv=$v\n").getOrElse("") +
          m.dvDeletes.filter(identity).map(_ => "dvDeletes=1\n").getOrElse("") +
          m.indexes.filter(_.nonEmpty).map(ix => s"indexes=${
            ix.toSeq.sorted.map { case (c, st) => s"$c:$st" }.mkString(",")}\n")
            .getOrElse("") +
          m.schemaJson.map(j => s"schema=$j\n").getOrElse(""))
  }

  /** A CONCURRENT writer holds (or held) this target's commit ticket —
    * retryable after the conflict is resolved: wait for the live writer, or
    * [[reclaimCommit]] if the holder is known dead (the restart contract). */
  class GraftConcurrentWriteException(msg: String) extends IllegalStateException(msg)

  // ---- commit fence (q257) -------------------------------------------------
  //
  // Every bucket-swapping publisher claims the NEXT commit ticket — an
  // EXCLUSIVE marker-file create, the one atomic filesystem primitive —
  // before touching state, and converts it to a DONE marker only after its
  // publish completes (public design point: Delta's optimistic commit
  // protocol / HBase region fencing). Two concurrent writers (a split-brain
  // applier after failover, a second misconfigured pipeline, an optimize
  // racing an apply) therefore fail LOUDLY at entry instead of silently
  // losing each other's merges in last-swap-wins bucket interleavings.
  //
  // State lives ONLY in the `.graft_commits` marker directory — never in
  // `.graft_meta`, so fencing adds no meta rewrite: the current sequence is
  // the highest `d<seq>` (done) marker; a claim is `c<seq+1>` created with
  // overwrite=false; success renames it to `d<seq+1>` and drops the
  // previous done marker. Single-writer cost per publish: one listing, one
  // create, one rename, one delete — all metadata ops on empty files.
  //
  // Crash windows: died HOLDING the claim → `c<cur+1>` persists and every
  // later claim conflicts until the restarted single writer calls
  // [[reclaimCommit]] (it alone can assert the prior holder is dead — the
  // same contract bootstrap/restart already carries; bucket-level recovery
  // plus replay convergence make re-running the fenced batch safe). Died
  // AFTER the rename → a lower done marker lingers and the next claim
  // garbage-collects it. A claim that slips in between a zombie's listing
  // and its create is closed by the post-create re-list check below.

  private def commitsDir(target: Path) = new Path(target, ".graft_commits")
  private def claimPath(target: Path, seq: Long) = new Path(commitsDir(target), s"c$seq")
  private def donePath(target: Path, seq: Long) = new Path(commitsDir(target), s"d$seq")

  private def markerSeq(name: String): Option[Long] =
    if (name.length > 1 && (name.head == 'c' || name.head == 'd') &&
      name.drop(1).forall(_.isDigit)) Some(name.drop(1).toLong)
    else None

  /** How many done markers (= commit stamps, q265) are retained: the
    * timestamp-travel window in commits. Older markers are GC'd at claim
    * time (the Delta-log-retention design point: timestamp resolution has a
    * bounded horizon; position travel is unaffected — positions live in the
    * data, not the markers). Sized by `spark.graft.commit.stamps.kept`
    * (default 512) — a timestamp older than the retained window REFUSES in
    * [[positionAsOfTimestamp]], exactly like the collapsed-history floor. */
  private[graft] val CommitStampsKept = 512L

  private[graft] def commitStampsKept: Long =
    scala.util.Try(SparkSession.active.conf
      .get("spark.graft.commit.stamps.kept").toLong).getOrElse(CommitStampsKept)

  /** One finalized commit's stamp — the done marker's content (q265/q267):
    * `ts` from the injectable commit clock (monotone non-decreasing across
    * commits), `pos` the published high-water `_graft_pos` at finalize time
    * (None on targets that do not maintain one), `buckets` the bucket ids
    * the commit touched when the publisher recorded them (None = unknown —
    * conservative: overlaps everything; Some(Nil) = meta-only, touches no
    * data). Pre-upgrade empty markers parse as ts = None. */
  case class CommitStamp(seq: Long, ts: Option[Long], pos: Option[Long],
      buckets: Option[Seq[Int]])

  /** The commit clock (q265): injectable for deterministic gates via
    * `spark.graft.commit.clock.ms`; wall clock otherwise. The RESOLVE path
    * (timestamp → position) never consults a clock — only stamps. */
  private def commitClockMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.commit.clock.ms").map(_.toLong)
      .getOrElse(System.currentTimeMillis())

  private def parseStamp(seq: Long, content: String): CommitStamp = {
    val kv = content.linesIterator.map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    CommitStamp(seq,
      kv.get("ts").flatMap(s => scala.util.Try(s.toLong).toOption),
      kv.get("pos").flatMap(s => scala.util.Try(s.toLong).toOption),
      kv.get("buckets").map(_.split(",").toSeq.filter(_.nonEmpty).map(_.toInt)))
  }

  /** All retained commit stamps, ascending by sequence. One listing + one
    * small read per retained marker — bounded by [[CommitStampsKept]]. */
  def commitStamps(spark: SparkSession, targetDir: String): Seq[CommitStamp] = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = commitsDir(target)
    if (!fs.exists(d)) return Seq.empty
    fs.listStatus(d).toSeq
      .flatMap(st => if (st.getPath.getName.head == 'd')
        markerSeq(st.getPath.getName) else None)
      .sorted
      .map(seq => parseStamp(seq,
        graft.util.AtomicFile.read(fs.getConf, donePath(target, seq)).getOrElse("")))
  }

  /** Resolve a wall-clock timestamp (ms) to the greatest published position
    * whose commit stamp is at or below it (q265). Contract — ICEBERG's
    * timestamp-travel semantics, deliberately: a timestamp AFTER the latest
    * stamped commit resolves to the latest position (latest-wins; Delta
    * would error there — this engine chooses the form under which
    * `TIMESTAMP AS OF now()` always answers the current state). A
    * timestamp BEFORE the first RETAINED stamp errors — both the
    * predates-first-commit case and the case where older stamps were GC'd
    * past the retention window ([[commitStampsKept]]): the resolution
    * floor rises with GC exactly like the collapsed-history floor, and a
    * timestamp below it refuses rather than answering with a silently-later
    * position. Also errors when no stamp carries a position (pre-upgrade
    * history). */
  def positionAsOfTimestamp(spark: SparkSession, targetDir: String, tsMs: Long): Long = {
    val stamped = commitStamps(spark, targetDir)
      .filter(s => s.ts.isDefined && s.pos.isDefined)
    if (stamped.isEmpty)
      throw new IllegalStateException(
        s"$targetDir has no timestamped commits — TIMESTAMP AS OF needs the " +
          "stamped fence (publish at least one batch with this version)")
    val atOrBefore = stamped.filter(_.ts.get <= tsMs)
    if (atOrBefore.isEmpty)
      throw new IllegalArgumentException(
        s"timestamp $tsMs predates the first stamped commit " +
          s"(${stamped.head.ts.get}) of $targetDir")
    atOrBefore.map(_.pos.get).max
  }

  /** The target's committed sequence: the highest done marker (0 = no
    * fenced publish yet — pre-upgrade targets fence from their next one). */
  def commitSeq(fs: FileSystem, target: Path): Long = {
    val d = commitsDir(target)
    if (!fs.exists(d)) 0L
    else fs.listStatus(d).toSeq
      .flatMap(st => if (st.getPath.getName.head == 'd') markerSeq(st.getPath.getName) else None)
      .foldLeft(0L)(math.max)
  }

  /** Claim the next commit ticket. Returns the claimed sequence. */
  private[graft] def claimCommit(fs: FileSystem, target: Path): Long = {
    fs.mkdirs(commitsDir(target))
    val listing = fs.listStatus(commitsDir(target)).toSeq.map(_.getPath)
    val cur = listing.flatMap(p =>
      if (p.getName.head == 'd') markerSeq(p.getName) else None).foldLeft(0L)(math.max)
    // GC: claim markers at or below the sequence (completed or superseded)
    // and done markers past the stamp-retention window (q265 — done markers
    // are the commit-timestamp log now, so recent ones are KEPT).
    val kept = commitStampsKept
    listing.foreach { p =>
      markerSeq(p.getName).foreach { s =>
        if ((p.getName.head == 'd' && s < cur - kept) ||
          (p.getName.head == 'c' && s <= cur))
          fs.delete(p, false)
      }
    }
    val next = cur + 1
    val claim = claimPath(target, next)
    val claimed =
      try { fs.create(claim, false).close(); true }
      catch { case _: IOException => false }
    if (!claimed)
      throw new GraftConcurrentWriteException(
        s"commit $next of $target is already claimed by a concurrent writer " +
          "— retry after it finishes, or reclaimCommit() if it is known dead")
    // close the list-vs-create race: if the sequence advanced in between,
    // this claim names a transition that already happened — release it.
    val cur2 = commitSeq(fs, target)
    if (cur2 != cur) {
      fs.delete(claim, false)
      throw new GraftConcurrentWriteException(
        s"commit sequence of $target advanced $cur -> $cur2 during claim — " +
          "a concurrent writer published; retry from fresh state")
    }
    next
  }

  /** Run `body` under the target's commit ticket: claim, execute, convert
    * the claim to the done marker. On ANY body failure the claim is
    * released WITHOUT advancing (refusal legs — drift guards, tag pins —
    * must not burn sequence numbers or leave the target fenced). */
  private[graft] def withCommitTicket[T](spark: SparkSession, targetDir: String)(body: => T): T =
    withCommitTicketRecorded[T](spark, targetDir, _ => None)(body)

  /** [[withCommitTicket]] that also RECORDS the commit's touched bucket ids
    * in the done-marker stamp (q267): `touchedOf(result)` = Some(ids) when
    * the publisher knows exactly which buckets it rewrote (Some(Nil) for
    * meta-only mutations), None when it cannot bound them (whole-target
    * swaps, schema rewrites) — an unrecorded commit conservatively overlaps
    * everything in [[optimize]]'s rebase check. */
  private[graft] def withCommitTicketRecorded[T](
      spark: SparkSession, targetDir: String, touchedOf: T => Option[Seq[Int]])(
      body: => T): T = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seq = claimCommit(fs, target)
    val result =
      try body
      catch { case e: Throwable => fs.delete(claimPath(target, seq), false); throw e }
    finalizeCommit(spark, fs, target, seq, touchedOf(result))
    result
  }

  /** Convert a held claim into the stamped done marker (q265/q267). The
    * missing-claim legs are distinguished (the round-12 theft hole): a
    * whole-target swap (bootstrap/rebucket/widen) replaces the target dir —
    * and the `.graft_commits` marker dir with it — so a MISSING MARKER DIR
    * re-seeds; a marker dir that still exists with the claim gone means a
    * concurrent writer reclaimed a LIVE holder's ticket (a second
    * misconfigured pipeline — one of the fence's stated adversaries), and
    * completing silently would re-open the lost-update race the fence
    * exists to close, so it throws the typed conflict instead. */
  private def finalizeCommit(spark: SparkSession, fs: FileSystem, target: Path,
      seq: Long, buckets: Option[Seq[Int]]): Unit = {
    val swapped = !fs.exists(commitsDir(target))
    if (!swapped && !fs.exists(claimPath(target, seq)))
      throw new GraftConcurrentWriteException(
        s"commit $seq of $target: the claim marker vanished while this publish " +
          "ran — a concurrent writer reclaimed a LIVE holder's ticket; the two " +
          "publishes may have interleaved. Verify state and re-apply (replay " +
          "convergence makes the re-run safe); fix the writer that reclaimed.")
    if (swapped) fs.mkdirs(commitsDir(target))
    // stamp: monotone timestamp (ties broken upward, the Delta adjustment)
    // + the published high-water position + the recorded bucket set
    val prevTs = graft.util.AtomicFile
      .read(fs.getConf, donePath(target, seq - 1))
      .map(parseStamp(seq - 1, _)).flatMap(_.ts).getOrElse(Long.MinValue)
    val ts = math.max(commitClockMs(spark), prevTs + 1)
    val pos = TargetMeta.read(fs.getConf, target).flatMap(_.maxPos)
    graft.util.AtomicFile.write(fs.getConf, donePath(target, seq),
      s"ts=$ts\n" + pos.map(p => s"pos=$p\n").getOrElse("") +
        buckets.map(bs => s"buckets=${bs.sorted.mkString(",")}\n").getOrElse(""))
    fs.delete(claimPath(target, seq), false)
    // retention GC rides the claim path; here only the previous marker
    // BEYOND the window would go, which the next claim handles
  }

  /** Adopt a dead writer's commit ticket: deletes the `commitSeq+1` claim
    * marker left by a holder that crashed mid-publish. ONLY the restarted
    * single writer may call this (it alone can assert the prior holder is
    * dead — reclaiming a LIVE holder's ticket would re-open the lost-update
    * race this fence exists to close). Returns true iff a stale ticket was
    * reclaimed. Bucket-level crash recovery is unchanged — the next
    * publisher's openTargetForWrite already restores interrupted swaps;
    * replay convergence makes re-running the fenced batch safe. */
  def reclaimCommit(spark: SparkSession, targetDir: String): Boolean = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = claimPath(target, commitSeq(fs, target) + 1)
    if (fs.exists(stale)) { fs.delete(stale, false); true } else false
  }

  /** `true` iff retyping `from` → `to` is LOSSLESS — the type-widening
    * lattice (public design point: Delta Lake type widening): integral
    * upcasts, float→double, and same-scale decimal precision growth.
    * Everything else (narrowing, cross-family retypes) is drift. */
  private[graft] def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType)            => true
    case (IntegerType, LongType)                        => true
    case (FloatType, DoubleType)                        => true
    case (f: DecimalType, t: DecimalType) =>
      t.scale == f.scale && t.precision >= f.precision
    case _ => false
  }

  /** Fail fast on schema drift — the full-column comparison of the
    * reference's `TableInfo.sameData` (`TableInfo.scala:19-39`), which
    * re-discovers the schema on ANY table-map change, not just key changes:
    *  - a PK column missing or retyped in the incoming schema → drift error
    *    (ALWAYS — the bucket hash ran over the stored type; widening a key
    *    would re-hash keys away from their rows);
    *  - a stored non-key column missing (dropped) → drift error naming the
    *    column, instead of a confusing union/parquet failure;
    *  - a retyped non-key column → with `allowWidening` (the copy-on-write
    *    apply path, q253), a LOSSLESS widening in either direction is
    *    accepted — stored-narrower means the upstream DDL widened (the
    *    caller rewrites, like the additive path); incoming-narrower means
    *    an old-schema batch replayed after the widen (the caller upcasts
    *    the batch — replay convergence must survive a widen). Anything
    *    outside the [[canWiden]] lattice is drift, exactly as before;
    *  - a column only in the incoming schema → allowed: [[applyBatch]]
    *    evolves the stored schema additively (new nullable column).
    * Layout columns are excluded from the comparison. */
  def checkSchemaDrift(target: StructType, incoming: StructType, pkCols: Seq[String],
      allowWidening: Boolean = false, dropped: Set[String] = Set.empty): Unit = {
    val layout = Set(POS, DEL, BUCKET, KIND)
    pkCols.foreach { k =>
      val t = target.fields.find(_.name == k)
      val i = incoming.fields.find(_.name == k)
      if (i.isEmpty || t.exists(_.dataType != i.get.dataType))
        throw new IllegalStateException(
          s"PK schema drift on '$k': target=${t.map(_.dataType)} incoming=${i.map(_.dataType)}")
    }
    // retired columns (q259 DROP) are exempt: a post-drop batch omits them
    // by design, and a pre-drop replay carrying them is equally legal
    target.fields.filterNot(f =>
      layout(f.name) || pkCols.contains(f.name) || dropped(f.name)).foreach { t =>
      incoming.fields.find(_.name == t.name) match {
        case None => throw new IllegalStateException(
          s"schema drift: stored column '${t.name}' (${t.dataType}) is missing from the " +
            "incoming change schema (dropped upstream?) — migrate or re-bootstrap the target")
        case Some(i) if i.dataType != t.dataType &&
            !(allowWidening && (canWiden(t.dataType, i.dataType) ||
              canWiden(i.dataType, t.dataType))) =>
          throw new IllegalStateException(
            s"schema drift: column '${t.name}' retyped ${t.dataType} -> ${i.dataType} — " +
              "migrate or re-bootstrap the target")
        case _ => ()
      }
    }
  }

  /** Resolve a change batch to one winning (kind, image, pos) per key.
    * An update that moves the PK fans out to a delete@before-key and an
    * upsert@after-key (unless compat mode). One shuffle (groupBy PK). */
  def resolveBatch(changes: DataFrame, opts: Options): DataFrame = {
    val cols = dataFields(changes)
    val ko = (img: Column, kind: String) =>
      struct(img.as("img"), lit(kind).as("kind"), col("next_position").as("pos"))

    val pkMoved = opts.pkCols
      .map(k => !(col(s"before.$k") <=> col(s"after.$k")))
      .reduce(_ || _)
    val upsertOp = when(col("op").isin("insert", "update"), ko(col("after"), "upsert"))
    val deleteOp = when(col("op") === "delete", ko(col("before"), "delete"))
    val pkMoveDelete =
      if (opts.compatPkChange) when(lit(false), ko(col("before"), "delete"))
      else when(col("op") === "update" && pkMoved, ko(col("before"), "delete"))

    val keyOps = changes
      .select(explode(array(upsertOp, deleteOp, pkMoveDelete)).as("ko"))
      .filter(col("ko").isNotNull)
      .select(col("ko.kind").as(KIND), col("ko.pos").as(POS), col("ko.img.*"))

    // PK completeness (invariant 4): distributed, codegen'd, no extra job.
    val guarded =
      if (!opts.strictPk) keyOps
      else opts.pkCols.foldLeft(keyOps) { (df, k) =>
        df.withColumn(k,
          when(col(KIND) === "upsert" && col(k).isNull,
            raise_error(concat(lit(s"CDC upsert missing PK column '$k' at pos "), col(POS))))
            .otherwise(col(k)))
      }

    val payload = struct((Seq(KIND, POS) ++ cols).map(col): _*)
    guarded
      .groupBy(opts.pkCols.map(col): _*)
      .agg(max_by(payload, col(POS)).as("w"))
      .select(col("w.*"))
  }

  /** Pure merge of a resolved batch into (the touched slice of) the current
    * snapshot. Full-outer join on PK; a change only wins if its position is
    * newer than the row it replaces. Every key survives — deletes become
    * tombstones — so convergence holds under arbitrary replay order. */
  def merge(current: DataFrame, resolved: DataFrame, opts: Options): DataFrame = {
    val cols = resolved.columns.filterNot(c => c == KIND || c == POS || c == BUCKET).toSeq
    val joinCond = opts.pkCols
      .map(k => col(s"c.$k") <=> col(s"r.$k"))
      .reduce(_ && _)
    val joined = current.as("c").join(resolved.as("r"), joinCond, "full_outer")

    val changeWins = col(s"r.$KIND").isNotNull &&
      (col(s"c.$POS").isNull || col(s"r.$POS") > col(s"c.$POS"))
    joined.select(
      cols.map(c => when(changeWins, col(s"r.$c")).otherwise(col(s"c.$c")).as(c)) ++ Seq(
        when(changeWins, col(s"r.$POS")).otherwise(col(s"c.$POS")).as(POS),
        when(changeWins, col(s"r.$KIND") === "delete")
          .otherwise(coalesce(col(s"c.$DEL"), lit(false))).as(DEL),
        coalesce(col(s"c.$BUCKET"), col(s"r.$BUCKET")).as(BUCKET)): _*)
  }

  /** Parsed, fully-nullable form of the persisted table schema. Nullable
    * throughout because a file written before an additive evolution lacks
    * the new columns and the reader surfaces NULL — the same shape
    * `mergeSchema` inference produces. */
  private[graft] def storedSchema(meta: Option[TargetMeta]): Option[StructType] =
    meta.flatMap(_.schemaJson).map(j => StructType(
      org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType]
        .fields.map(_.copy(nullable = true))))

  /** Stored-table read against the persisted schema
    * (`.graft_meta.schemaJson`, which creation, additive evolution,
    * widening and MOR appends keep current), so no read plans a footer
    * pass over every data file. Targets without one (pre-upgrade) infer
    * with `mergeSchema`. Files written before an additive evolution
    * surface the new columns as NULL. */
  private[graft] def readStored(
      spark: SparkSession, meta: Option[TargetMeta], paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val r0 = spark.read
    val r1 = basePath.fold(r0)(b => r0.option("basePath", b))
    storedSchema(meta) match {
      case Some(s) => r1.schema(s).parquet(paths: _*)
      case None    => r1.option("mergeSchema", true).parquet(paths: _*)
    }
  }

  /** The stored rows at `paths` under `dir`: the whole table
    * (`Seq(dir)`), bucket dirs or data files; no paths is an empty frame
    * typed from the persisted schema. */
  private[graft] def storedSlice(spark: SparkSession, meta: Option[TargetMeta],
      dir: String, paths: Seq[String]): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        storedSchema(meta).getOrElse(
          throw new IllegalStateException(s"no graft table state at $dir")))
    else readStored(spark, meta, paths, if (paths == Seq(dir)) None else Some(dir))

  /** The one live read every serving path shares (snapshot, as-of, point
    * and range lookups, the connector, the index seed, the coercing sink):
    * the stored rows at `paths` ([[storedSlice]]), cut at `asOf` if given,
    * resolved to their live rows by [[live]]. */
  private[graft] def liveRead(
      spark: SparkSession, meta: Option[TargetMeta], targetDir: String,
      paths: Seq[String], asOf: Option[Long] = None,
      below: DataFrame => DataFrame = identity,
      keepBucket: Boolean = false): DataFrame = {
    val stored = storedSlice(spark, meta, targetDir, paths)
    live(asOf.fold(stored)(p => stored.filter(col(POS) <= p)), meta, below, keepBucket)
  }

  /** Stored versions → live rows: logicalize (so `below` and the result
    * speak LOGICAL names), apply `below`, resolve latest-per-key when the
    * layout holds versions ([[needsResolve]]), drop tombstones and
    * `_graft_deleted`. `_graft_pos` stays; `graft_bucket` stays only with
    * `keepBucket`. `below` must not change a key's latest version — on a
    * version-bearing layout only PK-referencing filters qualify (a key's
    * versions agree on its PK). Key columns never rename, so the physical
    * PK partitions the resolve. */
  private[graft] def live(versions: DataFrame, meta: Option[TargetMeta],
      below: DataFrame => DataFrame = identity,
      keepBucket: Boolean = false): DataFrame = {
    val filtered = below(logicalize(versions, meta))
    val resolved =
      if (needsResolve(meta))
        resolveOnRead(filtered, meta.flatMap(_.pkCols).getOrElse(
          throw new IllegalStateException("version-bearing layout has no persisted PK")))
      else filtered
    val rows = resolved.filter(!col(DEL))
    if (keepBucket) rows.drop(DEL) else rows.drop(DEL, BUCKET)
  }

  /** Read the live table state: tombstones filtered, layout columns dropped
    * (`_graft_pos` retained for offset introspection). A target whose every
    * row has been deleted AND compacted away has no bucket dirs left — that
    * is a valid empty table, typed from the schema persisted in
    * `.graft_meta`, not a read error. */
  def snapshot(spark: SparkSession, targetDir: String): DataFrame = {
    val target = new Path(targetDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = target.getFileSystem(hconf)
    openTarget(fs, target) // a crashed rebucket's .bak may hold the data
    liveRead(spark, TargetMeta.read(hconf, target), targetDir,
      if (bucketIds(fs, target).nonEmpty) Seq(targetDir) else Nil)
  }

  /** The layout's bucket-assignment expression: hash (default) or the
    * range-split count-of-bounds-below (a codegen'd sum of comparisons —
    * monotone in the key, so bucket ids follow key order and a range scan
    * covers CONTIGUOUS buckets). One definition for both apply paths and
    * every lookup, so writer and readers cannot disagree. */
  private[cdc] def bucketExpr(
      bucketOrder: Seq[String], numBuckets: Int, rangeBounds: Option[Seq[Long]]): Column =
    bucketExprCols(bucketOrder.map(col), numBuckets, rangeBounds)

  /** Core of [[bucketExpr]] over arbitrary input Columns — the
    * [[graft.sources.GraftDataSource]] connector evaluates it over LITERAL
    * key values (the whole expression folds to a constant) to map pushed PK
    * predicates to bucket ids; sharing the one definition means the SQL
    * reader cannot disagree with the writer's on-disk assignment. */
  private[graft] def bucketExprCols(
      bucketOrder: Seq[Column], numBuckets: Int, rangeBounds: Option[Seq[Long]]): Column =
    rangeBounds match {
      case Some(bs) =>
        require(bucketOrder.size == 1,
          s"range bucketing needs a single bucket column, got ${bucketOrder.mkString(",")}")
        bs.foldLeft(lit(0))((acc, b) =>
          acc + when(bucketOrder.head >= b, 1).otherwise(0))
      case None => pmod(hash(bucketOrder: _*), lit(numBuckets))
    }

  /** Driver-side bucket ids of a bounded set of literal key tuples:
    * [[bucketExprCols]] over foldable literals, one column per tuple on a
    * one-row plan — constant folding reduces it to a LocalTableScan, so the
    * whole batch evaluates driver-side in one `first()`. Used by the V2
    * connector's pushdown planning; bounded by the pushed IN-list size. */
  private[graft] def bucketIdsOf(
      spark: SparkSession, tuples: Seq[Seq[Column]], numBuckets: Int,
      rangeBounds: Option[Seq[Long]]): Seq[Int] = {
    if (tuples.isEmpty) return Seq.empty
    val cols = tuples.zipWithIndex.map { case (lits, i) =>
      bucketExprCols(lits, numBuckets, rangeBounds).as(s"b$i")
    }
    spark.sql("SELECT 1").select(cols: _*).first().toSeq.map {
      case i: Int => i
      case other  => throw new IllegalStateException(s"non-integer bucket id $other")
    }
  }

  /** Resolve the (bucketCols, rangeBounds, numBuckets) triple against the
    * persisted layout, with the same adopt-or-drift discipline as pkCols. */
  private def resolveLayout(
      meta: Option[TargetMeta], opts: Options, pkOrder: Seq[String])
      : (Seq[String], Option[Seq[Long]], Int) = {
    val bucketOrder = meta match {
      case Some(m) => m.bucketCols.getOrElse(pkOrder)
      case None    => opts.bucketCols.getOrElse(pkOrder)
    }
    if (meta.isEmpty) {
      if (!bucketOrder.toSet.subsetOf(pkOrder.toSet))
        throw new IllegalArgumentException(
          s"bucketCols (${bucketOrder.mkString(",")}) must be a subset of the PK " +
            s"(${pkOrder.mkString(",")})")
    } else if (opts.bucketCols.exists(_ != bucketOrder))
      throw new IllegalStateException(
        s"bucket-layout drift: target is bucketed by ${bucketOrder.mkString(",")}, " +
          s"caller configured ${opts.bucketCols.get.mkString(",")}")
    val rangeBounds = meta match {
      case Some(m) => m.rangeBounds
      case None    => opts.rangeBounds.map { bs =>
        require(bs == bs.sorted && bs.distinct == bs, "rangeBounds must be sorted, distinct")
        bs
      }
    }
    if (meta.nonEmpty && opts.rangeBounds.exists(b => !rangeBounds.contains(b)))
      throw new IllegalStateException(
        s"bucket-layout drift: target range bounds ${rangeBounds.getOrElse(Nil).mkString(",")} " +
          s"!= caller's ${opts.rangeBounds.get.mkString(",")}")
    val numBuckets = rangeBounds.map(_.size + 1)
      .getOrElse(meta.map(_.numBuckets).getOrElse(opts.numBuckets))
    (bucketOrder, rangeBounds, numBuckets)
  }

  /** The layout's write-time sort columns (q262): the bucket key first (so
    * a reported prefix is exactly what a co-bucketed join needs), then the
    * rest of the PK — all physical names, rename-proof by construction
    * (key columns refuse renames). */
  private[graft] def sortColsOf(bucketOrder: Seq[String], pkOrder: Seq[String]): Seq[String] =
    bucketOrder ++ pkOrder.filterNot(bucketOrder.toSet)

  /** A column that repartitions EXACTLY one bucket per shuffle partition.
    * `repartition(n, $BUCKET)` hashes the bucket id, and with only n
    * distinct values the collisions leave ~1/e of the tasks empty while
    * others carry 2-3 whole buckets — the guide §2.5 too-few-distinct-keys
    * skew, a 2-3x straggler on every bucket-rewrite stage. Spark's hash
    * partitioning is pmod(murmur3(x, seed=42), n), so a driver-side probe
    * finds, for each bucket id, an int literal that lands on exactly that
    * partition (expected n probes per bucket, microseconds for any real
    * bucket count); the per-row remap is one O(1) array index. The mapping
    * is a literal — deterministic under task retry (guide §2.5's
    * rand-repartition hazard does not apply). */
  private[cdc] def bucketAlignedKey(buckets: Seq[Int], parts: Int): Column = {
    // one int literal per shuffle partition whose murmur3 lands exactly
    // there (walk candidates, first hit per partition wins)
    val slotOfPartition = new Array[Integer](parts)
    var remaining = parts
    var x = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42)
      val p = ((h % parts) + parts) % parts
      if (slotOfPartition(p) == null) {
        slotOfPartition(p) = Integer.valueOf(x); remaining -= 1
      }
      x += 1
    }
    // bucket buckets(i) → partition i (mod parts): 1 bucket per task when
    // parts == buckets.size. Lookup is one O(1) array index per row; an id
    // outside `buckets` (a gap, negative, or above the max) reads a null
    // slot and fails loudly — only those rows pay the check.
    val arr = new Array[Integer](buckets.max + 1)
    buckets.zipWithIndex.foreach { case (b, i) =>
      arr(b) = slotOfPartition(i % parts)
    }
    coalesce(get(typedLit(arr.toSeq), col(BUCKET)),
      raise_error(concat(lit("bucket id "), col(BUCKET).cast("string"),
        lit(s" is not one of the ${buckets.size} buckets this write covers"))))
  }

  /** Sorted bucket write (q262): all of a bucket's rows land in ONE task
    * (bucket-aligned repartition — see [[bucketAlignedKey]]), sorted by
    * (bucket, sortCols) within it, so each published bucket directory
    * holds one file internally sorted by the layout's sort columns. At
    * 100 TB this pays the sort once at write — every later co-bucketed
    * storage-partitioned join then runs with no Exchange AND no Sort (the
    * scan reports the order). The one-task-per-bucket shape is the same
    * per-bucket memory bound the merge and the MOR reader already assume. */
  private def writeSorted(df: DataFrame, sortCols: Seq[String], buckets: Seq[Int],
      dest: String): Unit = {
    val n = math.max(buckets.size, 1)
    val keyed =
      if (buckets.isEmpty) df.repartition(n, col(BUCKET))
      else df.repartition(n, bucketAlignedKey(buckets, n))
    keyed
      .sortWithinPartitions((BUCKET +: sortCols).map(col): _*)
      .write.partitionBy(BUCKET).mode("overwrite").parquet(dest)
  }

  /** Latest-per-key resolution for merge-on-read layouts: within each PK,
    * the newest `_graft_pos` wins. Replayed batches append value-identical
    * (key, pos) duplicates; any of them is the same winner, so the
    * row_number tie is harmless. Runs AFTER bucket pruning on lookups, so
    * the window only sorts the touched buckets' rows. */
  private[graft] def resolveOnRead(df: DataFrame, pkCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pkCols.map(col): _*).orderBy(col(POS).desc)
    df.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1).drop("_graft_rn")
  }

  /** `true` iff this layout's buckets can hold MORE THAN ONE version of a
    * key, so every reader must resolve latest-per-key: merge-on-read delta
    * chains, and copy-on-write layouts with outstanding deletion vectors
    * (q275 — the appended key-tombstones mask their rows through exactly
    * the same resolve). One definition for every read path, so a new
    * version-bearing layout cannot silently leak superseded rows through a
    * reader that forgot about it. */
  private[graft] def needsResolve(meta: Option[TargetMeta]): Boolean =
    meta.exists(m => m.storage.contains("mor") || m.dv.exists(_ > 0))

  /** Merge-on-read apply: the write-amplification complement of
    * [[applyBatch]] (public design point: Hudi's MOR tables / Iceberg v2
    * delete files). The resolved batch is APPENDED as per-bucket delta
    * files — the existing bucket data is never read or rewritten, so a
    * batch's write I/O is exactly the batch, not the touched buckets. The
    * cost moves to readers ([[resolveOnRead]]'s latest-per-key window) and
    * is reclaimed by [[compactMor]] on whatever cadence the deployment
    * picks — at 100 TB hot high-churn tables run MOR between compactions,
    * cold tables stay copy-on-write. Same envelope, same resolve, same
    * horizon guard and layout-adoption rules as [[applyBatch]]; schema
    * evolution is deliberately NOT supported on the delta path (evolve at
    * a compaction, where the whole bucket rewrites anyway).
    *
    * Crash safety: deltas land in a tmp dir, then move file-by-file
    * (atomic renames) into the live bucket dirs. A crash mid-move followed
    * by a replay re-appends value-identical (key, pos) rows, which
    * [[resolveOnRead]] collapses — convergence holds. */
  def applyBatchMor(
      spark: SparkSession, changes: DataFrame, targetDir: String, opts: Options): Seq[Int] =
    withCommitTicketRecorded(spark, targetDir, (r: Seq[Int]) => Some(r))(
      applyBatchMorInner(spark, changes, targetDir, opts))

  private def applyBatchMorInner(
      spark: SparkSession, changes: DataFrame, targetDir: String, opts: Options): Seq[Int] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target)

    val meta = TargetMeta.read(hconf, target)
    meta.foreach { m =>
      if (!m.storage.contains("mor"))
        throw new IllegalStateException(
          s"$targetDir is a copy-on-write layout; use applyBatch (or re-bootstrap as mor)")
    }
    val horizon = meta.map(_.horizon).getOrElse(Long.MinValue)
    val pkOrder = meta.flatMap(_.pkCols).getOrElse(opts.pkCols)
    if (pkOrder.toSet != opts.pkCols.toSet)
      throw new IllegalStateException(
        s"PK drift: target layout is keyed by ${pkOrder.mkString(",")}, " +
          s"caller configured ${opts.pkCols.mkString(",")}")
    val (bucketOrder, rangeBounds, numBuckets) = resolveLayout(meta, opts, pkOrder)

    // write-side column mapping (q258): logical envelope names → physical
    val inHorizon = resolveBatch(delogicalizeChanges(changes, meta), opts)
    val resolved = (if (horizon == Long.MinValue) inHorizon
                    else inHorizon.filter(col(POS) > horizon))
      .withColumn(DEL, col(KIND) === "delete").drop(KIND)
      .withColumn(BUCKET, bucketExpr(bucketOrder, numBuckets, rangeBounds))
    // Meta BEFORE the first delta lands (a crash in between leaves meta +
    // no data — a valid empty mor table); also guards the schema.
    if (meta.isEmpty)
      TargetMeta.write(hconf, target,
        TargetMeta(numBuckets, horizon, Some(resolved.schema.json), Some(pkOrder),
          if (bucketOrder == pkOrder) None else Some(bucketOrder), Some("mor"),
          rangeBounds = rangeBounds))
    else meta.foreach { m =>
      m.schemaJson.foreach(j =>
        checkSchemaDrift(
          org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType],
          resolved.schema, pkOrder,
          dropped = m.drops.getOrElse(Seq.empty).toSet))
      // Additive evolution: this delta may carry NEW columns over files
      // that keep their old schema. The persisted schema is every reader's
      // source of truth ([[readStored]]), so the union lands BEFORE the
      // delta files become visible — in that crash window the new column
      // reads as all-NULL, exactly what merged inference served. Field
      // order mirrors the inference order (old fields, new fields, BUCKET
      // last) so envelope image structs keep their field order.
      m.schemaJson.foreach { j =>
        val old = org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[StructType]
        val have = old.fieldNames.toSet
        val newF = resolved.schema.fields.filterNot(f => have(f.name))
        if (newF.nonEmpty) {
          val union = StructType(
            old.fields.filterNot(_.name == BUCKET) ++ newF.filterNot(_.name == BUCKET) ++
              old.fields.filter(_.name == BUCKET))
          TargetMeta.write(hconf, target,
            TargetMeta.read(hconf, target).getOrElse(m)
              .copy(schemaJson = Some(union.json)))
        }
      }
    }

    // q276: a compacted-and-sorted mor table serves order-reporting,
    // resolve-free reads (compactMor collapsed every bucket to one version
    // per key) — a FRESH delta breaks both properties, so the flag clears
    // BEFORE the delta files become visible (a crash in between leaves an
    // unclaimed order over still-single-version buckets — conservative;
    // the reverse order would let a reader stream duplicate versions).
    meta.filter(_.sorted.nonEmpty).foreach { m =>
      TargetMeta.write(hconf, target, m.copy(sorted = None))
    }

    val token = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val tmp = new Path(targetDir + s".delta-$token")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    resolved.write.partitionBy(BUCKET).mode("overwrite").parquet(tmp.toString)

    val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
    val published = scala.collection.mutable.ArrayBuffer.empty[String]
    bucketIds(fs, tmp).foreach { b =>
      val from = new Path(tmp, s"$BUCKET=$b")
      val to = new Path(target, s"$BUCKET=$b")
      fs.mkdirs(to)
      fs.listStatus(from).filterNot(_.getPath.getName.startsWith("_")).foreach { f =>
        val dest = new Path(to, s"delta-$token-${f.getPath.getName}")
        if (!fs.rename(f.getPath, dest))
          throw new IOException(s"cannot publish delta file ${f.getPath} -> $dest")
        published += dest.toString
      }
      touched += b
    }
    fs.delete(tmp, true)
    // file-level data-skipping stats for the fresh delta files (q250):
    // merged into each touched bucket's sidecar AFTER the renames — a
    // crash in between leaves the new files unlisted, i.e. never skipped
    val collected = FileStats.appendSidecars(fs,
      published.map(new Path(_)).groupBy(_.getParent)
        .map { case (d, files) => d -> files.toSeq })
    // Advance the persisted change-feed high-water mark (`maxPos`) — the
    // metadata a streaming tail polls instead of scanning data. Strictly
    // AFTER the deltas land: a crash in between leaves maxPos stale-LOW,
    // so the tail re-discovers the rows when the replayed batch publishes
    // and meta catches up — it can never silently skip past them.
    if (published.nonEmpty) {
      // Per-bucket maxima from the footer pass the sidecars already paid
      // (optimization r15, guide §1.2): every delta file's POS range is in
      // `collected`, so the previous distributed read-back of the files
      // this publish just wrote folds to a driver-side max. Exactness is
      // the contract — if ANY file's POS stats are missing (suppressed
      // footer stats, a failed sidecar pass), fall back to the read. The
      // global mark feeds the streaming tail's poll, the per-bucket marks
      // feed changeFeed's bucket pruning.
      val byBucket = published.map(new Path(_)).groupBy(_.getParent)
      val fromFooters: Seq[Option[(Int, Long)]] = byBucket.toSeq.map {
        case (d, files) =>
          val names = files.map(_.getName).toSet
          val maxes = collected.getOrElse(d, Seq.empty)
            .collect { case (n, e) if names(n) => e.cols.get(POS).flatMap(_.mx) }
          if (maxes.size == files.size && maxes.forall(_.isDefined))
            scala.util.Try(
              d.getName.stripPrefix(s"$BUCKET=").toInt ->
                maxes.flatten.map(_.toLong).max).toOption
          else None
      }
      val perBucket =
        if (fromFooters.forall(_.isDefined)) fromFooters.flatten.toMap
        else spark.read.option("basePath", targetDir)
          .parquet(published.toSeq: _*)
          .groupBy(col(BUCKET)).agg(max(col(POS)).as("p"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      if (perBucket.nonEmpty) TargetMeta.read(hconf, target).foreach { m =>
        val hi = math.max(m.maxPos.getOrElse(Long.MinValue), perBucket.values.max)
        val merged = m.bucketMaxPos.getOrElse(Map.empty) ++
          perBucket.map { case (b, p) =>
            b -> math.max(p, m.bucketMaxPos.flatMap(_.get(b)).getOrElse(Long.MinValue))
          }
        TargetMeta.write(hconf, target,
          m.copy(maxPos = Some(hi), bucketMaxPos = Some(merged)))
      }
    }
    spark.catalog.refreshByPath(targetDir)
    // q283: registered secondary indexes maintain from the same envelope,
    // strictly after the store publish
    IndexLifecycle.maintain(spark, changes, targetDir)
    touched.toSeq.sorted
  }

  /** DELETION VECTORS for copy-on-write (q275; public design points: Delta
    * Lake deletion vectors, Iceberg v2 equality-delete files): a 1-row
    * DELETE on a COW layout used to rewrite the whole bucket (the swap
    * publish) — the small-delete write amplification every lake format
    * grew a sidecar for. This applies a DELETE-ONLY change batch by
    * APPENDING per-bucket key-tombstone files (`dv-*`: the PK columns +
    * position + `_graft_deleted=true`, nothing else — a masked row's data
    * bytes are never rewritten), publishing through the MOR append
    * primitive (tmp write → per-file renames → sidecar append), fenced
    * like every publisher. `.graft_meta` records the outstanding count
    * (`dv`), and EVERY reader of a dv-bearing table resolves latest-per-key
    * on read ([[needsResolve]]) — the tombstone out-positions the row it
    * masks, so masking is the resolve every MOR reader already runs.
    *
    * Lifecycle: a later [[applyBatch]] upsert at a higher position
    * RESURRECTS the key (ordinary position race — and the bucket rewrite
    * it triggers folds that bucket's vectors in passing); [[compact]]
    * folds table-wide (resolving every bucket, dropping masked rows) and
    * clears the flag; the horizon guard discards stale replayed vectors
    * exactly as it discards stale upserts. `sorted` CLEARS — an appended
    * tombstone file breaks the one-sorted-file-per-bucket claim, and a
    * resolving reader is unordered by construction. Refused on MOR (its
    * ordinary delete IS an appended tombstone already).
    *
    * 100 TB: a k-row delete costs k tombstone rows + one rename per
    * touched bucket — not the touched buckets' rewrite; readers pay the
    * resolve window only until the next fold, the exact Delta-DV
    * trade-off. Returns the touched bucket ids. */
  def applyBatchDv(
      spark: SparkSession, changes: DataFrame, targetDir: String, opts: Options): Seq[Int] =
    withCommitTicketRecorded(spark, targetDir, (r: Seq[Int]) => Some(r))(
      applyBatchDvInner(spark, changes, targetDir, opts))

  private def applyBatchDvInner(
      spark: SparkSession, changes: DataFrame, targetDir: String, opts: Options): Seq[Int] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(
        s"no graft table state at $targetDir — deletion vectors mask EXISTING rows"))
    if (meta.storage.contains("mor"))
      throw new IllegalStateException(
        s"$targetDir is merge-on-read — its ordinary delete already appends a " +
          "tombstone delta; deletion vectors are the copy-on-write small-delete path")
    val pkOrder = meta.pkCols.getOrElse(opts.pkCols)
    if (pkOrder.toSet != opts.pkCols.toSet)
      throw new IllegalStateException(
        s"PK drift: target layout is keyed by ${pkOrder.mkString(",")}, " +
          s"caller configured ${opts.pkCols.mkString(",")}")
    val (bucketOrder, rangeBounds, numBuckets) = resolveLayout(Some(meta), opts, pkOrder)
    // delete-only by contract: an upsert has data bytes to write, which is
    // applyBatch's job — silently accepting one here would mask it forever
    val nonDeletes = changes.filter(col("op") =!= "delete").limit(1).count()
    require(nonDeletes == 0L,
      "deletion vectors apply DELETE-only batches; route upserts through applyBatch")
    val horizon = meta.horizon
    val inHorizon = resolveBatch(delogicalizeChanges(changes, Some(meta)), opts)
    val vectors = (if (horizon == Long.MinValue) inHorizon
                   else inHorizon.filter(col(POS) > horizon))
      .withColumn(DEL, col(KIND) === "delete").drop(KIND)
      .withColumn(BUCKET, bucketExpr(bucketOrder, numBuckets, rangeBounds))
      // the vector IS (key, position, tombstone) — no data bytes
      .select((pkOrder.map(col) ++ Seq(col(POS), col(DEL), col(BUCKET))): _*)
      // a vector for a bucket with no rows masks nothing — and would create
      // a bucket dir out of a delete, so keep to the buckets that exist
      .filter(col(BUCKET).isin(bucketIds(fs, target).map(Int.box): _*))
      .persist()
    try {
      val nVec = vectors.count()
      if (nVec == 0L) return Seq.empty
      val token = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val tmp = new Path(targetDir + s".delta-$token")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      vectors.write.partitionBy(BUCKET).mode("overwrite").parquet(tmp.toString)
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      val published = scala.collection.mutable.ArrayBuffer.empty[Path]
      bucketIds(fs, tmp).foreach { b =>
        val from = new Path(tmp, s"$BUCKET=$b")
        val to = new Path(target, s"$BUCKET=$b")
        fs.listStatus(from).filterNot(_.getPath.getName.startsWith("_")).foreach { f =>
          val dest = new Path(to, s"dv-$token-${f.getPath.getName}")
          if (!fs.rename(f.getPath, dest))
            throw new IOException(s"cannot publish deletion vector ${f.getPath} -> $dest")
          published += dest
        }
        touched += b
      }
      fs.delete(tmp, true)
      FileStats.appendSidecars(fs,
        published.groupBy(_.getParent).map { case (d, fls) => d -> fls.toSeq })
      // The `dv` flag lands strictly AFTER the renames — maxPos's stale-LOW
      // discipline. A reader in the crash window sees tombstone files
      // without the flag: the COW read's `!_graft_deleted` filter drops the
      // vectors themselves and serves the masked rows — the consistent
      // PRE-batch state (the batch is unacknowledged; its replay re-appends
      // value-identical vectors and completes the flag). The reverse order
      // would be correct too but would leave a crashed table paying the
      // resolve window forever on zero vectors. `sorted` clears in the same
      // write: an appended tombstone file breaks the one-sorted-file claim,
      // and a resolving read is unordered by construction.
      TargetMeta.read(hconf, target).foreach(m =>
        TargetMeta.write(hconf, target, m.copy(
          dv = Some(m.dv.getOrElse(0L) + nVec), sorted = None)))
      spark.catalog.refreshByPath(targetDir)
      // q283: index entries for masked keys retire as ordinary deletes
      // (the dv batch carries full before-images by its callers' shape)
      IndexLifecycle.maintain(spark, changes, targetDir)
      touched.toSeq.sorted
    } finally vectors.unpersist()
  }

  /** Position time travel on a merge-on-read target: the state AS OF
    * `pos` — resolve latest-per-key over only the delta rows at or below
    * it. History retention is exactly the un-compacted delta window
    * ([[compactMor]] collapses versions), so a deployment sizes its
    * compaction cadence to its audit horizon — the MOR analog of a lake
    * format's VERSION AS OF, and a capability the reference's HBase
    * target gets from cell timestamps. Reads below the compaction point
    * see the COMPACTED (current) image of keys whose history is gone;
    * `pos` below the persisted horizon is therefore rejected rather than
    * answered wrong. */
  def snapshotAsOf(spark: SparkSession, targetDir: String, pos: Long): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    openTarget(target.getFileSystem(hconf), target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    requireHistory(meta, targetDir, pos, "time travel")
    liveRead(spark, Some(meta), targetDir, Seq(targetDir), asOf = Some(pos))
  }

  // ---- column mapping (q258) ----------------------------------------------

  /** logical → physical for one column name: a `renames` key maps to its
    * physical; anything else (physical names, never-renamed columns,
    * layout columns) passes through. */
  private[graft] def physicalName(meta: Option[TargetMeta], name: String): String =
    meta.flatMap(_.renames).flatMap(_.get(name)).getOrElse(name)

  /** physical → logical (reverse lookup; identity when unmapped). */
  private[graft] def logicalName(meta: Option[TargetMeta], phys: String): String =
    meta.flatMap(_.renames).flatMap(_.collectFirst {
      case (l, p) if p == phys => l
    }).getOrElse(phys)

  /** Serve a physically-named frame under the table's LOGICAL view — the
    * read-side translation every serving edge applies: dropped columns
    * (q259) disappear, renamed columns (q258) take their logical names.
    * Identity when the table has neither. */
  private[graft] def logicalize(df: DataFrame, meta: Option[TargetMeta]): DataFrame = {
    val dropped = meta.flatMap(_.drops).getOrElse(Seq.empty)
      .filter(df.columns.contains)
    val undropped = if (dropped.isEmpty) df else df.drop(dropped: _*)
    meta.flatMap(_.renames).filter(_.nonEmpty).fold(undropped) { rn =>
      rn.foldLeft(undropped) { case (d, (log, phys)) =>
        if (d.columns.contains(phys)) d.withColumnRenamed(phys, log) else d
      }
    }
  }

  /** Map an incoming change envelope's image-struct field names to the
    * layout's physical names — the write-side translation. Accepts the
    * CURRENT logical name (the post-rename upstream schema) and the
    * physical name (pre-rename replays) for each column; an intermediate
    * name from a CHAINED rename is not resolvable (its mapping is gone —
    * same as Delta, where files know ids, not name history) and lands on
    * the additive-evolution path like any unknown column. */
  private def delogicalizeChanges(changes: DataFrame, meta: Option[TargetMeta]): DataFrame = {
    val rn = meta.flatMap(_.renames).getOrElse(Map.empty)
    if (rn.isEmpty) return changes
    val fields = changes.schema("after").dataType.asInstanceOf[StructType].fieldNames.toSeq
    if (fields.forall(f => !rn.contains(f))) return changes
    // a batch carrying BOTH the logical and the physical name of one column
    // (a hand-built replay union) would remap into duplicate struct fields —
    // ambiguous-column failures or silent wrong-field resolution downstream;
    // refuse loudly instead
    val remapped = fields.map(f => rn.getOrElse(f, f))
    val dup = remapped.diff(remapped.distinct).distinct
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"change batch carries both the logical and the physical name of " +
          s"column(s) ${dup.mkString(",")} — drop one side before applying")
    def remap(side: String) = when(col(side).isNotNull,
      struct(fields.map(f => col(s"$side.$f").as(rn.getOrElse(f, f))): _*))
    changes.withColumn("before", remap("before")).withColumn("after", remap("after"))
  }

  /** Rename a non-key data column (q258) — META-ONLY, zero file rewrites at
    * any scale: files keep their physical names; `renames` carries the
    * logical view. Refusals: PK/bucket columns (the layout's identity),
    * layout columns, unknown columns, and any target name already serving
    * as a logical or physical name (either collision would make the
    * logical view ambiguous). Renaming a column BACK to its physical name
    * simply drops the mapping. Fenced like every meta mutation. */
  def renameColumn(spark: SparkSession, targetDir: String, from: String, to: String): Unit =
    withCommitTicketRecorded(spark, targetDir, (_: Unit) => Some(Nil)) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val target = new Path(targetDir)
      val meta = TargetMeta.read(hconf, target).getOrElse(
        throw new IllegalStateException(s"no graft table state at $targetDir"))
      val stored = meta.schemaJson.map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType]).getOrElse(
        throw new IllegalStateException(
          s"$targetDir has a pre-upgrade meta with no persisted schema; run one applyBatch first"))
      val rn = meta.renames.getOrElse(Map.empty)
      val layout = Set(POS, DEL, BUCKET, KIND)
      val keyCols = (meta.pkCols.getOrElse(Seq.empty) ++
        meta.bucketCols.getOrElse(Seq.empty)).toSet
      // `from` must be a CURRENT logical column (not retired by a drop)
      val droppedR = meta.drops.getOrElse(Seq.empty).toSet
      val phys = rn.getOrElse(from,
        if (stored.fieldNames.contains(from) && !rn.values.toSet.contains(from) &&
          !droppedR.contains(from)) from
        else throw new IllegalArgumentException(
          s"no column '$from' at $targetDir (current columns: ${
            stored.fieldNames.filterNot(layout).filterNot(droppedR)
              .map(logicalName(Some(meta), _)).mkString(", ")})"))
      if (layout(phys) || keyCols(phys))
        throw new IllegalArgumentException(
          s"cannot rename '$from': PK/bucket/layout columns are the layout's identity")
      // q283: a column a secondary index serves (indexed or covering) is
      // pinned by the index's own schema — evolving it desyncs the two
      if (IndexLifecycle.servedColumns(hconf, targetDir).contains(from))
        throw new IllegalStateException(
          s"cannot rename '$from': a secondary index serves it — drop_index first")
      // the meta KV format is comma/colon/newline-delimited: a physical
      // name carrying a delimiter would corrupt every later meta read
      require(!phys.exists(c => c == ',' || c == ':' || c == '\n'),
        s"column '$from': physical name '$phys' carries a meta-format delimiter")
      require(to.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"rename target '$to' must be [A-Za-z_][A-Za-z0-9_]*")
      val currentLogicals = stored.fieldNames.filterNot(layout)
        .map(logicalName(Some(meta), _)).toSet
      val physNames = stored.fieldNames.toSet
      if (currentLogicals.contains(to) && to != from)
        throw new IllegalArgumentException(s"column '$to' already exists at $targetDir")
      if (physNames.contains(to) && to != phys)
        throw new IllegalArgumentException(
          s"'$to' is another column's physical name at $targetDir — it would shadow " +
            "that column's storage")
      val updated = if (to == phys) rn - from else (rn - from) + (to -> phys)
      TargetMeta.write(hconf, target,
        meta.copy(renames = if (updated.isEmpty) None else Some(updated)))
    }

  /** Drop a non-key data column (q259) — META-ONLY, the mirror of
    * [[renameColumn]] (Delta column mapping's drop): files keep the bytes
    * until their buckets naturally rewrite; `drops` retires the PHYSICAL
    * name from the logical view at every serving edge. Replays still
    * carrying the column apply cleanly (their values land in the retired
    * storage, invisible); post-drop batches simply omit it
    * ([[checkSchemaDrift]] skips retired names). The retired physical name
    * cannot be re-added (files may still carry its old values — a re-add
    * would resurrect them; pick a fresh name). PK/bucket/layout columns
    * refuse. Fenced like every meta mutation. */
  def dropColumn(spark: SparkSession, targetDir: String, name: String): Unit =
    withCommitTicketRecorded(spark, targetDir, (_: Unit) => Some(Nil)) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val target = new Path(targetDir)
      val meta = TargetMeta.read(hconf, target).getOrElse(
        throw new IllegalStateException(s"no graft table state at $targetDir"))
      val stored = meta.schemaJson.map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType]).getOrElse(
        throw new IllegalStateException(
          s"$targetDir has a pre-upgrade meta with no persisted schema; run one applyBatch first"))
      val rn = meta.renames.getOrElse(Map.empty)
      val layout = Set(POS, DEL, BUCKET, KIND)
      val dropped = meta.drops.getOrElse(Seq.empty).toSet
      val phys = rn.getOrElse(name,
        if (stored.fieldNames.contains(name) && !rn.values.toSet.contains(name) &&
          !dropped.contains(name)) name
        else throw new IllegalArgumentException(s"no column '$name' at $targetDir"))
      if (layout(phys) ||
        (meta.pkCols.getOrElse(Seq.empty) ++ meta.bucketCols.getOrElse(Seq.empty))
          .contains(phys))
        throw new IllegalArgumentException(
          s"cannot drop '$name': PK/bucket/layout columns are the layout's identity")
      // q283: a column a secondary index serves is pinned by the index
      if (IndexLifecycle.servedColumns(hconf, targetDir).contains(name))
        throw new IllegalStateException(
          s"cannot drop '$name': a secondary index serves it — drop_index first")
      // same delimiter guard as renameColumn — `drops` shares the KV format
      require(!phys.exists(c => c == ',' || c == ':' || c == '\n'),
        s"column '$name': physical name '$phys' carries a meta-format delimiter")
      TargetMeta.write(hconf, target, meta.copy(
        renames = Some(rn - name).filter(_.nonEmpty),
        drops = Some((dropped + phys).toSeq.sorted)))
    }

  /** Create a NAMED position ref (q256; public design point: Iceberg tags):
    * `VERSION AS OF '<name>'` and [[snapshotAsOfTag]] then serve the state
    * at the tagged `_graft_pos`. Tags live in `.graft_meta` (one atomic
    * rename — same crash-safety as every meta change) and PIN their
    * history: [[compactMor]]/[[vacuumMor]] refuse any collapse that would
    * raise the as-of floor above a tagged position, so a tag stays
    * answerable until [[dropTag]]. Only merge-on-read layouts retain
    * history, so only they can be tagged; a purely-numeric name is refused
    * (SQL `VERSION AS OF` parses digits as a raw position — the name would
    * be unreachable); a tag at an unanswerable or not-yet-published
    * position is refused (it could never serve what it claims). */
  def createTag(spark: SparkSession, targetDir: String, name: String, pos: Long): Unit = {
    // the `branch-` prefix is the branch machinery's PIN namespace (q264):
    // a user tag there would fabricate a phantom branch in the listing
    require(!name.startsWith("branch-"),
      s"tag names starting with 'branch-' are reserved for branch pins — " +
        "use Branch.create / CALL system.branch")
    createTagInternal(spark, targetDir, name, pos)
  }

  /** [[createTag]] without the namespace guard — the branch machinery's
    * own pin-creation seam (q264). */
  private[cdc] def createTagInternal(
      spark: SparkSession, targetDir: String, name: String, pos: Long): Unit =
    withCommitTicketRecorded(spark, targetDir, (_: Unit) => Some(Nil)) {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    require(name.nonEmpty && name.matches("[A-Za-z0-9_.\\-]+"),
      s"tag name '$name' must be [A-Za-z0-9_.-]+")
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — VERSION AS OF would read it as a position")
    requireHistory(meta, targetDir, pos, s"tag '$name'")
    meta.maxPos.foreach { hi =>
      if (pos > hi) throw new IllegalArgumentException(
        s"tag '$name' at $pos is beyond the published high-water mark $hi")
    }
    val tags = meta.tags.getOrElse(Map.empty)
    if (tags.contains(name))
      throw new IllegalStateException(
        s"tag '$name' already exists at ${tags(name)} — drop it first")
    TargetMeta.write(hconf, target, meta.copy(tags = Some(tags + (name -> pos))))
  }

  /** Drop a named ref — after this the tagged history is collapse-eligible
    * again. Unknown names refuse (a silent no-op would hide typos from the
    * retention pipeline that believes it unpinned something). */
  def dropTag(spark: SparkSession, targetDir: String, name: String): Unit = {
    // dropping a branch PIN through the tag surface would silently release
    // the branch point to compaction, stranding the branch's staged work —
    // the branch lifecycle owns its pins (drop_branch / fast_forward)
    require(!name.startsWith("branch-"),
      s"'$name' is a branch pin — drop the branch (Branch.drop / " +
        "CALL system.drop_branch), not its tag")
    dropTagInternal(spark, targetDir, name)
  }

  /** [[dropTag]] without the namespace guard — the branch machinery's own
    * pin-release seam (q264). */
  private[cdc] def dropTagInternal(
      spark: SparkSession, targetDir: String, name: String): Unit =
    withCommitTicketRecorded(spark, targetDir, (_: Unit) => Some(Nil)) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val target = new Path(targetDir)
      val meta = TargetMeta.read(hconf, target).getOrElse(
        throw new IllegalStateException(s"no graft table state at $targetDir"))
      val tags = meta.tags.getOrElse(Map.empty)
      if (!tags.contains(name))
        throw new IllegalArgumentException(s"no tag '$name' at $targetDir")
      TargetMeta.write(hconf, target, meta.copy(tags = Some(tags - name)))
    }

  /** [[snapshotAsOf]] addressed by wall-clock timestamp in epoch ms (q265):
    * resolves through the commit stamps ([[positionAsOfTimestamp]]) to the
    * greatest position published at or before `tsMs`, then serves that
    * position with all of [[snapshotAsOf]]'s floor guards. */
  def snapshotAsOfTimestamp(spark: SparkSession, targetDir: String, tsMs: Long): DataFrame =
    snapshotAsOf(spark, targetDir, positionAsOfTimestamp(spark, targetDir, tsMs))

  /** [[snapshotAsOf]] addressed by tag name. */
  def snapshotAsOfTag(spark: SparkSession, targetDir: String, name: String): DataFrame = {
    val meta = TargetMeta.read(
      spark.sparkContext.hadoopConfiguration, new Path(targetDir)).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    val pos = meta.tags.getOrElse(Map.empty).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $targetDir"))
    snapshotAsOf(spark, targetDir, pos)
  }

  /** RESTORE as a NEW commit (q263; public design point: Delta RESTORE /
    * Iceberg rollback-to-snapshot): reinstate the state AS OF `pos` while
    * KEEPING history — the restore publishes at `maxPos + 1` as ordinary
    * superseding deltas, so post-restore time travel to the bad position
    * still answers, the change feed shows the restore as plain
    * retire/upsert transitions, and CDC apply continues on top. Mechanics:
    * diff the CURRENT resolved state against the AS-OF resolved state
    * (one full-outer join on the PK), emit an upsert for every key whose
    * as-of image differs from (or is missing from) the current state and a
    * delete for every key live now but not then, and push that synthetic
    * envelope through the MOR apply — ONE fenced commit, bucket-pruned
    * writes ∝ the diff. 100 TB: the diff is one co-partitioned join over
    * the table (the unavoidable cost of knowing what changed); the WRITE
    * is only the changed keys, not a table rewrite. Guards: mor-only
    * (cow rewrote its history away), `pos` within the retained floor, and
    * a no-op restore (nothing differs) publishes nothing but still
    * commits (the fence records the operator's intent). Returns the
    * restore position (maxPos + 1), or `pos`'s own high-water when the
    * table was already at that state. */
  def rollback(spark: SparkSession, targetDir: String, pos: Long): Long =
    withCommitTicketRecorded(spark, targetDir,
      (r: (Long, Seq[Int])) => Some(r._2)) {
      val hconf = spark.sparkContext.hadoopConfiguration
      val target = new Path(targetDir)
      val fs = target.getFileSystem(hconf)
      openTargetForWrite(fs, target)
      val meta = TargetMeta.read(hconf, target).getOrElse(
        throw new IllegalStateException(s"no graft table state at $targetDir"))
      requireHistory(meta, targetDir, pos, "rollback")
      val hi = meta.maxPos.getOrElse(
        throw new IllegalStateException(s"$targetDir has no published high-water mark"))
      if (pos >= hi) (hi, Seq.empty[Int]) // already at that state — empty commit
      else {
        val pkCols = meta.pkCols.getOrElse(
          throw new IllegalStateException(s"mor layout at $targetDir has no persisted PK"))
        val raw = readStored(spark, Some(meta), Seq(targetDir))
        val dataCols = raw.columns.filterNot(c =>
          c == POS || c == DEL || c == BUCKET).toSeq
        def img(side: String) = struct(dataCols.map(c => col(s"$side.$c").as(c)): _*)
        val asof = resolveOnRead(raw.filter(col(POS) <= pos), pkCols).as("a")
        val cur = resolveOnRead(raw, pkCols).as("c")
        val joinCond = pkCols.map(k => col(s"a.$k") <=> col(s"c.$k")).reduce(_ && _)
        val aLive = col(s"a.$DEL").isNotNull && !col(s"a.$DEL")
        val cLive = col(s"c.$DEL").isNotNull && !col(s"c.$DEL")
        val newPos = hi + 1
        val changes = asof.join(cur, joinCond, "full_outer")
          .withColumn("op",
            when(aLive && (!cLive || !(img("a") <=> img("c"))), "update")
              .when(!aLive && cLive, "delete"))
          .filter(col("op").isNotNull)
          .select(col("op"), lit(newPos).as("next_position"),
            when(cLive, img("c")).as("before"),
            when(col("op") =!= "delete", img("a")).as("after"))
        val opts = Options(pkCols, numBuckets = meta.numBuckets,
          bucketCols = meta.bucketCols, rangeBounds = meta.rangeBounds)
        (newPos, applyBatchMorInner(spark, changes, targetDir, opts))
      }
    }._1

  /** [[rollback]] addressed by tag name (q271) — "restore the release":
    * the tag names the position, the restore keeps the tag answerable by
    * construction (a restore never raises the floor). */
  def rollbackToTag(spark: SparkSession, targetDir: String, name: String): Long = {
    val meta = TargetMeta.read(
      spark.sparkContext.hadoopConfiguration, new Path(targetDir)).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    val pos = meta.tags.getOrElse(Map.empty).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' at $targetDir"))
    rollback(spark, targetDir, pos)
  }

  /** The tag-pinning guard: refuse a collapse whose new floor would strand
    * any tag below it ([[compactMor]]/[[vacuumMor]] call this BEFORE
    * touching state). The error names the blocking tags — the operator
    * either drops them or retains past them, never silently breaks them. */
  private def requireTagsAnswerable(meta: TargetMeta, newFloor: Long, op: String): Unit = {
    val stranded = meta.tags.getOrElse(Map.empty).filter(_._2 < newFloor).toSeq.sorted
    if (stranded.nonEmpty)
      throw new IllegalStateException(
        s"$op would raise the as-of floor to $newFloor, stranding tag(s) " +
          stranded.map { case (n, p) => s"'$n'@$p" }.mkString(", ") +
          " — drop them first or retain past them")
  }

  /** Range scan against a RANGE-bucketed snapshot — the reference target's
    * native access path (an HBase scan over a rowkey interval touches only
    * the covering regions; `Options.rangeBounds` recreates that property
    * on parquet). The covering bucket ids are pure driver arithmetic over
    * the persisted split points — no probe job — and the BETWEEN predicate
    * pushes into the pruned scan for row-group skipping. Works on both
    * storage modes (mor resolves after pruning: a key's versions share its
    * bucket). */
  def rangeLookup(spark: SparkSession, targetDir: String, lo: Long, hi: Long): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    openTarget(target.getFileSystem(hconf), target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    val bounds = meta.rangeBounds.getOrElse(
      throw new IllegalStateException(
        s"$targetDir is hash-bucketed — range scans need a rangeBounds layout"))
    val pkCols = meta.pkCols.getOrElse(
      throw new IllegalStateException(s"no persisted key columns at $targetDir"))
    val keyCol = meta.bucketCols.getOrElse(pkCols).head
    if (hi < lo) return liveRead(spark, Some(meta), targetDir, Nil)
    // covering buckets: pure arithmetic over the persisted split points
    val buckets = (bounds.count(_ <= lo) to bounds.count(_ <= hi)).map(Int.box)
    liveRead(spark, Some(meta), targetDir, Seq(targetDir), below = _
      .filter(col(BUCKET).isin(buckets: _*))
      .filter(col(keyCol) >= lo && col(keyCol) <= hi))
  }

  /** Change-data feed FROM a merge-on-read target: reconstruct the CDC
    * envelope (op, next_position, before, after) for every change with
    * position > `fromPos`, straight from the delta files — a MOR table IS
    * its own binlog between compactions (public design point: Delta Lake's
    * Change Data Feed / Hudi incremental queries). Before-images come from
    * each key's previous version via a per-key lag over the version chain;
    * only the touched keys' versions are read (semi-join), so the feed's
    * cost is the changed data. Downstream consumers replay it through
    * [[applyBatch]] like any source feed — replication without tapping the
    * original source. `fromPos` at or below the collapsed watermark is
    * refused: those transitions' before-images are gone. */
  /** (covered buckets, all buckets) for a change feed from `fromPos` —
    * the pruning arithmetic, exposed as a seam for the plan-shape tests. */
  private[graft] def changeFeedBuckets(
      spark: SparkSession, targetDir: String, fromPos: Long): (Seq[Int], Seq[Int]) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val all = bucketIds(target.getFileSystem(hconf), target)
    val marks = TargetMeta.read(hconf, target).flatMap(_.bucketMaxPos)
      .getOrElse(Map.empty[Int, Long])
    (all.filter(b => marks.get(b).forall(_ > fromPos)), all)
  }

  def changeFeed(spark: SparkSession, targetDir: String, fromPos: Long): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    openTarget(target.getFileSystem(hconf), target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    requireHistory(meta, targetDir, fromPos, "the change feed")
    val pkCols = meta.pkCols.getOrElse(
      throw new IllegalStateException(s"mor layout at $targetDir has no persisted PK"))
    // bucket pruning off the per-bucket high-water marks: a bucket whose
    // mark is at or below the cursor holds no acknowledged change past it,
    // and a touched key's OLDER versions live in the same bucket (bucketing
    // is by key), so the pruned read is complete for both the touched-key
    // scan and the version chains. Missing mark => read the bucket.
    val (covered, all) = changeFeedBuckets(spark, targetDir, fromPos)
    val raw =
      if (covered.size == all.size)
        readStored(spark, Some(meta), Seq(targetDir))
      else {
        // empty covered set still plans one bucket: the POS filter yields
        // the (correct) empty feed without special-casing the schema
        val read = if (covered.nonEmpty) covered else all.take(1)
        readStored(spark, Some(meta),
          read.map(b => s"$targetDir/$BUCKET=$b"), Some(targetDir))
      }
    // envelope image structs serve LOGICAL field names (q258) — the feed's
    // consumers replay into applyBatch, whose write-side translation maps
    // them back; a consumer seeing physical names would desync on rename
    val droppedCF = meta.drops.getOrElse(Seq.empty).toSet
    val dataCols = raw.columns
      .filterNot(c => c == POS || c == DEL || c == BUCKET || droppedCF(c)).toSeq
    val logicalOf: String => String = c => logicalName(Some(meta), c)
    // Touched-key DISCOVERY rides the q250 file statistics: a delta file
    // whose max position is at or below the cursor cannot hold a
    // qualifying row (every key touched past the cursor has its
    // qualifying VERSION in some newer file), so discovery reads only the
    // new files — an incremental consumer's discovery cost is the new
    // data, not the bucket's retained history. The VERSION-CHAIN read
    // below stays full-bucket on purpose: before-images live in OLDER
    // files of the same keys. Files without stats are always read.
    val fs2 = target.getFileSystem(hconf)
    val perBucketNew = covered.map(b =>
      FileStats.selectBucketFiles(fs2, new Path(target, s"$BUCKET=$b"),
        Seq(org.apache.spark.sql.sources.GreaterThan(POS, fromPos))))
    val newFiles = perBucketNew.flatMap(_._1).map(_.getPath.toString)
    val discovery =
      if (newFiles.isEmpty) raw.filter(lit(false))
      else if (newFiles.size == perBucketNew.map(_._2).sum)
        raw // nothing skips — reuse the chain read's scan, no second job
      else readStored(spark, Some(meta), newFiles, Some(targetDir))
    val touched = discovery.filter(col(POS) > fromPos)
      .select(pkCols.map(col): _*).distinct()
    val versions = raw.join(touched, pkCols, "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pkCols.map(col): _*).orderBy(col(POS))
    val img = struct(dataCols.map(c => col(c).as(logicalOf(c))): _*)
    versions
      .withColumn("_prev", lag(struct(img.as("img"), col(DEL).as("del")), 1).over(w))
      .filter(col(POS) > fromPos)
      .select(
        when(col(DEL), "delete")
          .when(col("_prev").isNull || col("_prev.del"), "insert")
          .otherwise("update").as("op"),
        col(POS).as("next_position"),
        // deletes always carry a before (the tombstone row itself holds the
        // key when no prior version is retained); inserts carry none
        when(col(DEL), coalesce(col("_prev.img"), img))
          .otherwise(when(col("_prev").isNotNull && !col("_prev.del"), col("_prev.img")))
          .as("before"),
        when(!col(DEL), img).as("after"))
  }

  /** Compact a merge-on-read target: every bucket collapses to its
    * latest-per-key resolution (tombstones KEPT — they are the replay
    * guard until [[compact]]'s horizon advances past them), published
    * through the same crash-safe per-bucket swap as the copy-on-write
    * path. Readers before/after see identical state; the delta files and
    * their window cost are gone. */
  def compactMor(spark: SparkSession, targetDir: String): Seq[Int] =
    withCommitTicketRecorded(spark, targetDir, (r: Seq[Int]) => Some(r))(
      compactMorInner(spark, targetDir))

  private def compactMorInner(spark: SparkSession, targetDir: String): Seq[Int] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    if (!meta.storage.contains("mor"))
      throw new IllegalStateException(s"$targetDir is not a mor layout")
    val pkCols = meta.pkCols.getOrElse(
      throw new IllegalStateException(s"mor layout at $targetDir has no persisted PK"))
    val buckets = bucketIds(fs, target)
    if (buckets.isEmpty) return Seq.empty
    val raw = readStored(spark, Some(meta), Seq(targetDir))
    // the as-of floor: every position at or below this loses its history
    val maxPos = raw.agg(max(col(POS))).collect()(0).getLong(0)
    // tags pin history (q256): refuse rather than strand a named ref
    requireTagsAnswerable(meta, maxPos, "compactMor")
    val resolved = resolveOnRead(raw, pkCols)
    val tmp = new Path(targetDir + ".tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // q276: the compacted image is ONE version per key — write each bucket
    // sorted (the same one-task-per-bucket bound as every per-bucket path)
    // so the post-compaction table can report ordering and serve
    // resolve-free streaming reads until the next delta lands
    val sortCols = sortColsOf(meta.bucketCols.getOrElse(pkCols), pkCols)
    writeSorted(resolved, sortCols, buckets, tmp.toString)
    // Floor BEFORE the bucket publish: a crash in between leaves intact
    // history with a floor that refuses as-of reads of it — safe-
    // conservative. The reverse order would leave collapsed data with a
    // stale floor, silently answering pre-compaction positions with the
    // collapsed (wrong) history.
    TargetMeta.write(hconf, target, meta.copy(
      collapsed = Some(math.max(maxPos, meta.collapsed.getOrElse(Long.MinValue)))))
    publishBuckets(fs, target, tmp, buckets)
    // `sorted` lands strictly AFTER the publish: on a MOR layout the flag
    // asserts BOTH file order and one-version-per-key (the resolve-free
    // read's licence, q276) — claiming it before every bucket swapped
    // would let a reader stream a still-multi-version bucket unresolved.
    // A crash in between leaves a compacted, unclaimed table — only a
    // Sort + resolve window is lost, never correctness.
    TargetMeta.read(hconf, target).foreach(m =>
      TargetMeta.write(hconf, target, m.copy(sorted = Some(sortCols))))
    spark.catalog.refreshByPath(targetDir)
    buckets
  }

  /** VACUUM with a retention window — the partial-history form of
    * [[compactMor]] (public design point: Delta's VACUUM + log retention,
    * Iceberg's `expire_snapshots`): versions strictly below
    * `retainFromPos` collapse to ONE latest-per-key image (tombstones
    * kept — the [[compactMor]] replay-guard rule), versions at/above it
    * survive as deltas, so [[snapshotAsOf]] stays answerable for every
    * position inside the retention window while the pre-window history's
    * storage and read-side window cost are reclaimed. [[compactMor]] is
    * the retainFromPos = +inf special case. The new as-of floor is the
    * max collapsed position; current-state reads are bit-identical
    * before/after (the collapsed image keeps each winner's own pos/del).
    * Rides the same crash-safe per-bucket swap; a no-op (nothing below
    * the window) touches nothing. */
  def vacuumMor(spark: SparkSession, targetDir: String, retainFromPos: Long): Seq[Int] =
    withCommitTicketRecorded(spark, targetDir, (r: Seq[Int]) => Some(r))(
      vacuumMorInner(spark, targetDir, retainFromPos))

  private def vacuumMorInner(
      spark: SparkSession, targetDir: String, retainFromPos: Long): Seq[Int] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    if (!meta.storage.contains("mor"))
      throw new IllegalStateException(s"$targetDir is not a mor layout")
    val pkCols = meta.pkCols.getOrElse(
      throw new IllegalStateException(s"mor layout at $targetDir has no persisted PK"))
    val buckets = bucketIds(fs, target)
    if (buckets.isEmpty) return Seq.empty
    val raw = readStored(spark, Some(meta), Seq(targetDir))
    val old = raw.filter(col(POS) < retainFromPos)
    val oldMaxRow = old.agg(max(col(POS))).collect()(0)
    if (oldMaxRow.isNullAt(0)) return Seq.empty // nothing below the window
    val oldMax = oldMaxRow.getLong(0)
    // tags pin history (q256): refuse rather than strand a named ref
    requireTagsAnswerable(meta, oldMax, "vacuumMor")
    val merged = resolveOnRead(old, pkCols)
      .unionByName(raw.filter(col(POS) >= retainFromPos))
    val tmp = new Path(targetDir + ".tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    merged.write.partitionBy(BUCKET).mode("overwrite").parquet(tmp.toString)
    // floor before publish — same crash-ordering rule as [[compactMor]].
    // `sorted` clears (q276): the retained window keeps MULTIPLE versions
    // per key and this rewrite is unsorted — a stale claim would license a
    // resolve-free read over multi-version buckets.
    TargetMeta.write(hconf, target, meta.copy(
      collapsed = Some(math.max(oldMax, meta.collapsed.getOrElse(Long.MinValue))),
      sorted = None))
    publishBuckets(fs, target, tmp, buckets)
    spark.catalog.refreshByPath(targetDir)
    buckets
  }

  /** Point lookup against the bucketed snapshot — the replica's analog of
    * the key-value store `Get` the reference replicates INTO HBase for
    * (HbaseApplier serves row-key gets; here the PK-hash layout serves the
    * same read). The lookup keys' buckets are computed with the layout's
    * own hash (same `pmod(hash(pk), numBuckets)` the writer used, modulus
    * from the persisted `.graft_meta` truth) and turned into a LITERAL
    * `graft_bucket IN (...)` predicate, so Spark's partition pruning reads
    * ONLY those bucket directories — at 100 TB with thousands of buckets a
    * k-key lookup touches ≤k directories, never the table. Within the
    * pruned buckets every PK column additionally pushes a literal
    * `pk IN (...)` into the parquet scan (row-group stats pruning). For a
    * composite PK the conjunction of per-column IN-lists is a SUPERSET of
    * the key tuples (the cross product), so it is safe to push — the
    * authoritative exact tuple match is the broadcast semi-join below,
    * which holds for any PK arity.
    *
    * `keys` carries one row per lookup key (the PK columns, writer-typed).
    * Point-lookup batches are driver-bounded BY CONTRACT (a `Get` batch is
    * a handful of keys, not a table — for table-sized probes use a join
    * against [[snapshot]]); the two collects here are that bounded key set,
    * mirroring the `touched`-buckets collect in [[applyBatch]]. */
  def pointLookup(spark: SparkSession, targetDir: String, keys: DataFrame): DataFrame = {
    val target = new Path(targetDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    openTarget(target.getFileSystem(hconf), target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    val numBuckets = meta.numBuckets
    // Hash in the layout's persisted column order — the caller's key-frame
    // column order must not change which bucket a key lands in.
    val pkCols = meta.pkCols.getOrElse(keys.columns.toSeq)
    val bucketCols = meta.bucketCols.getOrElse(pkCols)
    // Full-key lookup (the `Get`) or bucket-prefix lookup (the rowkey
    // prefix SCAN — only for layouts bucketed on a PK prefix, where the
    // prefix alone still determines the bucket).
    val lookupCols =
      if (pkCols.toSet == keys.columns.toSet) pkCols
      else if (bucketCols.toSet == keys.columns.toSet) bucketCols
      else throw new IllegalArgumentException(
        s"lookup keys (${keys.columns.mkString(",")}) must be the target PK " +
          s"(${pkCols.mkString(",")}) or its bucket prefix (${bucketCols.mkString(",")})")
    val buckets = keys
      .select(bucketExpr(bucketCols, numBuckets, meta.rangeBounds).as(BUCKET))
      .distinct().collect().map(_.getInt(0)).sorted
    if (buckets.isEmpty) return liveRead(spark, Some(meta), targetDir, Nil)
    // One bounded collect of the distinct key tuples feeds every column's
    // IN-list (contract-bounded like the bucket collect above).
    val keyRows = keys.select(lookupCols.map(col): _*).distinct().collect()
    // File-level skipping inside the covered buckets (q250): the per-column
    // key IN-lists are PK-referencing, so they are skip-safe on BOTH
    // storage modes (all of a key's versions agree on its PK) — a lookup
    // into a bucket with a long file history opens only the files whose
    // key ranges can hold the probed keys. Unknown files are always read;
    // when nothing skips, the ordinary bucket-directory read keeps its plan.
    val fsL = target.getFileSystem(hconf)
    val inFilters: Seq[org.apache.spark.sql.sources.Filter] =
      lookupCols.zipWithIndex.map { case (pk, i) =>
        org.apache.spark.sql.sources.In(pk, keyRows.map(_.get(i)).distinct)
      }
    val perBucket = buckets.map(b => FileStats.selectBucketFiles(
      fsL, new Path(target, s"$BUCKET=$b"), inFilters))
    val keptFiles = perBucket.flatMap(_._1).map(_.getPath.toString)
    val fileSkipped = keptFiles.size < perBucket.map(_._2).sum
    // all versions of a key share its bucket and key values, so the
    // pruning and the semi-join below keep them together: version-bearing
    // layouts resolve only the matched rows
    liveRead(spark, Some(meta), targetDir,
      if (fileSkipped) keptFiles.toIndexedSeq else Seq(targetDir), below = { df =>
        val pruned =
          if (fileSkipped) df else df.filter(col(BUCKET).isin(buckets.map(Int.box): _*))
        lookupCols.zipWithIndex.foldLeft(pruned) { case (d, (pk, i)) =>
          d.filter(col(pk).isin(keyRows.map(_.get(i)).distinct: _*))
        }.join(broadcast(keys), lookupCols, "left_semi")
      })
  }

  /** [[snapshot]] for callers that must distinguish "this target was never
    * bootstrapped" (no bucket dirs AND no persisted `.graft_meta` schema —
    * a valid, consistently-absent table) from a real read failure. Only the
    * no-state condition maps to None; IO errors, corrupt buckets, and every
    * other exception PROPAGATE — conflating them would let a reader treat
    * a failing table as an absent one (see Epoch.consistentSnapshot). */
  def snapshotIfBootstrapped(spark: SparkSession, targetDir: String): Option[DataFrame] = {
    val target = new Path(targetDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = target.getFileSystem(hconf)
    openTarget(fs, target)
    val hasState = bucketIds(fs, target).nonEmpty ||
      TargetMeta.read(hconf, target).exists(_.schemaJson.isDefined)
    if (hasState) Some(snapshot(spark, targetDir)) else None
  }

  private[graft] def bucketIds(fs: FileSystem, dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toIndexedSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$BUCKET="))
      .map(_.stripPrefix(s"$BUCKET=").toInt)
      .sorted

  /** End-to-end incremental batch apply against a bucketed parquet target:
    * resolve → bucket → merge only touched buckets → per-bucket atomic swap.
    * Returns the touched bucket ids so downstream sinks can replicate
    * incrementally. */
  def applyBatch(
      spark: SparkSession, changes: DataFrame, targetDir: String, opts: Options): Seq[Int] =
    withCommitTicketRecorded(spark, targetDir, (r: Seq[Int]) => Some(r))(
      applyBatchInner(spark, changes, targetDir, opts))

  private def applyBatchInner(
      spark: SparkSession, changes: DataFrame, targetDir: String, opts: Options): Seq[Int] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target) // a crashed rebucket's .bak may hold the data

    // The on-disk modulus is the layout's truth: a run configured with a
    // different numBuckets would hash keys into bucket dirs the existing
    // rows are not in (silent duplicates), so the persisted value wins.
    val meta = TargetMeta.read(hconf, target)
    // A mor layout holds MULTIPLE versions per key; the copy-on-write merge
    // joins "current" assuming one — run compactMor + re-bootstrap, or keep
    // applying through applyBatchMor.
    meta.foreach { m =>
      if (m.storage.contains("mor"))
        throw new IllegalStateException(
          s"$targetDir is a merge-on-read layout; use applyBatchMor")
    }
    val horizon = meta.map(_.horizon).getOrElse(Long.MinValue)
    // Like numBuckets, the persisted PK hash ORDER is the layout's truth —
    // hash(a,b) != hash(b,a), so a run configured with the same columns in
    // a different order would bucket keys away from their existing rows.
    val pkOrder = meta.flatMap(_.pkCols).getOrElse(opts.pkCols)
    if (pkOrder.toSet != opts.pkCols.toSet)
      throw new IllegalStateException(
        s"PK drift: target layout is keyed by ${pkOrder.mkString(",")}, " +
          s"caller configured ${opts.pkCols.mkString(",")}")
    // Same adopt-the-layout rule for the bucket columns / range bounds.
    val (bucketOrder, rangeBounds, numBuckets) = resolveLayout(meta, opts, pkOrder)

    // Events at or below the compaction horizon are already applied and
    // their tombstones may be gone — discard instead of merging (a stale
    // upsert below the horizon must not resurrect a compacted delete).
    // write-side column mapping (q258): logical envelope names → physical.
    val inHorizon = resolveBatch(delogicalizeChanges(changes, meta), opts)
    val resolved = (if (horizon == Long.MinValue) inHorizon
                    else inHorizon.filter(col(POS) > horizon))
      .withColumn(BUCKET, bucketExpr(bucketOrder, numBuckets, rangeBounds))
      .persist()
    try {
      // Small driver-side action: at most numBuckets values.
      val touched = resolved.select(BUCKET).distinct().collect().map(_.getInt(0)).sorted
      if (touched.isEmpty) return Seq.empty

      // Crash recovery BEFORE reading state: restore any bucket whose swap
      // was interrupted (live missing, .bak holding the data), and drop
      // leftovers of completed swaps. Also treat a target with no bucket
      // dirs (crash between mkdirs and the first publish) as empty instead
      // of letting the parquet reader fail on it forever.
      val hasState = fs.exists(target) && {
        recoverBuckets(fs, target)
        fs.listStatus(target).exists(_.getPath.getName.startsWith(s"$BUCKET="))
      }
      val stored =
        if (hasState) Some(readStored(spark, meta, Seq(targetDir)))
        else None
      stored.foreach(s =>
        checkSchemaDrift(s.schema, resolved.schema, opts.pkCols, allowWidening = true,
          dropped = meta.flatMap(_.drops).getOrElse(Seq.empty).toSet))

      // Additive evolution (S4): new non-key incoming columns surface as
      // NULL on stored rows. Schema changes are table-wide, so ALL buckets
      // are rewritten in that (rare, DDL-driven) batch — a partial rewrite
      // would leave mixed per-bucket schemas.
      val newFields = stored.toSeq.flatMap { s =>
        val have = s.columns.toSet
        resolved.schema.fields.filterNot(f => have(f.name) || f.name == KIND)
      }
      // Type-widening evolution (S4/q253, the other lossless DDL): a
      // stored non-key column retyped WIDER upstream (int→bigint,
      // float→double, decimal precision growth) rewrites the table at the
      // widened type — same table-wide discipline as the additive path.
      // The REVERSE mismatch (incoming narrower than stored — an
      // old-schema batch replayed after the widen) upcasts the batch
      // instead: replay convergence must survive a widen.
      val storedTypes = stored.map(_.schema.fields.map(f => f.name -> f.dataType).toMap)
        .getOrElse(Map.empty)
      val widened = resolved.schema.fields.filter(f =>
        storedTypes.get(f.name).exists(t =>
          t != f.dataType && canWiden(t, f.dataType)))
      val upcastIncoming = resolved.schema.fields.filter(f =>
        storedTypes.get(f.name).exists(t =>
          t != f.dataType && canWiden(f.dataType, t)))
      val resolvedWide = upcastIncoming.foldLeft(resolved)(
        (df, f) => df.withColumn(f.name, col(f.name).cast(storedTypes(f.name))))
      val rewrite =
        if (newFields.nonEmpty || widened.nonEmpty)
          (bucketIds(fs, target) ++ touched).distinct.sorted
        else touched.toIndexedSeq
      val current = stored match {
        case Some(s) =>
          val base = widened.foldLeft(
            s.filter(col(BUCKET).isin(rewrite.map(Int.box): _*)))(
            (df, f) => df.withColumn(f.name, col(f.name).cast(f.dataType)))
          newFields.foldLeft(base)(
            (df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
        case None =>
          val schema = StructType(
            resolved.schema.fields.filterNot(f => f.name == KIND || f.name == POS || f.name == BUCKET))
            .add(POS, LongType).add(DEL, BooleanType).add(BUCKET, "int")
          // LocalRelation, not an empty RDD: PropagateEmptyRelation can
          // PROVE a LocalRelation empty and deletes the bootstrap merge's
          // full-outer join (+ its exchange and sort) outright; a
          // LogicalRDD is opaque and every first batch paid a real SMJ
          // against a provably empty side (optimization r15, guide §2.4)
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      }

      // q275: outstanding deletion vectors make `current` multi-version
      // (masked row + its tombstone) — the merge's full-outer join assumes
      // one row per key, so resolve first; the rewrite FOLDS the touched
      // buckets' vectors in passing. The gate is the meta `dv` flag OR
      // on-disk evidence: applyBatchDv publishes its tombstone renames
      // strictly BEFORE the flag (the stale-LOW discipline), so in that
      // documented crash window dv-* files are visible with the flag
      // absent — trusting the flag alone would feed merge a
      // two-rows-per-key `current` and duplicate rows into the rewrite.
      // Cost of the evidence check: one driver-side listing per rewritten
      // bucket, dwarfed by the rewrite itself.
      val dvOnDisk = meta.exists(_.dv.exists(_ > 0)) ||
        (meta.isDefined && rewrite.exists { b =>
          val d = new Path(target, s"$BUCKET=$b")
          fs.exists(d) &&
            fs.listStatus(d).exists(_.getPath.getName.startsWith("dv-"))
        })
      val currentFolded =
        if (dvOnDisk) resolveOnRead(current, pkOrder)
        else current
      val merged = merge(currentFolded, resolvedWide, opts)
      // q262: a fresh layout (and any evolution, which rewrites EVERY
      // bucket) publishes its buckets sorted and records that in meta; an
      // existing sorted layout is maintained (every rewrite path here
      // writes sorted); a pre-upgrade unsorted layout stays unmarked until
      // a whole-table rewrite (evolution/rebucket) upgrades it.
      val sortCols = sortColsOf(bucketOrder, pkOrder)
      val wholeTable = meta.isEmpty || newFields.nonEmpty || widened.nonEmpty
      // Publish the layout metadata BEFORE the first bucket publish (a
      // crash in between leaves meta + no buckets, which bootstraps fine),
      // refreshing the persisted schema on creation and on evolution so a
      // fully-compacted target can still be read as a typed empty table.
      if (meta.isEmpty || newFields.nonEmpty || widened.nonEmpty ||
          meta.exists(m => m.schemaJson.isEmpty || m.pkCols.isEmpty))
        // COPY the existing meta (never rebuild from scratch): a rebuild
        // here silently wiped tags/renames/drops on the first evolving
        // batch after any of them landed — a dropped column would
        // resurrect with its stale bytes, a tag or rename would vanish
        TargetMeta.write(hconf, target,
          meta.getOrElse(TargetMeta(numBuckets, horizon)).copy(
            numBuckets = numBuckets, horizon = horizon,
            schemaJson = Some(merged.schema.json), pkCols = Some(pkOrder),
            bucketCols = if (bucketOrder == pkOrder) None else Some(bucketOrder),
            rangeBounds = rangeBounds,
            sorted = if (wholeTable) Some(sortCols)
                     else meta.flatMap(_.sorted)))

      val tmp = new Path(targetDir + ".tmp")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      writeSorted(merged, sortCols, rewrite, tmp.toString)

      publishBuckets(fs, target, tmp, rewrite)
      // q262 honesty: this publish wrote its buckets in PK-sort order. If a
      // clusterBy optimize had recorded a DIFFERENT order, the table now
      // holds mixed per-bucket orders — no single truth to report — so the
      // flag degrades (Delta's OPTIMIZE-ZORDER-degrades-on-write behavior);
      // the next clustered optimize re-establishes it.
      if (!wholeTable)
        TargetMeta.read(hconf, target)
          .filter(m => m.sorted.exists(_ != sortCols)).foreach(m =>
            TargetMeta.write(hconf, target, m.copy(sorted = None)))
      // q275: the rewritten buckets folded their deletion vectors; when no
      // OTHER bucket still holds a dv- file, the flag clears and readers
      // stop paying the resolve window. One bounded listing per untouched
      // bucket — exact, not the conservative count.
      if (meta.exists(_.dv.exists(_ > 0))) {
        val untouched = bucketIds(fs, target).filterNot(rewrite.toSet)
        val anyVectors = untouched.exists(b =>
          fs.listStatus(new Path(target, s"$BUCKET=$b"))
            .exists(_.getPath.getName.startsWith("dv-")))
        if (!anyVectors)
          TargetMeta.read(hconf, target).foreach(m =>
            TargetMeta.write(hconf, target, m.copy(dv = None)))
      }
      // Invalidate cached file listings/plans over this path (mapped views
      // resolve per query; without this they can see swapped-away files).
      spark.catalog.refreshByPath(targetDir)
      // q283: registered secondary indexes maintain from the same envelope,
      // strictly after the store publish
      IndexLifecycle.maintain(spark, changes, targetDir)
      rewrite.toSeq
    } finally resolved.unpersist()
  }

  /** Tombstone compaction: drop tombstones whose position is at or below
    * `horizonPos` — the caller's replay horizon, a position at or below
    * which the source can no longer redeliver events — then advance the
    * persisted horizon so an event somehow replayed from below it is
    * discarded by [[applyBatch]] instead of resurrecting a compacted key.
    * The horizon advances FIRST: a crash in between leaves tombstones
    * intact with the guard already active, never the reverse. Only buckets
    * actually holding compactable tombstones are rewritten, through the
    * same crash-safe publish as the merge. */
  def compact(spark: SparkSession, targetDir: String, horizonPos: Long): Seq[Int] =
    withCommitTicket(spark, targetDir)(compactInner(spark, targetDir, horizonPos))

  private def compactInner(
      spark: SparkSession, targetDir: String, horizonPos: Long): Seq[Int] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft target metadata at $targetDir"))
    // A mor layout must collapse to one version per key FIRST: dropping a
    // tombstone while an older superseded upsert still sits in a delta
    // file would let resolve-on-read resurrect the dead row.
    if (meta.storage.contains("mor")) compactMorInner(spark, targetDir)
    // re-read: compactMor may have advanced the collapsed watermark, which
    // a write from the stale copy would silently revert
    val metaNow = TargetMeta.read(hconf, target).getOrElse(meta)
    TargetMeta.write(hconf, target,
      metaNow.copy(horizon = math.max(metaNow.horizon, horizonPos)))

    recoverBuckets(fs, target)
    // a fully-compacted target has no bucket dirs — nothing left to drop
    if (bucketIds(fs, target).isEmpty) return Seq.empty
    val all = readStored(spark, Some(metaNow), Seq(targetDir))
    val compactable = col(DEL) && col(POS) <= horizonPos
    // q275: compaction FOLDS outstanding deletion vectors — every bucket
    // still holding a dv- file resolves latest-per-key (the masked rows
    // drop, the vectors become ordinary tombstones subject to the horizon)
    // and rewrites; dropping a vector-tombstone WITHOUT the resolve would
    // resurrect its masked row, so the fold and the tombstone drop are one
    // rewrite, never two.
    val dvOutstanding = metaNow.dv.exists(_ > 0)
    val dvBuckets =
      if (!dvOutstanding) Seq.empty
      else bucketIds(fs, target).filter(b =>
        fs.listStatus(new Path(target, s"$BUCKET=$b"))
          .exists(_.getPath.getName.startsWith("dv-")))
    val tombTouched = all.filter(compactable)
      .select(BUCKET).distinct().collect().map(_.getInt(0)).toSeq
    val touched = (tombTouched ++ dvBuckets).distinct.sorted.toIndexedSeq
    if (touched.isEmpty) {
      // flagged but nothing on disk (all folded by later rewrites): clear
      if (dvOutstanding)
        TargetMeta.read(hconf, target).foreach(m =>
          TargetMeta.write(hconf, target, m.copy(dv = None)))
      return Seq.empty
    }

    val tmp = new Path(targetDir + ".compact.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val selected = all.filter(col(BUCKET).isin(touched.map(Int.box): _*))
    val resolved =
      if (dvOutstanding)
        resolveOnRead(selected, metaNow.pkCols.getOrElse(
          throw new IllegalStateException(
            s"dv-bearing layout at $targetDir has no persisted PK")))
      else selected
    val survivors = resolved.filter(!compactable)
    // q262: maintain the layout's recorded file order through the rewrite
    metaNow.sorted match {
      case Some(sc) => writeSorted(survivors, sc, touched, tmp.toString)
      case None =>
        survivors.write.partitionBy(BUCKET).mode("overwrite").parquet(tmp.toString)
    }
    publishBuckets(fs, target, tmp, touched)
    // every dv-bearing bucket was rewritten — the flag clears (fresh read:
    // publishBuckets ran under this op's ticket)
    if (dvOutstanding)
      TargetMeta.read(hconf, target).foreach(m =>
        TargetMeta.write(hconf, target, m.copy(dv = None)))
    spark.catalog.refreshByPath(targetDir)
    touched
  }

  /** Small-file bin-packing compaction (the lake formats' OPTIMIZE;
    * public design point: Delta Lake OPTIMIZE / Hudi clustering) — bound
    * file-count growth in a long-running target WITHOUT touching state.
    * Copy-on-write buckets are rewritten whole per batch but by however
    * many shuffle tasks held their rows (a bucket can carry one file per
    * task); merge-on-read buckets definitely accumulate one delta file
    * set per batch between [[compactMor]] runs. Either way readers pay
    * per-file open/footer costs that grow without bound at 100 TB.
    *
    * For each bucket whose file count exceeds its bin-packed target
    * (ceil(bytes / targetFileBytes)), the bucket is rewritten into that
    * many files and published through the same crash-safe per-bucket swap
    * as every other maintainer. State is IDENTICAL before and after —
    * every row, version, and tombstone is carried verbatim (collapsing
    * versions is [[compactMor]]'s job, dropping tombstones is
    * [[compact]]'s; this op only re-bins bytes, so it is safe at ANY
    * point in either storage mode's lifecycle). File-count targets are
    * driver arithmetic over one bounded listing (buckets x files);
    * the rewrite reads ONLY the oversized buckets, salts rows into their
    * per-bucket bin count (`pmod(hash(_graft_pos), bins)` — POS exists in
    * every layout), and one repartition by (bucket, salt) writes each
    * bucket in ~its target file count. Returns the optimized bucket ids. */
  def optimize(spark: SparkSession, targetDir: String,
      targetFileBytes: Long = 128L << 20, clusterBy: Seq[String] = Seq.empty): Seq[Int] =
    optimizeStaged(spark, targetDir, targetFileBytes, clusterBy, () => ())

  /** [[optimize]] body — OPTIMISTIC under the fence (q267; public design
    * point: Delta's disjoint-commit conflict checker). The expensive
    * rewrite is STAGED with no ticket held (into a tokenized tree no other
    * writer's staging reclaim matches), then the ticket is claimed for the
    * cheap publish window only. If other commits landed while staging, the
    * staged rewrite still publishes iff every one of them RECORDED a
    * touched-bucket set disjoint from ours (their stamps, q265's done
    * markers) — the loser rebase-validates and publishes without redoing
    * the data work; any overlap, or an unrecorded (conservative) commit,
    * discards the staging with the typed conflict. Before q267 a data
    * publish had to WAIT out the entire optimize (the fence serialized the
    * rewrite's full duration); now it waits only for the publish window.
    * `midStage` is the test seam: runs after staging, before the claim —
    * the exact window the rebase check covers. */
  private[graft] def optimizeStaged(spark: SparkSession, targetDir: String,
      targetFileBytes: Long, clusterBy: Seq[String], midStage: () => Unit): Seq[Int] = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    // read-only heal ONLY: openTargetForWrite's staging reclaim assumes the
    // ticket is held, and this phase deliberately is not — a concurrent
    // fenced publisher may be mid-write in its own staging tree
    openTarget(fs, target)
    // Reclaim leftovers of PREVIOUS crashed optimizes. Deliberately only
    // HERE (not in openTargetForWrite): a fenced data publisher reclaiming
    // these trees would delete a LIVE optimize's unfenced staging on every
    // race — killing the optimistic protocol's liveness under continuous
    // ingest. The trade-off: a crashed optimize's tree leaks until the
    // next optimize on the table, and a SECOND optimize racing a live one
    // steals its staging — which the pre-publish staging-integrity check
    // below turns into a loud typed conflict, never silent data loss
    // (single-optimizer-per-table is the operating contract, as for every
    // maintenance op).
    if (fs.exists(target.getParent))
      fs.listStatus(target.getParent)
        .filter(_.getPath.getName.startsWith(target.getName + ".optimize-"))
        .foreach(s => fs.delete(s.getPath, true))
    val seq0 = commitSeq(fs, target)
    val buckets = bucketIds(fs, target)
    val metaPre = TargetMeta.read(hconf, target)
    // bounded driver listing: (bucket, fileCount, bytes) per bucket dir
    val stats = buckets.map { b =>
      val files = fs.listStatus(new Path(target, s"$BUCKET=$b"))
        .filterNot(f => f.getPath.getName.startsWith("_") ||
          f.getPath.getName.startsWith("."))
      (b, files.length, files.map(_.getLen).sum)
    }
    val token = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val tmp = new Path(targetDir + s".optimize-$token.tmp")

    // ---- stage (no ticket) ------------------------------------------------
    // Clustered rewrite (Delta's OPTIMIZE ZORDER BY, linear form): lay each
    // bucket's rows out in `clusterBy` order so every file covers a NARROW
    // value interval — the layout that makes the q250 per-file min/max
    // statistics tight enough to skip on non-key predicates, and (q262) the
    // sorted-file property the scan reports. One
    // `repartitionByRange(BUCKET, clusterBy...)` + in-partition sort: a
    // range task holds a contiguous (bucket, cluster) slice, so each
    // written file is a contiguous cluster interval of its bucket. Every
    // populated bucket rewrites (clustering is the point, not bin-packing);
    // state is carried verbatim, exactly as the bin-packing leg.
    var clusterPhysOpt: Option[Seq[String]] = None
    val touched: Seq[Int] =
      if (buckets.isEmpty) Seq.empty
      else if (clusterBy.nonEmpty) {
        // callers name columns LOGICALLY (q258); the files are physical
        val clusterPhys = clusterBy.map(physicalName(metaPre, _))
        val schemaCols = metaPre.flatMap(_.schemaJson).map(j =>
          org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType].fieldNames.toSet)
        schemaCols.foreach { have =>
          val missing = clusterPhys.filterNot(have)
          require(missing.isEmpty,
            s"clusterBy column(s) ${missing.mkString(",")} not in the table schema")
        }
        val t = stats.collect { case (b, n, _) if n > 0 => b }.sorted
        if (t.nonEmpty) {
          clusterPhysOpt = Some(clusterPhys)
          val totalBins = stats.map { case (_, _, bytes) =>
            math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
          }.sum.toInt
          val orderCols = (col(BUCKET) +: clusterPhys.map(col)).toIndexedSeq
          readStored(spark, metaPre, Seq(targetDir))
            .repartitionByRange(math.max(1, totalBins), orderCols: _*)
            .sortWithinPartitions(orderCols: _*)
            .write.partitionBy(BUCKET).mode("overwrite").parquet(tmp.toString)
        }
        t
      } else {
        val plan = stats.flatMap { case (b, nFiles, bytes) =>
          val bins = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
          if (nFiles > bins) Some(b -> bins) else None
        }.toMap
        val t = plan.keys.toSeq.sorted
        if (t.nonEmpty) {
          val oversized = readStored(spark, metaPre, Seq(targetDir))
            .filter(col(BUCKET).isin(t.map(Int.box): _*))
          metaPre.flatMap(_.sorted) match {
            case Some(sc) =>
              // q262: a sorted layout bin-packs by RANGE, not salt — each
              // written file stays an internally-sorted, range-disjoint
              // slice of its bucket, so the scan keeps reporting the order
              val orderCols = (col(BUCKET) +: sc.map(col)).toIndexedSeq
              oversized
                .repartitionByRange(math.max(1, plan.values.sum), orderCols: _*)
                .sortWithinPartitions(orderCols: _*)
                .write.partitionBy(BUCKET).mode("overwrite").parquet(tmp.toString)
            case None =>
              // bin salt hashes the PK columns (when persisted) plus POS: a
              // freshly-bootstrapped bucket has ONE position for every row,
              // and a POS-only salt would collapse an oversized bucket into
              // a single oversized file instead of its bin-packed target
              val binOf = element_at(
                map(plan.toSeq.flatMap { case (b, n) => Seq(lit(b), lit(n)) }: _*),
                col(BUCKET))
              val saltCols =
                metaPre.flatMap(_.pkCols).getOrElse(Seq.empty).map(col) :+ col(POS)
              oversized
                .withColumn("_graft_bin", pmod(hash(saltCols: _*), binOf))
                .repartition(math.max(1, plan.values.sum), col(BUCKET), col("_graft_bin"))
                .drop("_graft_bin")
                .write.partitionBy(BUCKET).mode("overwrite").parquet(tmp.toString)
          }
        }
        t
      }
    midStage()

    // ---- claim + rebase-validate + publish (ticket held, short) ----------
    val seq =
      try claimCommit(fs, target)
      catch { case e: Throwable => fs.delete(tmp, true); throw e }
    try {
      if (touched.nonEmpty && seq != seq0 + 1) {
        val landed = commitStamps(spark, targetDir)
          .filter(s => s.seq > seq0 && s.seq < seq)
        val landedBuckets: Option[Seq[Int]] =
          if (landed.size != (seq - seq0 - 1) || landed.exists(_.buckets.isEmpty))
            None // an intervening commit did not record its touch set
          else Some(landed.flatMap(_.buckets.get))
        val overlap = landedBuckets.map(_.toSet.intersect(touched.toSet))
        if (overlap.forall(_.nonEmpty))
          throw new GraftConcurrentWriteException(
            s"optimize of $targetDir lost the ticket race to commit(s) " +
              s"${seq0 + 1}..${seq - 1} touching " +
              overlap.map(o => s"overlapping bucket(s) ${o.toSeq.sorted.mkString(",")}")
                .getOrElse("an unrecorded bucket set") +
              " — the staged rewrite is stale; re-run optimize")
      }
      if (touched.nonEmpty) {
        // State-preserving publish: a fresh dir missing for ANY planned
        // bucket means the staging tree was stolen (a second optimize's
        // startup reclaim raced this one). The refusal is enforced INSIDE
        // publishBuckets, atomic with each swap (requireAll) — a separate
        // pre-check here would leave a TOCTOU window in which the reclaim
        // lands between the check and the swaps and the publish silently
        // deletes live buckets.
        publishBuckets(fs, target, tmp, touched, requireAll = true)
        // the clustered rewrite re-establishes (or changes) the recorded
        // file order — persist it from a FRESH meta read under the ticket.
        // On MOR the flag must NOT be set (q276): there `sorted` asserts
        // one-version-per-key too (the resolve-free read's licence), and a
        // clustered rewrite carries the multi-version chain verbatim — it
        // clears any existing claim instead.
        clusterPhysOpt.foreach { cp =>
          TargetMeta.read(hconf, target).foreach(m =>
            TargetMeta.write(hconf, target, m.copy(
              sorted = if (m.storage.contains("mor")) None else Some(cp))))
        }
      }
    } catch {
      case e: Throwable =>
        fs.delete(tmp, true)
        fs.delete(claimPath(target, seq), false) // release without advancing
        throw e
    }
    finalizeCommit(spark, fs, target, seq, Some(touched))
    spark.catalog.refreshByPath(targetDir)
    touched
  }

  /** TRUE Z-ORDER clustering (q272; public design point: Delta's OPTIMIZE
    * ZORDER BY — the BIT-INTERLEAVED form, not q250's linear clusterBy):
    * lay each bucket's rows out along a Morton curve over 2+ columns so
    * every written file covers a narrow RECTANGLE of the value space — the
    * q250 per-file min/max statistics then skip on predicates over ANY of
    * the z-columns, where a linear sort only serves its leading column.
    *
    * Determinism contract: the caller supplies each column's split bounds
    * (15 sorted longs → a 4-bit cell id per column, the same
    * count-of-bounds-below arithmetic as range bucketing), so the z-value
    * is a pure projection — codegen'd shifts/ors, no sampling, no driver
    * pass — and a replay lays files out identically. Rows, versions, and
    * tombstones are carried verbatim (state identity is the gate's
    * oracle); `sorted` CLEARS in meta (a Morton order is not a column
    * order — reporting one would be a lie; re-establish with a clusterBy
    * optimize if a join wants sort-free merges). Published through the
    * same crash-safe per-bucket swap, fenced like every maintainer.
    * 100 TB: one bounded rewrite, amortized over every multi-column
    * predicate the table ever serves. */
  def zorder(spark: SparkSession, targetDir: String, cols: Seq[String],
      bounds: Seq[Seq[Long]], targetFileBytes: Long = 128L << 20): Seq[Int] =
    withCommitTicketRecorded(spark, targetDir, (r: Seq[Int]) => Some(r)) {
      require(cols.size >= 2 && cols.size <= 3,
        s"zorder interleaves 2-3 columns, got ${cols.size}")
      require(bounds.size == cols.size &&
        bounds.forall(b => b.nonEmpty && b.size <= 15),
        "zorder needs 1-15 sorted split bounds per column (up to a 4-bit " +
          "cell id; fewer bounds = coarser cells, e.g. a low-NDV column)")
      bounds.foreach(b => require(b == b.sorted && b.distinct == b,
        "zorder bounds must be sorted and distinct"))
      require(targetFileBytes > 0, "targetFileBytes must be positive")
      val hconf = spark.sparkContext.hadoopConfiguration
      val target = new Path(targetDir)
      val fs = target.getFileSystem(hconf)
      openTargetForWrite(fs, target)
      val meta = TargetMeta.read(hconf, target).getOrElse(
        throw new IllegalStateException(s"no graft table state at $targetDir"))
      // callers name columns LOGICALLY (q258); files are physical
      val physCols = cols.map(physicalName(Some(meta), _))
      val have = meta.schemaJson.map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[StructType].fieldNames.toSet).getOrElse(Set.empty)
      physCols.foreach(c => require(have.isEmpty || have(c),
        s"zorder column '$c' not in the table schema"))
      val buckets = bucketIds(fs, target)
      if (buckets.isEmpty) Seq.empty
      else {
        // 4-bit per-column cell id: count of bounds at or below the value
        // (NULLs land in cell 0 — they sort together, which is all a
        // skipping layout needs)
        def cellId(c: String, bs: Seq[Long]): Column =
          bs.foldLeft(lit(0))((acc, b) =>
            acc + when(col(c) >= b, 1).otherwise(0))
        // Morton interleave: bit j of column i's cell id lands at position
        // j * nCols + i — pure integer shifts and ors, codegen'd
        val n = physCols.size
        val zval = (0 until 4).flatMap { j =>
          physCols.zipWithIndex.map { case (c, i) =>
            shiftleft(shiftright(cellId(c, bounds(i)), j).bitwiseAND(lit(1)),
              j * n + i)
          }
        }.reduce((a, b) => a.bitwiseOR(b))
        val stats = buckets.map { b =>
          fs.listStatus(new Path(target, s"$BUCKET=$b"))
            .filterNot(f => f.getPath.getName.startsWith("_") ||
              f.getPath.getName.startsWith(".")).map(_.getLen).sum
        }
        val totalBins = math.max(1, stats.map(bytes =>
          math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)).sum.toInt)
        val tmp = new Path(targetDir + ".zorder.tmp")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        val orderCols = Seq(col(BUCKET), col("_graft_z"))
        readStored(spark, Some(meta), Seq(targetDir))
          .withColumn("_graft_z", zval)
          .repartitionByRange(totalBins, orderCols: _*)
          .sortWithinPartitions(orderCols: _*)
          .drop("_graft_z")
          .write.partitionBy(BUCKET).mode("overwrite").parquet(tmp.toString)
        // state-preserving: a missing staged bucket is theft, never "empty"
        publishBuckets(fs, target, tmp, buckets, requireAll = true)
        // a Morton layout is not a lexicographic column order — never
        // report one (fresh read: publishBuckets ran under our ticket)
        TargetMeta.read(hconf, target).filter(_.sorted.nonEmpty).foreach(m =>
          TargetMeta.write(hconf, target, m.copy(sorted = None)))
        spark.catalog.refreshByPath(targetDir)
        buckets
      }
    }

  /** [[zorder]] with SELF-DERIVED split bounds (q279 — the SQL-operable
    * form behind `CALL system.zorder`): the 15 split points per column come
    * from the table's OWN exact quantiles at 1/16..15/16 ([[graft.operators
    * .Advanced.exactQuantiles]] — the q34 distributed engine: exact ranks,
    * no sampling nondeterminism, so the derived bounds are REPRODUCIBLE
    * run-to-run over the same data; duplicates from a skewed/low-NDV column
    * collapse to fewer, coarser cells). One bounded quantile pass over the
    * live snapshot, then the ordinary fenced rewrite. Returns (bounds,
    * touched buckets) so callers can pin reproducibility. */
  def zorderAuto(spark: SparkSession, targetDir: String, cols: Seq[String],
      targetFileBytes: Long = 128L << 20): (Seq[Seq[Long]], Seq[Int]) = {
    require(cols.size >= 2 && cols.size <= 3,
      s"zorder interleaves 2-3 columns, got ${cols.size}")
    val snap = snapshot(spark, targetDir).withColumn("_graft_all", lit(1))
    val specs = (1 to 15).map(i => (s"q$i", i / 16.0))
    val bounds = cols.map { c =>
      val rows = graft.operators.Advanced
        .exactQuantiles(snap, "_graft_all", c, specs).collect()
      require(rows.nonEmpty, s"zorder bounds need non-null values in '$c'")
      (1 to 15).map(i => math.floor(rows(0).getAs[Double](s"q$i")).toLong)
        .distinct.sorted
    }
    (bounds, zorder(spark, targetDir, cols, bounds, targetFileBytes))
  }

  /** Resumable column backfill — the UPDATE-analog of additive schema
    * evolution (S4 adds the column as NULL on stored rows; this populates
    * it from an expression over the existing columns — the lake formats'
    * `UPDATE table SET col = expr` restricted to a deterministic
    * row-local expression). At 100 TB a backfill CANNOT be one job: it
    * proceeds BUCKET BY BUCKET through the same crash-safe per-bucket
    * swap as every maintainer, recording completed buckets in a
    * `.graft_backfill` progress marker (atomic rewrite per bucket) so a
    * crash — or a deliberate `maxBuckets` slice, the incremental API —
    * resumes where it left off instead of restarting. Re-processing a
    * bucket is idempotent (the expression recomputes over rows that may
    * already carry the column). Readers mid-backfill see mixed state
    * (filled buckets + NULLs elsewhere, served by the persisted schema,
    * which evolves up front right after the marker) — the standard
    * incremental-
    * UPDATE visibility contract. On completion the persisted schema
    * evolves and the marker is removed; a marker naming a DIFFERENT
    * column refuses (finish one backfill before starting another).
    * Returns the bucket ids processed in THIS call. */
  def backfill(spark: SparkSession, targetDir: String, colName: String,
      colExpr: Column, maxBuckets: Int = Int.MaxValue): Seq[Int] =
    withCommitTicket(spark, targetDir)(
      backfillInner(spark, targetDir, colName, colExpr, maxBuckets))

  private def backfillInner(spark: SparkSession, targetDir: String, colName: String,
      colExpr: Column, maxBuckets: Int): Seq[Int] = {
    require(maxBuckets > 0, "maxBuckets must be positive")
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft table state at $targetDir"))
    val marker = new Path(target, ".graft_backfill")
    val done: Set[Int] = graft.util.AtomicFile.read(hconf, marker) match {
      case Some(s) =>
        val lines = s.linesIterator.toSeq
        val prior = lines.headOption.getOrElse("")
        if (prior != colName)
          throw new IllegalStateException(
            s"unfinished backfill of '$prior' at $targetDir — finish or clear it first")
        lines.drop(1).filter(_.nonEmpty).map(_.toInt).toSet
      case None =>
        // starting fresh: refuse a column that already exists (backfill
        // CREATES the column; recomputing an existing one should be an
        // explicit new operation, not an accident)
        val have = meta.schemaJson
          .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType].fieldNames.toSet)
          .getOrElse(Set.empty)
        if (have(colName) || have.map(logicalName(Some(meta), _)).contains(colName))
          throw new IllegalArgumentException(
            s"column '$colName' already exists at $targetDir")
        // The persisted schema evolves UP FRONT (readers serve it now —
        // readStored): mid-backfill snapshots keep the UPDATE visibility
        // contract (filled buckets + NULLs elsewhere), exactly what the
        // merged inference used to surface from the filled files. The
        // output type resolves against the logical frame — planning only,
        // no scan. MARKER FIRST: a crash between the two writes resumes
        // off the marker instead of refusing on the evolved schema.
        graft.util.AtomicFile.write(hconf, marker, colName)
        meta.schemaJson.foreach { j =>
          val st = org.apache.spark.sql.types.DataType.fromJson(j)
            .asInstanceOf[StructType]
          val f = logicalize(
            readStored(spark, Some(meta), Seq(targetDir)).limit(0), Some(meta))
            .withColumn(colName, colExpr).schema(colName)
          TargetMeta.write(hconf, target, meta.copy(schemaJson = Some(StructType(
            st.fields.filterNot(_.name == BUCKET) ++
              Seq(f.copy(nullable = true)) ++
              st.fields.filter(_.name == BUCKET)).json)))
        }
        Set.empty
    }
    val todo = bucketIds(fs, target).filterNot(done).take(maxBuckets)
    var outType: Option[org.apache.spark.sql.types.StructField] = None
    todo.foreach { b =>
      val live = new Path(target, s"$BUCKET=$b")
      // schema from the persisted meta (BUCKET stripped — this is a bare
      // bucket-dir read, no partition discovery); a MOR bucket holds
      // mixed-schema files after additive evolution and the persisted union
      // covers them all (a single-file schema inference would silently
      // drop the other files' columns in the rewrite, permanent loss once
      // the bucket swaps). Pre-upgrade metas fall back to mergeSchema.
      // A crash-reprocessed bucket whose files already hold `colName` reads
      // without it and recomputes identical values (colExpr deterministic).
      // the fill expression references LOGICAL names (q258): compute on the
      // logical view, then store back under physical names
      val bucketRead = storedSchema(Some(meta)) match {
        case Some(s) => spark.read.schema(StructType(
            s.fields.filterNot(_.name == BUCKET))).parquet(live.toString)
        case None =>
          spark.read.option("mergeSchema", true).parquet(live.toString)
      }
      val filled = logicalize(bucketRead, Some(meta))
        .withColumn(colName, colExpr)
      val rows = meta.renames.getOrElse(Map.empty).foldLeft(filled) {
        case (d, (log, phys)) =>
          if (d.columns.contains(log)) d.withColumnRenamed(log, phys) else d
      }
      outType = Some(rows.schema(colName))
      val tmp = new Path(targetDir + s".backfill.tmp/$BUCKET=$b")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      // q262: a sorted layout's per-bucket rewrite re-sorts (one task — the
      // bucket-fits-memory bound every per-bucket path already assumes)
      meta.sorted match {
        case Some(sc) =>
          rows.repartition(1).sortWithinPartitions(sc.map(col): _*)
            .write.parquet(tmp.toString)
        case None => rows.write.parquet(tmp.toString)
      }
      swapDir(fs, live, tmp)
      // marker AFTER the swap: a crash in between re-processes this
      // bucket, which is idempotent
      graft.util.AtomicFile.write(hconf, marker,
        (colName +: (done ++ todo.takeWhile(_ <= b)).toSeq.sorted.map(_.toString))
          .mkString("\n"))
    }
    fs.delete(new Path(targetDir + ".backfill.tmp"), true)
    val remaining = bucketIds(fs, target).filterNot(done ++ todo)
    if (remaining.isEmpty) {
      // complete: ensure the persisted schema is evolved, drop the marker.
      // The fresh-start path already wrote the union up front; only a
      // pre-upgrade marker (written before the up-front evolve existed,
      // or a crash between marker and schema write) still lacks it.
      val metaNow = TargetMeta.read(hconf, target).getOrElse(meta)
      val evolved = (metaNow.schemaJson, outType) match {
        case (Some(j), f) =>
          val st = org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType]
          if (st.fieldNames.contains(colName)) null // already evolved: no-op
          else f match {
            case Some(ff) => StructType(st.fields :+ ff.copy(nullable = true))
            case None if done.nonEmpty =>
              // crash landed after the last bucket but before the schema
              // evolve: recover the evolved shape from the data itself
              StructType(spark.read.option("mergeSchema", true).parquet(targetDir)
                .schema.fields.filterNot(_.name == BUCKET))
            case None => null
          }
        case _ => null
      }
      if (evolved != null)
        TargetMeta.write(hconf, target, metaNow.copy(schemaJson = Some(evolved.json)))
      fs.delete(marker, false)
    }
    spark.catalog.refreshByPath(targetDir)
    todo
  }

  /** Shared publish discipline for a bucketed directory tree: recover any
    * interrupted earlier swap, then swap each bucket's fresh dir into place
    * (deleting the live dir when the bucket came out empty), then drop the
    * staging dir. Used by the primary sink and the coerced replica so the
    * crash-safety protocol cannot drift between them.
    *
    * `requireAll` (the STATE-PRESERVING publishers: optimize/zorder, whose
    * staged trees rebuild populated buckets verbatim): a missing fresh
    * bucket can only mean the staging tree was stolen out from under this
    * publisher (a concurrent optimize's startup reclaim) — treating the
    * absence as "no surviving rows" would DELETE the live bucket, silent
    * data loss. The check lives INSIDE the publish loop, atomic with each
    * swap (closing the round-13 TOCTOU between a separate pre-check and the
    * swaps): it throws the typed conflict, leaving every not-yet-swapped
    * bucket untouched; replay convergence makes the re-run safe. */
  private[cdc] def publishBuckets(
      fs: FileSystem, root: Path, tmp: Path, buckets: Seq[Int],
      requireAll: Boolean = false): Unit = {
    fs.mkdirs(root)
    recoverBuckets(fs, root)
    // file-level data-skipping statistics (q250): collected on the staging
    // tree in ONE pooled footer pass over every fresh bucket, so each
    // sidecar SWAPS WITH ITS BUCKET — stats can never describe files a
    // reader does not see. One footer open per freshly-written file, at
    // write time, amortized over every read.
    val freshDirs = buckets.map(b => new Path(tmp, s"$BUCKET=$b"))
      .filter(fs.exists(_))
    FileStats.writeSidecars(fs, freshDirs)
    buckets.foreach { b =>
      val fresh = new Path(tmp, s"$BUCKET=$b")
      val live = new Path(root, s"$BUCKET=$b")
      if (fs.exists(fresh)) swapDir(fs, live, fresh)
      else if (requireAll)
        throw new GraftConcurrentWriteException(
          s"state-preserving publish into $root lost its staged tree for " +
            s"bucket $b — a concurrent optimize reclaimed the staging; " +
            "re-run (only one optimize per table at a time)")
      else fs.delete(live, true) // bucket has no surviving rows
    }
    fs.delete(tmp, true)
  }

  /** Re-bucketing migration — change the layout's hash modulus in place
    * (the operation a growing table eventually needs: a modulus sized for
    * bootstrap volume makes oversized buckets at 100x the data, and the
    * adopt-the-layout discipline rightly refuses a differently-configured
    * writer — this is the sanctioned path). Every row moves to its
    * re-hashed bucket, so the rewrite is total by construction and the
    * publish unit is the WHOLE target: the fresh tree (re-hashed buckets
    * plus every carried-over root file, with `.graft_meta` rewritten to
    * the new modulus) swaps in via the same crash-safe rename protocol as
    * a bucket publish — [[swapDir]] at the target level, recovered by
    * [[recoverTarget]] — so readers never observe a mixed-modulus layout
    * and a crash at any point leaves the old layout, the new layout, or a
    * recoverable `.bak`. Tombstones, positions, horizon, pk order, and
    * the stored schema carry over unchanged; later appliers and lookups
    * adopt the new modulus from `.graft_meta` with ZERO other changes.
    * Refused for range-bucketed layouts (the bucket count IS the bounds
    * list — change `rangeBounds` instead) and for MOR (a delta chain must
    * [[compactMor]] to one version per key first; re-hashing per-bucket
    * version chains across buckets would reorder resolve-on-read input).
    * Returns the new modulus (0 = no-op). */
  def rebucket(spark: SparkSession, targetDir: String, newNumBuckets: Int): Int =
    withCommitTicket(spark, targetDir)(rebucketInner(spark, targetDir, newNumBuckets))

  private def rebucketInner(spark: SparkSession, targetDir: String, newNumBuckets: Int): Int = {
    require(newNumBuckets > 0, s"newNumBuckets must be positive, got $newNumBuckets")
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft target metadata at $targetDir"))
    if (meta.storage.contains("mor"))
      throw new IllegalStateException(
        s"$targetDir is merge-on-read: compactMor before rebucket")
    if (meta.rangeBounds.nonEmpty)
      throw new IllegalStateException(
        s"$targetDir is range-bucketed: its bucket count is the bounds list")
    if (meta.numBuckets == newNumBuckets) return 0
    val pkOrder = meta.pkCols.getOrElse(throw new IllegalStateException(
      s"$targetDir has a pre-upgrade meta without pkCols; run one applyBatch first"))
    val bucketOrder = meta.bucketCols.getOrElse(pkOrder)
    recoverBuckets(fs, target)

    val fresh = new Path(targetDir + ".rebucket.tmp")
    if (fs.exists(fresh)) fs.delete(fresh, true)
    // q262: a rebucket rewrites EVERY row, so it publishes sorted and
    // upgrades even a pre-upgrade unsorted layout to the recorded order
    val sortCols = sortColsOf(bucketOrder, pkOrder)
    writeSorted(
      readStored(spark, Some(meta), Seq(targetDir))
        .drop(BUCKET)
        .withColumn(BUCKET, bucketExpr(bucketOrder, newNumBuckets, None)),
      sortCols, 0 until newNumBuckets, fresh.toString)
    // carry every root FILE (high-watermark, meta, any future sidecar) into
    // the fresh tree, then overwrite the meta with the new modulus
    fs.listStatus(target).filter(_.isFile).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, f.getPath, fs, new Path(fresh, f.getPath.getName), false, hconf)
    }
    TargetMeta.write(hconf, fresh,
      meta.copy(numBuckets = newNumBuckets, sorted = Some(sortCols)))
    // data-skipping sidecars for the re-hashed buckets (q250) — written on
    // the staging tree, published by the same whole-target swap
    FileStats.writeSidecars(fs,
      bucketIds(fs, fresh).map(b => new Path(fresh, s"$BUCKET=$b")))
    swapDir(fs, target, fresh)
    spark.catalog.refreshByPath(targetDir)
    newNumBuckets
  }

  /** Eager DDL type widening (q253's SQL-DDL seam: `ALTER TABLE ... ALTER
    * COLUMN c TYPE t`). The lazy path widens on the next change batch
    * ([[applyBatch]]'s widen leg), but a DDL is a user-initiated rewrite
    * NOW — and a meta-only update would tear readers (meta says bigint,
    * files say int, the `needConversion=false` scan reads wrong ordinals).
    * So the widen is whole-target-atomic, [[rebucket]]'s protocol: the
    * fresh tree (cast buckets + carried root files + the widened-schema
    * meta + fresh sidecars) swaps in with [[swapDir]] — readers see the
    * old table or the new, never a mix. Refused outside the [[canWiden]]
    * lattice, for PK columns, and on merge-on-read (mixed-type delta
    * chains cannot merge-read) — exactly the applier's own rules. */
  def widenColumn(spark: SparkSession, targetDir: String, column: String,
      to: DataType): Unit =
    withCommitTicket(spark, targetDir)(widenColumnInner(spark, targetDir, column, to))

  private def widenColumnInner(spark: SparkSession, targetDir: String, columnArg: String,
      to: DataType): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target)
    val meta = TargetMeta.read(hconf, target).getOrElse(
      throw new IllegalStateException(s"no graft target metadata at $targetDir"))
    // callers name the column LOGICALLY (q258); files/schemaJson are physical
    val column = physicalName(Some(meta), columnArg)
    if (meta.storage.contains("mor"))
      throw new IllegalStateException(
        s"$targetDir is merge-on-read: mixed-type delta chains cannot merge-read; " +
          "compactMor + re-bootstrap to widen")
    val stored = meta.schemaJson.map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(
        s"$targetDir has a pre-upgrade meta with no persisted schema"))
    val field = stored.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"no column '$column' at $targetDir"))
    if (meta.pkCols.exists(_.contains(column)))
      throw new IllegalStateException(
        s"cannot widen PK column '$column': the bucket hash ran over the stored type")
    // q283: an indexed/covering column's type is pinned by the index schema
    if (IndexLifecycle.servedColumns(hconf, targetDir).contains(columnArg))
      throw new IllegalStateException(
        s"cannot widen '$columnArg': a secondary index serves it — drop_index first")
    if (field.dataType == to) return
    if (!canWiden(field.dataType, to))
      throw new IllegalStateException(
        s"retype ${field.dataType} -> $to of '$column' is not a lossless widening")
    val widenedSchema = StructType(stored.fields.map(f =>
      if (f.name == column) f.copy(dataType = to) else f))
    recoverBuckets(fs, target)
    val fresh = new Path(targetDir + ".widen.tmp")
    if (fs.exists(fresh)) fs.delete(fresh, true)
    if (bucketIds(fs, target).nonEmpty) {
      val cast = readStored(spark, Some(meta), Seq(targetDir))
        .withColumn(column, col(column).cast(to))
      // q262: maintain the recorded order through the whole-table rewrite
      meta.sorted match {
        case Some(sc) => writeSorted(cast, sc, 0 until meta.numBuckets, fresh.toString)
        case None => cast.write.partitionBy(BUCKET).parquet(fresh.toString)
      }
    } else fs.mkdirs(fresh)
    fs.listStatus(target).filter(_.isFile).foreach { f =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, f.getPath, fs, new Path(fresh, f.getPath.getName), false, hconf)
    }
    TargetMeta.write(hconf, fresh, meta.copy(schemaJson = Some(widenedSchema.json)))
    FileStats.writeSidecars(fs,
      bucketIds(fs, fresh).map(b => new Path(fresh, s"$BUCKET=$b")))
    swapDir(fs, target, fresh)
    spark.catalog.refreshByPath(targetDir)
  }

  /** The stream-cursor file name, shared with StreamingPipeline's
    * high-watermark read/write so [[bootstrap]] and the pipeline cannot
    * disagree on where the cursor lives. */
  private[graft] val HIGHWATER = ".graft_highwater"

  /** Snapshot-then-tail bootstrap — the RECOVERY operation the purged-binlog
    * guard demands. The guard (StreamingPipeline.applyMicroBatch; reference
    * MySQL error-1236 semantics, `MySQLExtractor.scala:92-103`) fails the
    * query with "rebootstrap required" when positions between the target's
    * cursor and the source's retention were purged upstream; this is the
    * other half: re-seed the target from a FULL source read stamped at one
    * consistent position `atPos` (the position the read is transactionally
    * consistent with — the binlog coordinate a `--single-transaction` dump
    * reports), and hand the restarted stream a fresh cursor.
    *
    * Atomicity: the seeded bucket tree, the `.graft_meta` whose horizon is
    * `atPos` (the replay guard — a stale event at or below it is discarded
    * by [[applyBatch]] instead of double-applying over the seed), and the
    * `.graft_highwater` stream cursor are ALL written into a staging tree
    * first, then published by the single whole-target [[swapDir]] — so
    * state, guard, and cursor can never be observed torn. A crash before
    * the swap leaves the old target plus a staging dir [[openTarget]]
    * reclaims; a crash between the two renames leaves a `.bak` that
    * [[recoverTarget]] restores from ANY entry point. Re-bootstrap over a
    * NON-EMPTY target preserves the persisted layout (modulus, pk order,
    * bucket columns, range bounds, storage mode) under the same
    * adopt-the-layout discipline as [[applyBatch]], and refuses an `atPos`
    * below the existing horizon (a seed older than the compaction horizon
    * could resurrect compacted deletes). Scale shape: ONE full source scan,
    * one bucket-partition write — no join, no window; the 100 TB cost is
    * the unavoidable re-copy, with nothing super-linear on top. Returns the
    * layout's bucket modulus. */
  def bootstrap(
      spark: SparkSession, source: DataFrame, targetDir: String, atPos: Long,
      opts: Options): Int =
    withCommitTicket(spark, targetDir)(
      bootstrapInner(spark, source, targetDir, atPos, opts))

  private def bootstrapInner(
      spark: SparkSession, source: DataFrame, targetDir: String, atPos: Long,
      opts: Options): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    openTargetForWrite(fs, target)
    val meta = TargetMeta.read(hconf, target)
    meta.foreach { m =>
      if (atPos < m.horizon)
        throw new IllegalArgumentException(
          s"bootstrap position $atPos predates the target's replay horizon ${m.horizon} — " +
            "a seed older than the horizon could resurrect compacted deletes; " +
            "read the source at or after it")
    }
    val pkOrder = meta.flatMap(_.pkCols).getOrElse(opts.pkCols)
    if (pkOrder.toSet != opts.pkCols.toSet)
      throw new IllegalStateException(
        s"PK drift: target layout is keyed by ${pkOrder.mkString(",")}, " +
          s"caller configured ${opts.pkCols.mkString(",")}")
    val (bucketOrder, rangeBounds, numBuckets) = resolveLayout(meta, opts, pkOrder)
    val missing = pkOrder.filterNot(source.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"bootstrap source read lacks PK column(s) ${missing.mkString(",")}")
    // S6 PK completeness on the seed itself — distributed raise_error,
    // same discipline as resolveBatch's upsert guard.
    val guarded =
      if (!opts.strictPk) source
      else pkOrder.foldLeft(source) { (df, k) =>
        df.withColumn(k,
          when(col(k).isNull,
            raise_error(lit(s"bootstrap source row missing PK column '$k'")))
            .otherwise(col(k)))
      }
    val rows = guarded
      .withColumn(POS, lit(atPos))
      .withColumn(DEL, lit(false))
      .withColumn(BUCKET, bucketExpr(bucketOrder, numBuckets, rangeBounds))
    val fresh = new Path(targetDir + ".bootstrap.tmp")
    if (fs.exists(fresh)) fs.delete(fresh, true)
    val isMorSeed = meta.flatMap(_.storage).contains("mor")
    // q262: copy-on-write seeds publish sorted and record it; a mor seed's
    // later delta appends would break the invariant, so it stays unmarked
    if (isMorSeed) rows.write.partitionBy(BUCKET).parquet(fresh.toString)
    else writeSorted(rows, sortColsOf(bucketOrder, pkOrder), 0 until numBuckets,
      fresh.toString)
    TargetMeta.write(hconf, fresh, TargetMeta(
      numBuckets, horizon = atPos, schemaJson = Some(rows.schema.json),
      pkCols = Some(pkOrder),
      bucketCols = if (bucketOrder == pkOrder) None else Some(bucketOrder),
      storage = meta.flatMap(_.storage),
      // a re-seeded mor target has exactly one version per key: every
      // intermediate image at or below the seed position is gone
      collapsed = meta.flatMap(_.storage).map(_ => atPos),
      rangeBounds = rangeBounds,
      sorted = if (isMorSeed) None else Some(sortColsOf(bucketOrder, pkOrder))))
    graft.util.AtomicFile.write(hconf, new Path(fresh, HIGHWATER), atPos.toString)
    // data-skipping sidecars for the seeded buckets (q250), same protocol
    FileStats.writeSidecars(fs,
      bucketIds(fs, fresh).map(b => new Path(fresh, s"$BUCKET=$b")))
    swapDir(fs, target, fresh)
    spark.catalog.refreshByPath(targetDir)
    numBuckets
  }

  /** Open-target discipline shared by EVERY public entry point that reads
    * `.graft_meta` or bucket dirs (snapshot, lookups, feeds, compactions,
    * appliers, rebucket): heal an interrupted whole-target swap via
    * [[recoverTarget]] — so a reader arriving after a crash mid-[[rebucket]]
    * restores the `.bak` instead of mis-reporting an existing table as
    * never-bootstrapped or throwing "no graft table state". Read-only entry
    * points stop here: they must NOT reclaim staging trees, because a reader
    * concurrent with an in-flight rebucket/bootstrap/backfill would delete
    * the maintainer's half-written staging copy and fail that job — reads
    * stay safe DURING maintenance (the live tree is untouched until the
    * atomic swap), only [[openTargetForWrite]]'s single-writer entry points
    * may assume no other maintainer is mid-write. */
  private[graft] def openTarget(fs: FileSystem, target: Path): Unit = {
    recoverTarget(fs, target)
    // bucket-level heal too: a reader arriving after a crashed PER-BUCKET
    // swap (applyBatch/compact/optimize publish) must see the .bak'd
    // bucket's data, not a hole where the bucket was
    if (fs.exists(target)) recoverBuckets(fs, target)
  }

  /** Every sibling staging suffix any writer stages under before its swap —
    * kept HERE, next to the reclaim loop, so the list cannot drift from the
    * writers: `.tmp` ([[applyBatch]]/[[compactMor]]/[[vacuumMor]]),
    * `.compact.tmp` ([[compact]]), `.optimize.tmp` ([[optimize]]),
    * `.backfill.tmp` ([[backfill]]), `.rebucket.tmp` ([[rebucket]]),
    * `.bootstrap.tmp` ([[bootstrap]]); [[applyBatchMor]]'s tokenized
    * `.delta-<token>` trees are matched by prefix glob below. */
  private val StagingSuffixes = Seq(
    ".tmp", ".compact.tmp", ".optimize.tmp", ".zorder.tmp",
    ".backfill.tmp", ".rebucket.tmp", ".bootstrap.tmp")

  /** [[openTarget]] plus staging reclaim — the WRITER entry-point form
    * (applyBatch/applyBatchMor/compact/compactMor/vacuumMor/optimize/
    * backfill/rebucket/bootstrap). Once recovery has run, single-writer
    * discipline says no other maintenance is in progress, so any leftover
    * staging tree is an orphaned full-bucket-sized duplicate from a crash
    * after it was written but before its swap — garbage that would
    * otherwise leak indefinitely. */
  private[cdc] def openTargetForWrite(fs: FileSystem, target: Path): Unit = {
    openTarget(fs, target)
    StagingSuffixes.foreach { suffix =>
      val staging = new Path(target.getParent, target.getName + suffix)
      if (fs.exists(staging)) fs.delete(staging, true)
    }
    // tokenized staging from a crashed applyBatchMor publish (.delta-<tok>)
    // or an aborted row-level DML statement (.rowlevel-<queryId> — its
    // committer localCheckpoints the staged frame before the applier runs,
    // so a LIVE statement never needs its tree past this point)
    if (fs.exists(target.getParent)) {
      val prefixes = Seq(".delta-", ".rowlevel-").map(target.getName + _)
      fs.listStatus(target.getParent)
        .filter(s => prefixes.exists(s.getPath.getName.startsWith))
        .foreach(s => fs.delete(s.getPath, true))
    }
  }

  /** Target-level twin of [[recoverBuckets]] for whole-target swaps
    * ([[rebucket]]): a `.bak` of the target WITHOUT a live target means
    * the crash hit between the two renames — restore it; with a live
    * target, the publish completed — drop it. */
  private[cdc] def recoverTarget(fs: FileSystem, target: Path): Unit = {
    val bak = bakPath(target)
    if (fs.exists(bak)) {
      if (!fs.exists(target)) {
        if (!fs.rename(bak, target))
          throw new IOException(s"cannot restore interrupted target swap from $bak")
      } else fs.delete(bak, true)
    }
  }

  private def bakPath(live: Path): Path =
    // Dot-prefixed => hidden from partition discovery while it exists.
    new Path(live.getParent, "." + live.getName + ".bak")

  /** Crash recovery for interrupted [[swapDir]]s: a `.bak` WITHOUT a live
    * dir means the crash hit between the two renames — the backup is the
    * only copy, restore it. A `.bak` WITH a live dir means the publish
    * completed and only the backup cleanup was lost — drop it. */
  private[cdc] def recoverBuckets(fs: FileSystem, target: Path): Unit =
    fs.listStatus(target)
      .filter(s => s.getPath.getName.startsWith(".") && s.getPath.getName.endsWith(".bak"))
      .foreach { s =>
        val live = new Path(target, s.getPath.getName.stripPrefix(".").stripSuffix(".bak"))
        if (!fs.exists(live)) {
          if (!fs.rename(s.getPath, live))
            throw new IOException(s"cannot restore interrupted swap from ${s.getPath}")
        } else fs.delete(s.getPath, true)
      }

  /** Crash-safe directory swap: live -> .bak, fresh -> live, drop .bak.
    * Every rename is checked; a failure after the first rename restores the
    * old directory, and [[recoverBuckets]] replays the same logic after a
    * hard crash — at no point is a bucket's data unreachable. */
  private[cdc] def swapDir(fs: FileSystem, live: Path, fresh: Path): Unit = {
    val bak = bakPath(live)
    // a leftover .bak here means the PREVIOUS swap published successfully
    // (recoverBuckets would have restored it otherwise) — safe to drop
    if (fs.exists(bak) && !fs.delete(bak, true))
      throw new IOException(s"cannot clear stale backup $bak")
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, bak))
      throw new IOException(s"cannot back up $live")
    if (!fs.rename(fresh, live)) {
      if (hadLive) fs.rename(bak, live) // restore; best-effort
      throw new IOException(s"cannot publish $fresh to $live")
    }
    if (hadLive) fs.delete(bak, true)
  }
}
