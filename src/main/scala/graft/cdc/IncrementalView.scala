package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.util.AtomicFile

/** Incremental aggregate-view maintenance (IVM) over the CDC envelope —
  * the natural composition of the replication pipeline (SURVEY §2.1) with
  * the query surface (§2.2): instead of replaying the base table and
  * re-aggregating, each change batch folds its insert/update/delete
  * CONTRIBUTIONS into a (key, cnt, sum) view:
  *
  *   insert  → (after.key,  +1, +after.value)
  *   delete  → (before.key, -1, -before.value)
  *   update  → BOTH rows — (-before) and (+after) — which handles
  *             group-moving updates (the key column itself changed) for
  *             free: the old group loses the row, the new group gains it.
  *
  * SUM/COUNT are self-maintainable aggregates (no base-table access, any
  * delta order); the sums run in the engine-wide DECIMAL(18,6) convention,
  * so +x added by an insert and -x removed by a later delete cancel
  * EXACTLY — a double accumulator would drift per round-off and the view
  * would diverge from a fresh aggregation over time.
  *
  * Scale shape: a delta is one partial+final hash aggregate over the
  * batch (tiny output: touched keys only); the merge is a key-equi
  * full-outer join of two aggregate-sized frames. In the streaming
  * pipeline this runs inside `foreachBatch` with the view stored like any
  * bucketed target; here the fold is expressed over batch frames so the
  * algebra is testable standalone.
  */
object IncrementalView {

  /** One change batch's per-key (count, sum) contribution. */
  def delta(batch: DataFrame, key: String, value: String): DataFrame = {
    def c(img: String, sgn: Int) = struct(
      col(s"$img.$key").as("k"), lit(sgn).as("sgn"), col(s"$img.$value").as("v"))
    batch.select(explode(
        when(col("op") === "insert", array(c("after", 1)))
          .when(col("op") === "delete", array(c("before", -1)))
          .otherwise(array(c("before", -1), c("after", 1)))).as("ct"))
      .select(col("ct.k").as(key), col("ct.sgn").as("sgn"),
        graft.util.Sumd.dec(col("ct.v")).as("v"))
      .groupBy(col(key))
      .agg(sum(col("sgn")).cast("long").as("cnt"),
        sum(col("sgn") * col("v")).cast(DecimalType(28, 6)).as("sum"))
  }

  /** Merge two (key, cnt, sum) frames — associative, so any grouping of
    * batch deltas yields the same view. */
  def merge(a: DataFrame, b: DataFrame, key: String): DataFrame = {
    val zero = lit(0).cast(DecimalType(28, 6))
    a.withColumnRenamed("cnt", "cnt_a").withColumnRenamed("sum", "sum_a")
      .join(b.withColumnRenamed("cnt", "cnt_b").withColumnRenamed("sum", "sum_b"),
        Seq(key), "full_outer")
      .select(col(key),
        (coalesce(col("cnt_a"), lit(0L)) + coalesce(col("cnt_b"), lit(0L))).as("cnt"),
        (coalesce(col("sum_a"), zero) + coalesce(col("sum_b"), zero))
          .cast(DecimalType(28, 6)).as("sum"))
  }

  /** Fold a sequence of change batches into the maintained view; groups
    * whose rows were all deleted disappear (cnt 0), matching a fresh
    * aggregation over the final table state. */
  def maintain(batches: Seq[DataFrame], key: String, value: String): DataFrame =
    batches.map(delta(_, key, value)).reduce(merge(_, _, key))
      .filter(col("cnt") > 0)

  /** One change batch's per-(key, value) REFCOUNT contribution — the
    * state behind the incremental COUNT(DISTINCT) view below. Same ±1
    * contribution algebra as [[delta]], but keyed by the PAIR: an update
    * that moves a row between groups (or rewrites the counted value)
    * decrements the old pair and increments the new one. */
  def deltaDistinct(batch: DataFrame, key: String, value: String): DataFrame = {
    def c(img: String, sgn: Int) = struct(
      col(s"$img.$key").as("k"), col(s"$img.$value").as("v"), lit(sgn).as("sgn"))
    batch.select(explode(
        when(col("op") === "insert", array(c("after", 1)))
          .when(col("op") === "delete", array(c("before", -1)))
          .otherwise(array(c("before", -1), c("after", 1)))).as("ct"))
      .select(col("ct.k").as(key), col("ct.v").as(value), col("ct.sgn").as("sgn"))
      .groupBy(col(key), col(value))
      .agg(sum(col("sgn")).cast("long").as("ref"))
  }

  /** Merge two (key, value, ref) refcount frames — associative like
    * [[merge]], so batch grouping never matters. */
  def mergeDistinct(a: DataFrame, b: DataFrame, key: String, value: String): DataFrame =
    a.withColumnRenamed("ref", "ref_a")
      .join(b.withColumnRenamed("ref", "ref_b"), Seq(key, value), "full_outer")
      .select(col(key), col(value),
        (coalesce(col("ref_a"), lit(0L)) + coalesce(col("ref_b"), lit(0L))).as("ref"))

  /** Incremental COUNT(DISTINCT value) per key — the duplicate-sensitive
    * member of the IVM family (q79 SUM/COUNT fold, q89 MIN/MAX rescan,
    * q174 join, q176 top-k): SUM/COUNT contributions cannot express
    * DISTINCT, and a naive NDV view breaks on deletes ("was that the
    * value's LAST copy in the group?"). The classical answer (Gupta &
    * Mumick's duplicate-preserving multiset view) maintains the
    * (key, value, refcount) frame by the same contribution algebra; the
    * view reads as the per-key count of pairs with ref > 0 (n_rows =
    * the ref sum rides along). State is bounded by LIVE distinct pairs —
    * exactly what any exact distinct count must retain; a delta touches
    * only the batch's pairs. */
  def maintainDistinct(batches: Seq[DataFrame], key: String, value: String): DataFrame =
    batches.map(deltaDistinct(_, key, value))
      .reduce(mergeDistinct(_, _, key, value))
      .filter(col("ref") > 0)
      .groupBy(col(key))
      .agg(count(lit(1)).as("ndv"), sum(col("ref")).cast("long").as("n_rows"))

  /** Incremental equi-JOIN view maintenance — the join member of the IVM
    * family (SUM/COUNT fold above, MIN/MAX rescan below; this maintains a
    * materialized `fact ⋈ dim` keyed by the fact PK). Affected-key
    * recompute, the same discipline as the MIN/MAX rescan: a batch's
    * affected fact keys are its OWN changed keys PLUS the fact keys whose
    * join column hits a changed dim key (one semi-join against the fact
    * store — at scale served by a `bucketCols = joinCol` secondary layout
    * or q147's bloom pruning; never a view rebuild). Those keys are
    * re-joined against the CURRENT stores and merged into the bucketed
    * view through the ordinary applier: fresh join rows upsert, affected
    * keys whose join row disappeared (fact deleted, partner dim deleted,
    * or the join column MOVED to a nonexistent partner) delete. Cost per
    * batch ∝ affected keys × join, never |view|; replay converges by the
    * applier's position guard.
    *
    * `factKeys` / `dimKeys`: one column each (`factKey` / `dimKey`) with
    * the batch's changed keys — exactly what a CDC batch's before+after
    * key projection yields. */
  def maintainJoinView(spark: SparkSession, factDir: String, dimDir: String,
      viewDir: String, pos: Long, factKeys: DataFrame, dimKeys: DataFrame,
      factKey: String, joinCol: String, dimKey: String): Unit = {
    val env = joinViewDelta(spark, factDir, dimDir, viewDir, pos,
      factKeys, dimKeys, factKey, joinCol, dimKey)
    CdcApplier.applyBatch(spark, env, viewDir, CdcApplier.Options(Seq(factKey)))
    ()
  }

  /** Incremental TOP-K view maintenance — generalizes the q89 MIN/MAX
    * rescan (top-1) to rank slots: a materialized per-group top-k (rank
    * window over `ord` DESC, `key` tiebreak) keyed by (group, rank).
    * Affected-GROUP rescan: only the groups a batch touched (its
    * before+after group keys) re-rank — each costs its own group's rows,
    * bucket-pruned by the (grp, rnk) layout's hash on real deployments —
    * and merge through the ordinary applier: fresh slots upsert, slots a
    * shrunken group no longer fills delete. Deletes of current top rows
    * therefore PROMOTE from below (the hazard a naive monotone view gets
    * wrong), and group-moving updates touch both the old and new group.
    * Cost ∝ affected groups × group size, never |fact|. */
  def maintainTopKView(spark: SparkSession, factDir: String, viewDir: String,
      pos: Long, groups: DataFrame, grp: String, ord: String, key: String,
      k: Int): Unit = {
    import org.apache.spark.sql.expressions.Window
    val fact = CdcApplier.snapshot(spark, factDir).drop(CdcApplier.POS)
    val affected = groups.select(col(grp)).distinct()
    val w = Window.partitionBy(col(grp)).orderBy(col(ord).desc, col(key))
    val recomputed = fact.join(affected, Seq(grp), "left_semi")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
    val upserts = ChangeFeed.inserts(recomputed, lit(pos))
    val gone = CdcApplier.snapshotIfBootstrapped(spark, viewDir) match {
      case Some(v) =>
        val cur = v.drop(CdcApplier.POS)
          .select(recomputed.columns.map(col).toIndexedSeq: _*)
        ChangeFeed.deletes(
          cur.join(affected, Seq(grp), "left_semi")
            .join(recomputed.select(col(grp), col("rnk")),
              Seq(grp, "rnk"), "left_anti"),
          lit(pos))
      case None => upserts.limit(0)
    }
    CdcApplier.applyBatch(spark, upserts.unionByName(gone), viewDir,
      CdcApplier.Options(Seq(grp, "rnk")))
    ()
  }

  /** [[maintainJoinView]]'s delta stage, exposed so its plan shape (semi
    * joins for affected-key pruning, equi joins only) can be asserted
    * directly — the applier underneath is the ordinary q30 path. */
  private[graft] def joinViewDelta(spark: SparkSession, factDir: String,
      dimDir: String, viewDir: String, pos: Long, factKeys: DataFrame,
      dimKeys: DataFrame, factKey: String, joinCol: String, dimKey: String)
      : DataFrame = {
    val fact = CdcApplier.snapshot(spark, factDir).drop(CdcApplier.POS)
    val dim = CdcApplier.snapshot(spark, dimDir).drop(CdcApplier.POS)
    val affected = factKeys.select(col(factKey))
      .unionByName(
        fact.join(dimKeys, col(joinCol) === col(dimKey), "left_semi")
          .select(col(factKey)))
      .distinct()
    val recomputed = fact
      .join(affected.withColumnRenamed(factKey, "_aff"),
        col(factKey) === col("_aff"), "left_semi")
      .join(dim, col(joinCol) === col(dimKey))
      .drop(dimKey)
    val upserts = ChangeFeed.inserts(recomputed, lit(pos))
    val gone = CdcApplier.snapshotIfBootstrapped(spark, viewDir) match {
      case Some(v) =>
        val cur = v.drop(CdcApplier.POS)
          .select(recomputed.columns.map(col).toIndexedSeq: _*)
        ChangeFeed.deletes(
          cur.join(affected, Seq(factKey), "left_semi")
            .join(recomputed.select(col(factKey)), Seq(factKey), "left_anti"),
          lit(pos))
      case None => upserts.limit(0)
    }
    upserts.unionByName(gone)
  }

  // ---- MIN/MAX (+ AVG) maintenance. AVG is free: it derives from the
  //      self-maintainable (sum, cnt) at read time. MIN/MAX are NOT
  //      self-maintainable under deletes (removing the current extreme
  //      reveals an unknown runner-up), so the algebra tracks per-key
  //      inserted and deleted extremes and RESCANS only the AFFECTED keys
  //      — those where some deleted value ties-or-beats the optimistic
  //      extreme — from the base table, as a semi-join-pruned scan that
  //      touches only those groups' rows. Interior deletes never rescan.

  /** One change batch's per-key contribution, extended with the MIN/MAX
    * maintenance inputs: inserted extremes (the optimistic candidates) and
    * deleted extremes (the rescan triggers). The group key may be
    * COMPOSITE (q247's finer-than-query view grouping) — same algebra,
    * keyed on the column tuple. */
  def deltaMinMax(batch: DataFrame, keys: Seq[String], value: String): DataFrame = {
    def c(img: String, sgn: Int) = struct(
      struct(keys.map(k => col(s"$img.$k").as(k)): _*).as("k"),
      lit(sgn).as("sgn"), col(s"$img.$value").as("v"))
    batch.select(explode(
        when(col("op") === "insert", array(c("after", 1)))
          .when(col("op") === "delete", array(c("before", -1)))
          .otherwise(array(c("before", -1), c("after", 1)))).as("ct"))
      .select(keys.map(k => col(s"ct.k.$k").as(k)) ++ Seq(col("ct.sgn").as("sgn"),
        graft.util.Sumd.dec(col("ct.v")).as("v"), col("ct.v").cast("double").as("vd")): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("sgn")).cast("long").as("cnt"),
        sum(col("sgn") * col("v")).cast(DecimalType(28, 6)).as("sum"),
        min(when(col("sgn") > 0, col("vd"))).as("ins_mn"),
        max(when(col("sgn") > 0, col("vd"))).as("ins_mx"),
        min(when(col("sgn") < 0, col("vd"))).as("del_mn"),
        max(when(col("sgn") < 0, col("vd"))).as("del_mx"))
  }

  def deltaMinMax(batch: DataFrame, key: String, value: String): DataFrame =
    deltaMinMax(batch, Seq(key), value)

  /** Merge two extended frames — associative like [[merge]] (mins/maxes of
    * mins/maxes; `least`/`greatest` skip nulls). */
  def mergeMinMax(a: DataFrame, b: DataFrame, key: String): DataFrame =
    mergeMinMax(a, b, Seq(key))

  def mergeMinMax(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = Seq("cnt", "sum", "ins_mn", "ins_mx", "del_mn", "del_mx")
    val ar = cols.foldLeft(a)((d, n) => d.withColumnRenamed(n, s"${n}_a"))
    val br = cols.foldLeft(b)((d, n) => d.withColumnRenamed(n, s"${n}_b"))
    val zero = lit(0).cast(DecimalType(28, 6))
    ar.join(br, keys, "full_outer")
      .select(keys.map(col) ++ Seq[org.apache.spark.sql.Column](
        (coalesce(col("cnt_a"), lit(0L)) + coalesce(col("cnt_b"), lit(0L))).as("cnt"),
        (coalesce(col("sum_a"), zero) + coalesce(col("sum_b"), zero))
          .cast(DecimalType(28, 6)).as("sum"),
        least(col("ins_mn_a"), col("ins_mn_b")).as("ins_mn"),
        greatest(col("ins_mx_a"), col("ins_mx_b")).as("ins_mx"),
        least(col("del_mn_a"), col("del_mn_b")).as("del_mn"),
        greatest(col("del_mx_a"), col("del_mx_b")).as("del_mx")): _*)
  }

  /** Fold change batches into a (key, cnt, sum, avg, mn, mx) view
    * maintained FROM EMPTY (every surviving row arrived through an insert
    * contribution, so the inserted extremes are complete candidates).
    * `base` is the final base-table state — consulted ONLY for the
    * affected keys: a key rescans iff some deleted value ties-or-beats its
    * optimistic extreme (a delete strictly inside the range cannot change
    * MIN/MAX). The rescan is a broadcast-semi-pruned scan + per-key
    * min/max — cost scales with the affected groups' rows, not the table.
    * AVG divides the decimal-exact sum by the count in ONE double
    * division, reproducible cross-engine. */
  def maintainMinMax(batches: Seq[DataFrame], base: DataFrame,
      key: String, value: String): DataFrame =
    maintainMinMax(batches, base, Seq(key), value)

  def maintainMinMax(batches: Seq[DataFrame], base: DataFrame,
      keys: Seq[String], value: String): DataFrame = {
    // materialize the fold ONCE (aggregate-sized): ok/affected/rescan all
    // branch off it, and without this each branch re-runs every delta
    val kc = keys.map(col)
    val flagged = batches.map(deltaMinMax(_, keys, value))
      .reduce(mergeMinMax(_, _, keys))
      .filter(col("cnt") > 0)
      .withColumn("rescan",
        (col("del_mn").isNotNull && col("del_mn") <= col("ins_mn")) ||
          (col("del_mx").isNotNull && col("del_mx") >= col("ins_mx")))
      .localCheckpoint()
    val ok = flagged.filter(!col("rescan"))
      .select(kc ++ Seq[org.apache.spark.sql.Column](col("cnt"), col("sum"),
        col("ins_mn").as("mn"), col("ins_mx").as("mx")): _*)
    val affected = flagged.filter(col("rescan"))
      .select(kc ++ Seq[org.apache.spark.sql.Column](col("cnt"), col("sum")): _*)
    val rescanned = base
      .join(broadcast(affected.select(kc: _*)), keys, "left_semi")
      .groupBy(kc: _*)
      .agg(min(col(value).cast("double")).as("mn"), max(col(value).cast("double")).as("mx"))
    // LEFT join: an affected key with cnt>0 but NO base rows is an
    // inconsistent feed (the deltas and the base disagree) — null mn/mx
    // keeps it visible, consistent with the negative-cnt signal; an inner
    // join would silently drop the key from the view.
    ok.union(affected.join(rescanned, keys, "left")
        .select(kc ++ Seq[org.apache.spark.sql.Column](
          col("cnt"), col("sum"), col("mn"), col("mx")): _*))
      .withColumn("avg", col("sum").cast("double") / col("cnt").cast("double"))
  }

  // ---- streaming form: exactly-once view maintenance under the
  //      at-least-once micro-batch contract. Deltas are NOT idempotent
  //      (re-applying one double-counts), so unlike the row applier's
  //      per-key `_graft_pos` guard the replay guard here is the batch id:
  //      the view is published as a versioned snapshot dir named by the
  //      last applied batch id plus a crash-safe pointer file (write new
  //      version, rename-OVERWRITE the pointer, delete the old version —
  //      at no point is the live view absent), and a replayed batch id at
  //      or below the pointer is a no-op. The view is aggregate-sized, so
  //      a full snapshot rewrite per batch is the RIGHT trade at any
  //      corpus size: its cost scales with the key cardinality, not the
  //      stream volume.

  private def pointerPath(viewDir: String) = new Path(viewDir, ".graft_view")

  private def appliedBatch(spark: SparkSession, viewDir: String): Option[Long] =
    AtomicFile.read(spark.sparkContext.hadoopConfiguration, pointerPath(viewDir))
      .map(_.trim.toLong)

  /** The view's last applied micro-batch id (None before any publish) —
    * what a replayed delivery must present to be treated as the legal
    * crash no-op. */
  def lastApplied(spark: SparkSession, viewDir: String): Option[Long] =
    appliedBatch(spark, viewDir)

  /** Current view contents (empty-on-missing). Groups at EXACTLY cnt 0
    * are pruned (their sums are exact decimal zeros under a consistent
    * feed, matching [[maintain]]); a NEGATIVE cnt — a delete for a row
    * the view never saw inserted — stays VISIBLE: it is the
    * feed-inconsistency signal, and hiding it would let the divergence
    * go unnoticed. */
  def snapshotView(spark: SparkSession, viewDir: String): Option[DataFrame] =
    appliedBatch(spark, viewDir).map(v =>
      spark.read.parquet(s"$viewDir/v$v").filter(col("cnt") =!= 0))

  /** Apply one change micro-batch to the persisted view, exactly once.
    * Replay handling is STRICT: Structured Streaming's at-least-once
    * contract can only re-deliver the last uncommitted batch, so an id
    * EQUAL to the pointer is the legal crash-replay no-op, while an id
    * BELOW it means the stream and the view have diverged (typically a
    * fresh checkpoint pointed at an existing viewDir — batch ids
    * restarted at 0) and silently skipping would discard real change
    * data, so it fails loudly instead.
    *
    * Version retention is grace-of-one: the PREVIOUS snapshot survives
    * the publish, so a reader that resolved the pointer just before the
    * switch still scans live files; only strictly older versions are
    * scavenged (the scan also reclaims dirs orphaned by a crash between
    * publish and cleanup). */
  def applyViewBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      viewDir: String, key: String, value: String): Unit =
    applyGeneric(spark, batchId, viewDir) { applied =>
      val d = delta(batch, key, value)
      applied match {
        case Some(v) => merge(spark.read.parquet(s"$viewDir/v$v"), d, key)
          .filter(col("cnt") =!= 0) // exact zeros leave; negatives stay visible
        case None => d
      }
    }

  /** The replay-guard + versioned-publish discipline shared by the
    * SUM/COUNT and MIN/MAX streaming views; `mergeFn` receives the applied
    * version (if any) and returns the new view contents. */
  private[cdc] def applyGeneric(spark: SparkSession, batchId: Long, viewDir: String)(
      mergeFn: Option[Long] => DataFrame): Unit = {
    val applied = appliedBatch(spark, viewDir)
    if (applied.contains(batchId)) return // crash replay of the last batch
    applied.filter(batchId < _).foreach { v =>
      throw new IllegalStateException(
        s"view at $viewDir has applied batch $v but the stream delivered " +
          s"batch $batchId - checkpoint/view mismatch (fresh checkpoint " +
          "against an existing view?); refusing to silently drop batches")
    }
    CdcApplier.stage(mergeFn(applied), new Path(viewDir, s"v$batchId"))
    AtomicFile.write(spark.sparkContext.hadoopConfiguration,
      pointerPath(viewDir), batchId.toString)
    applied.foreach { prev =>
      val dir = new Path(viewDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
          n.drop(1).toLong < prev) fs.delete(st.getPath, true)
      }
    }
  }

  /** The MIN/MAX streaming form: [[applyViewBatch]]'s exactly-once
    * discipline over the [[maintainMinMax]] algebra, applied per
    * micro-batch. The stored view rows are (key, cnt, sum, mn, mx) with
    * VALIDATED extremes; each batch folds its [[deltaMinMax]] in, and only
    * the keys whose deletes tie-or-beat the stored extreme re-aggregate
    * from `base` — which must be the PRIMARY TABLE'S state after this
    * batch applied (in the CDC topology the row applier runs first in the
    * same foreachBatch, so `CdcApplier.snapshot` is exactly that). */
  def applyViewBatchMinMax(spark: SparkSession, batch: DataFrame, batchId: Long,
      viewDir: String, key: String, value: String, base: => DataFrame): Unit =
    applyGeneric(spark, batchId, viewDir) { applied =>
      val d = deltaMinMax(batch, key, value)
      val merged = applied match {
        case None =>
          d.select(col(key), col("cnt"), col("sum"),
            col("ins_mn").as("mn_c"), col("ins_mx").as("mx_c"),
            col("del_mn"), col("del_mx"))
        case Some(v) =>
          val zero = lit(0).cast(DecimalType(28, 6))
          spark.read.parquet(s"$viewDir/v$v")
            .select(col(key), col("cnt").as("cnt_a"), col("sum").as("sum_a"),
              col("mn").as("mn_a"), col("mx").as("mx_a"))
            .join(d, Seq(key), "full_outer")
            .select(col(key),
              (coalesce(col("cnt_a"), lit(0L)) + coalesce(col("cnt"), lit(0L))).as("cnt"),
              (coalesce(col("sum_a"), zero) + coalesce(col("sum"), zero))
                .cast(DecimalType(28, 6)).as("sum"),
              least(col("mn_a"), col("ins_mn")).as("mn_c"),
              greatest(col("mx_a"), col("ins_mx")).as("mx_c"),
              col("del_mn"), col("del_mx"))
      }
      // exact zeros leave; NEGATIVE cnt stays visible (the same
      // feed-inconsistency signal applyViewBatch keeps) — it flows through
      // the no-rescan branch (possibly with null extremes): the base has
      // nothing to rescan for a row the view never saw inserted. The
      // aggregate-sized frame is materialized ONCE (localCheckpoint) —
      // the ok/affected branches and the final write would otherwise
      // re-run the whole delta fold + stored-view read each.
      val flagged = merged.filter(col("cnt") =!= 0).withColumn("rescan",
        col("cnt") > 0 && (
          (col("del_mn").isNotNull && col("del_mn") <= col("mn_c")) ||
            (col("del_mx").isNotNull && col("del_mx") >= col("mx_c"))))
        .localCheckpoint()
      val ok = flagged.filter(!col("rescan"))
        .select(col(key), col("cnt"), col("sum"),
          col("mn_c").as("mn"), col("mx_c").as("mx"))
      val affected = flagged.filter(col("rescan")).select(col(key), col("cnt"), col("sum"))
      if (affected.isEmpty) ok
      else {
        val rescanned = base
          .join(broadcast(affected.select(col(key))), Seq(key), "left_semi")
          .groupBy(col(key))
          .agg(min(col(value).cast("double")).as("mn"),
            max(col(value).cast("double")).as("mx"))
        // LEFT join, same rationale as maintainMinMax: a cnt>0 key absent
        // from the base is the feed-inconsistency signal — keep it (null
        // extremes) rather than dropping it from the published view
        ok.union(affected.join(rescanned, Seq(key), "left")
          .select(col(key), col("cnt"), col("sum"), col("mn"), col("mx")))
      }
    }

  /** Streaming MIN/MAX (+SUM/COUNT) aggregate-view topology over the CDC
    * envelope, rescanning affected keys against `base` per batch. */
  def startAggViewMinMax(changes: DataFrame, viewDir: String, checkpointDir: String,
      key: String, value: String, base: SparkSession => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyViewBatchMinMax(batch.sparkSession, batch, batchId, viewDir, key, value,
          base(batch.sparkSession))
      }
      .start()

  /** The full CDC composition [[startAggViewMinMax]]'s base contract
    * assumes: ONE foreachBatch first keeps the primary table current (the
    * row applier) and then folds the SAME batch into the MIN/MAX view, so
    * an extreme-delete rescan reads exactly the post-batch primary — not a
    * stale or future state. This is the topology a deployment runs; the
    * bare [[startAggViewMinMax]] stays for callers whose base is
    * maintained elsewhere. */
  def startTableAggViewMinMax(changes: DataFrame, targetDir: String,
      viewDir: String, checkpointDir: String, opts: CdcApplier.Options,
      key: String, value: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        CdcApplier.applyBatch(s, batch, targetDir, opts)
        applyViewBatchMinMax(s, batch, batchId, viewDir, key, value,
          CdcApplier.snapshot(s, targetDir))
      }
      .start()

  /** Streaming aggregate-view topology: a change envelope stream (op,
    * before, after — the CdcApplier batch shape) maintained into a
    * persisted per-key view, checkpointed, replay-safe. */
  def startAggView(changes: DataFrame, viewDir: String, checkpointDir: String,
      key: String, value: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyViewBatch(batch.sparkSession, batch, batchId, viewDir, key, value)
      }
      .start()

  // ---- streaming forms of the JOIN / TOP-K / COUNT(DISTINCT) members.
  //      Two replay disciplines, chosen by the view's algebra:
  //       - JOIN and TOP-K maintenance write ONLY through CdcApplier
  //         targets, so exactly-once needs no extra machinery: every
  //         recomputed row of a crash-replayed micro-batch carries the
  //         replayed batch's positions, which no longer beat the stored
  //         `_graft_pos` — the applier converges the replay to a no-op
  //         (idempotence-by-position). The contract it rests on: view
  //         positions must be NON-DECREASING across micro-batches (derived
  //         below as the batch's max envelope position, so a feed with
  //         per-batch position bases — q138's b2base discipline — gets it
  //         for free).
  //       - the COUNT(DISTINCT) refcount fold is a non-idempotent DELTA
  //         (re-applying doubles the contributions), so it runs under
  //         [[applyGeneric]]'s versioned-snapshot batch-id pointer exactly
  //         like the SUM/COUNT and MIN/MAX folds.

  /** One consolidated micro-batch (op, table, next_position, before_json,
    * after_json — the q93 two-table envelope) applied to the fact + dim
    * primaries and folded into the join view, in one decision procedure.
    * Affected keys are read straight off the batch's before+after images —
    * exactly the projection a CDC batch yields. */
  def applyJoinViewBatch(spark: SparkSession, batch: DataFrame,
      factTable: String, factSchema: org.apache.spark.sql.types.StructType,
      dimTable: String, dimSchema: org.apache.spark.sql.types.StructType,
      factDir: String, dimDir: String, viewDir: String,
      factPk: Seq[String], dimPk: Seq[String],
      factKey: String, joinCol: String, dimKey: String): Unit = {
    // ONE probe job per micro-batch (optimization r15, guide §1.2/§1.5):
    // the previous isEmpty + fb.isEmpty + db.isEmpty + max-position probes
    // each launched their own Spark job over the same (small) batch —
    // pure fixed per-job cost, 4 scans of the batch where one aggregate
    // answers all four questions.
    val probe = batch.agg(
      count(when(col("table") === factTable, 1)).as("nf"),
      count(when(col("table") === dimTable, 1)).as("nd"),
      max(col("next_position")).as("mx")).collect()(0)
    val (nFact, nDim) = (probe.getLong(0), probe.getLong(1))
    // a batch of only other tables' rows changes nothing here, but its
    // positions are consumed: the watermark still advances past them
    if (nFact == 0 && nDim == 0) {
      if (!probe.isNullAt(2)) advanceJoinViewPosition(spark, viewDir, probe.getLong(2))
      return
    }
    def parse(table: String, schema: org.apache.spark.sql.types.StructType) =
      batch.filter(col("table") === table)
        .select(col("op"), col("next_position"),
          from_json(col("before_json"), schema).as("before"),
          from_json(col("after_json"), schema).as("after"))
    def keysOf(df: DataFrame, k: String): DataFrame =
      df.select(col(s"before.$k").as(k))
        .unionByName(df.select(col(s"after.$k").as(k)))
        .filter(col(k).isNotNull).distinct()
    val fb = parse(factTable, factSchema)
    val db = parse(dimTable, dimSchema)
    if (nFact > 0) CdcApplier.applyBatch(spark, fb, factDir, CdcApplier.Options(factPk))
    if (nDim > 0) CdcApplier.applyBatch(spark, db, dimDir, CdcApplier.Options(dimPk))
    // A side that has seen NO traffic yet has no store to read — treat it
    // as consistently empty (a fact-only early batch joins nothing yet;
    // the dim's first batch later brings its own changed keys, which
    // recompute the dim-hit fact keys). Checked via the filesystem, not
    // the batch: an empty batch for a BOOTSTRAPPED side must still read
    // the real store.
    val hconf = spark.sparkContext.hadoopConfiguration
    def bootstrapped(d: String) =
      CdcApplier.bucketIds(new Path(d).getFileSystem(hconf), new Path(d)).nonEmpty
    // view position: the batch's max envelope position — non-decreasing
    // across batches by the feed contract, stable across replays (already
    // computed by the fused probe above)
    val pos = probe.getLong(2)
    if (bootstrapped(factDir) && bootstrapped(dimDir))
      maintainJoinView(spark, factDir, dimDir, viewDir, pos,
        keysOf(fb, factKey), keysOf(db, dimKey), factKey, joinCol, dimKey)
    advanceJoinViewPosition(spark, viewDir, pos)
  }

  private def joinViewPositionPath(viewDir: String) = new Path(viewDir, ".graft_view_pos")

  /** The highest envelope `next_position` a join view's micro-batches
    * have been applied through ([[applyJoinViewBatch]], written after
    * each batch — also one holding only other tables' rows). None before
    * the first batch. */
  def joinViewPosition(spark: SparkSession, viewDir: String): Option[Long] =
    AtomicFile.read(spark.sparkContext.hadoopConfiguration, joinViewPositionPath(viewDir))
      .map(_.trim.toLong)

  /** Raise the join view's watermark to `pos`; a replayed older batch
    * never lowers it. */
  private def advanceJoinViewPosition(spark: SparkSession, viewDir: String, pos: Long): Unit =
    if (joinViewPosition(spark, viewDir).forall(_ < pos))
      AtomicFile.write(spark.sparkContext.hadoopConfiguration,
        joinViewPositionPath(viewDir), pos.toString)

  /** Streaming JOIN-view topology: the q174 algebra under the streaming
    * contract — one checkpointed foreachBatch keeps both primaries current
    * and maintains the materialized `fact ⋈ dim` from the same batch.
    * Per-batch cost ∝ affected keys × join (the batch's own fact keys +
    * one semi-join for dim-hit fact keys), never |view|. */
  def startJoinView(envelope: DataFrame,
      factTable: String, factSchema: org.apache.spark.sql.types.StructType,
      dimTable: String, dimSchema: org.apache.spark.sql.types.StructType,
      factDir: String, dimDir: String, viewDir: String, checkpointDir: String,
      factPk: Seq[String], dimPk: Seq[String],
      factKey: String, joinCol: String, dimKey: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    envelope.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyJoinViewBatch(batch.sparkSession, batch, factTable, factSchema,
          dimTable, dimSchema, factDir, dimDir, viewDir, factPk, dimPk,
          factKey, joinCol, dimKey)
      }
      .start()

  /** One parsed micro-batch (op, next_position, before, after) applied to
    * the primary and folded into the top-k view: affected groups are the
    * batch's before+after group values (a group-moving update touches both
    * sides; the move target needs no special casing). */
  def applyTopKViewBatch(spark: SparkSession, batch: DataFrame,
      factDir: String, viewDir: String, factOpts: CdcApplier.Options,
      grp: String, ord: String, key: String, k: Int): Unit = {
    // ONE probe job per micro-batch (optimization r15, guide §1.5): the
    // emptiness check and the max-position read share a single aggregate
    // instead of two full scans of the batch.
    val probe = batch.agg(count(lit(1)).as("n"),
      max(col("next_position")).as("mx")).collect()(0)
    if (probe.getLong(0) == 0) return
    CdcApplier.applyBatch(spark, batch, factDir, factOpts)
    val pos = probe.getLong(1)
    val groups = batch.select(col(s"before.$grp").as(grp))
      .unionByName(batch.select(col(s"after.$grp").as(grp)))
      .filter(col(grp).isNotNull).distinct()
    maintainTopKView(spark, factDir, viewDir, pos, groups, grp, ord, key, k)
  }

  /** Streaming TOP-K view topology: the q176 affected-group rescan per
    * micro-batch, exactly-once by the applier's position guard. Per-batch
    * cost ∝ touched groups × group size, never |fact|. */
  def startTopKView(changes: DataFrame, factDir: String, viewDir: String,
      checkpointDir: String, factOpts: CdcApplier.Options,
      grp: String, ord: String, key: String, k: Int)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyTopKViewBatch(batch.sparkSession, batch, factDir, viewDir,
          factOpts, grp, ord, key, k)
      }
      .start()

  /** Apply one change micro-batch to the persisted COUNT(DISTINCT)
    * refcount view, exactly once — [[applyViewBatch]]'s versioned-pointer
    * discipline over the [[deltaDistinct]] algebra (the fold is
    * non-idempotent, so the batch-id guard is load-bearing). Pairs at
    * EXACTLY ref 0 leave the stored frame; negative refs stay visible —
    * the same feed-inconsistency signal the SUM/COUNT view keeps. */
  def applyViewBatchDistinct(spark: SparkSession, batch: DataFrame, batchId: Long,
      viewDir: String, key: String, value: String): Unit =
    applyGeneric(spark, batchId, viewDir) { applied =>
      val d = deltaDistinct(batch, key, value)
      (applied match {
        case Some(v) => mergeDistinct(spark.read.parquet(s"$viewDir/v$v"), d, key, value)
        case None    => d
      }).filter(col("ref") =!= 0)
    }

  /** The COUNT(DISTINCT) view's read form: per-key ndv (live pairs) +
    * n_rows — the same final aggregation as [[maintainDistinct]], over the
    * persisted refcount frame. */
  def snapshotViewDistinct(spark: SparkSession, viewDir: String, key: String)
      : Option[DataFrame] =
    appliedBatch(spark, viewDir).map(v =>
      spark.read.parquet(s"$viewDir/v$v")
        .filter(col("ref") > 0)
        .groupBy(col(key))
        .agg(count(lit(1)).as("ndv"), sum(col("ref")).cast("long").as("n_rows")))

  /** Streaming COUNT(DISTINCT) view topology — state bounded by LIVE
    * distinct (key, value) pairs (what any exact distinct count must
    * retain); a batch's delta touches only its own pairs. */
  def startDistinctView(changes: DataFrame, viewDir: String, checkpointDir: String,
      key: String, value: String): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyViewBatchDistinct(batch.sparkSession, batch, batchId, viewDir, key, value)
      }
      .start()
}
