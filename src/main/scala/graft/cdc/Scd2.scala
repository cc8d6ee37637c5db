package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type 2 history from the CDC envelope — the
  * capability the latest-state applier ([[CdcApplier]]) deliberately lacks:
  * instead of keeping only each key's current row, keep EVERY version with
  * its validity interval `[valid_from, valid_to)` in replication-position
  * time (Kimball's SCD2, the standard warehouse history table).
  *
  * Semantics: every insert/update image opens a version at its position; a
  * version closes at the key's NEXT event of ANY kind — a newer version or
  * a delete (so a delete closes the last interval without emitting a row,
  * and a later re-insert of the same key opens a fresh interval — the
  * delete/re-insert gap is representable, which a naive
  * `lead over versions-only` would silently bridge). The open version
  * (`valid_to IS NULL`) is the current row; keys currently deleted have no
  * open version.
  *
  * Scale shape: one union of narrow projections over the change feed and
  * ONE shuffle — the per-key window for `lead(valid_from)`. No join, no
  * state: history derives purely from the ordered feed, so backfilling
  * 100 TB of binlog is a single window pass. The reference keeps only
  * latest-state tables (HbaseApplier semantics); this is the history-table
  * extension a warehouse consumer builds beside it.
  */
object Scd2 {

  /** The envelope projected to interval events: (key, attrs, valid_from,
    * kind) where kind 'v' opens a version and 'd' only closes one. */
  private def events(changes: DataFrame, keyCol: String,
      attrCols: Seq[String]): DataFrame = {
    def proj(side: String, kind: String)(df: DataFrame): DataFrame =
      df.select(col(s"$side.$keyCol").as(keyCol) +:
        attrCols.map(a => col(s"$side.$a").as(a)) :+
        col("next_position").cast("long").as("valid_from"): _*)
        .withColumn("kind", lit(kind))
    proj("after", "v")(changes.filter(col("op").isin("insert", "update")))
      .unionByName(proj("before", "d")(changes.filter(col("op") === "delete")))
  }

  /** Per-key interval chaining: each version closes at the key's next
    * event of ANY kind; only versions emit rows. */
  private def chain(ev: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("valid_from"))
    ev.withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .filter(col("kind") === "v")
      .withColumn("is_current", col("valid_to").isNull)
      .drop("kind")
  }

  /** Version history for `keyCol` with the attribute columns `attrCols`
    * carried per version. `changes` is the [[CdcApplier]] envelope
    * (op, next_position, before, after) with positions unique per key. */
  def history(changes: DataFrame, keyCol: String, attrCols: Seq[String]): DataFrame =
    chain(events(changes, keyCol, attrCols), keyCol)

  /** One micro-batch folded into an existing history — the incremental
    * form of [[history]]. CLOSED rows are immutable and pass through
    * untouched; open rows of keys the batch never mentions pass through;
    * only the touched keys' OPEN rows re-enter the per-key window
    * together with the batch's events (the open row closes at its key's
    * first new event, the batch's versions chain normally — including a
    * delete/re-insert inside one batch). Deltas therefore touch batch
    * keys only, which is what makes the fold bucket-local at scale (see
    * [[applyHistoryBatch]]). */
  def applyBatch(oldHist: DataFrame, changes: DataFrame, keyCol: String,
      attrCols: Seq[String]): DataFrame = {
    val keys = changes.select(
      coalesce(col(s"after.$keyCol"), col(s"before.$keyCol")).as(keyCol)).distinct()
    val closed = oldHist.filter(col("valid_to").isNotNull)
    val open = oldHist.filter(col("valid_to").isNull)
    val openUntouched = open.join(keys, Seq(keyCol), "left_anti")
    val openTouched = open.join(keys, Seq(keyCol), "left_semi")
      .drop("valid_to", "is_current").withColumn("kind", lit("v"))
    closed.unionByName(openUntouched)
      .unionByName(chain(
        openTouched.unionByName(events(changes, keyCol, attrCols)), keyCol))
  }

  /** Exactly-once persisted history: [[applyBatch]] under the shared
    * versioned-publish + batch-id replay-guard discipline (a re-delivered
    * micro-batch is an exact no-op; an id below the pointer fails loudly).
    *
    * Scale note: unlike the aggregate views, history is ROW-sized, so the
    * full-snapshot rewrite this discipline performs is the right trade
    * only up to medium tables; [[applyHistoryBatchBucketed]] is the 100 TB
    * form that rewrites only touched buckets. */
  def applyHistoryBatch(spark: org.apache.spark.sql.SparkSession,
      changes: DataFrame, batchId: Long, viewDir: String, keyCol: String,
      attrCols: Seq[String]): Unit =
    IncrementalView.applyGeneric(spark, batchId, viewDir) {
      case Some(v) =>
        applyBatch(spark.read.parquet(s"$viewDir/v$v"), changes, keyCol, attrCols)
      case None => history(changes, keyCol, attrCols)
    }

  // ---------------------------------------------------------------------
  // Bucketed history: CdcApplier's hash-bucket layout + crash-safe swap
  // applied to the SCD2 fold, so a micro-batch rewrites ONLY the buckets
  // whose keys it touches. The algebra is already bucket-local (closed
  // rows never change; only touched keys' open rows re-chain), so at
  // 100 TB the per-batch IO is proportional to the touched buckets, not
  // the accumulated history.
  // ---------------------------------------------------------------------

  private val BUCKET = CdcApplier.BUCKET
  // Underscore-prefixed => invisible to parquet partition discovery, so the
  // marker can live INSIDE its bucket dir and ride the atomic dir swap.
  private val APPLIED = "_graft_applied"

  private def appliedMarker(
      hconf: org.apache.hadoop.conf.Configuration, bucketDir: Path): Option[Long] =
    graft.util.AtomicFile.read(hconf, new Path(bucketDir, APPLIED)).map(_.trim.toLong)

  /** Highest batch id any bucket has applied — the bucketed layout's analog
    * of [[IncrementalView.lastApplied]] (buckets untouched by recent batches
    * legitimately carry older markers). */
  def lastAppliedBucketed(spark: SparkSession, viewDir: String): Option[Long] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(viewDir)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return None
    CdcApplier.bucketIds(fs, root)
      .flatMap(b => appliedMarker(hconf, new Path(root, s"$BUCKET=$b")))
      .maxOption
  }

  /** The bucketed history's current contents (layout column dropped). */
  def snapshotBucketed(spark: SparkSession, viewDir: String): DataFrame =
    spark.read.parquet(viewDir).drop(BUCKET)

  /** One micro-batch folded into the BUCKETED persisted history; returns
    * the bucket ids rewritten. Exactly-once is per-bucket: each bucket dir
    * carries an `_graft_applied` marker that swaps atomically WITH the
    * bucket, so a crash mid-publish re-delivers the batch (the streaming
    * contract) and the fold re-runs only on the buckets whose marker still
    * lags — already-swapped buckets are exact no-ops, double-folds are
    * impossible. A marker ABOVE the delivered id means a fresh checkpoint
    * was pointed at an existing history: fail loudly (the same divergence
    * contract as [[IncrementalView.applyGeneric]]). */
  def applyHistoryBatchBucketed(spark: SparkSession, changes: DataFrame,
      batchId: Long, viewDir: String, keyCol: String, attrCols: Seq[String],
      numBuckets: Int = 16): Seq[Int] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(viewDir)
    val fs = root.getFileSystem(hconf)
    val meta = CdcApplier.TargetMeta.read(hconf, root)
    // The on-disk modulus is the layout's truth, as in CdcApplier.applyBatch.
    val buckets = meta.map(_.numBuckets).getOrElse(numBuckets)
    val keyed = changes.withColumn(BUCKET,
      pmod(hash(coalesce(col(s"after.$keyCol"), col(s"before.$keyCol"))), lit(buckets)))
    // Driver-side action bounded by the modulus, like applyBatch's `touched`.
    val touched = keyed.select(BUCKET).distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return Seq.empty

    val existing = if (fs.exists(root)) {
      CdcApplier.recoverBuckets(fs, root)
      CdcApplier.bucketIds(fs, root).toSet
    } else Set.empty[Int]

    // Per-bucket replay guard: fold only the buckets whose marker lags.
    val lagging = touched.filter { b =>
      val m = if (existing(b)) appliedMarker(hconf, new Path(root, s"$BUCKET=$b")) else None
      m match {
        case Some(v) if v == batchId => false // crash replay: already swapped
        case Some(v) if v > batchId =>
          throw new IllegalStateException(
            s"bucket $BUCKET=$b at $viewDir has applied batch $v but the " +
              s"stream delivered batch $batchId - checkpoint/view mismatch; " +
              "refusing to silently drop batches")
        case _ => true
      }
    }.toIndexedSeq
    if (lagging.isEmpty) return Seq.empty

    val laggingChanges = keyed.filter(col(BUCKET).isin(lagging.map(Int.box): _*)).drop(BUCKET)
    val laggingWithState = lagging.filter(existing)
    val folded =
      if (laggingWithState.isEmpty) history(laggingChanges, keyCol, attrCols)
      else {
        // Partition-pruned read: only the lagging buckets' dirs are scanned.
        val old = spark.read.parquet(viewDir)
          .filter(col(BUCKET).isin(laggingWithState.map(Int.box): _*))
          .drop(BUCKET)
        applyBatch(old, laggingChanges, keyCol, attrCols)
      }

    if (meta.isEmpty)
      CdcApplier.TargetMeta.write(hconf, root,
        CdcApplier.TargetMeta(buckets, Long.MinValue, None, Some(Seq(keyCol))))
    val tmp = CdcApplier.stage(folded.withColumn(BUCKET, pmod(hash(col(keyCol)), lit(buckets))),
      CdcApplier.stagingDir(root, CdcApplier.Staging.Apply))
    // Stamp each fresh bucket dir BEFORE the swap: marker and data publish
    // as one atomic rename. (A lagging bucket always re-emerges from the
    // fold — closed rows are never dropped — but stamp only what exists.)
    lagging.foreach { b =>
      val dir = new Path(tmp, s"$BUCKET=$b")
      if (fs.exists(dir))
        graft.util.AtomicFile.write(hconf, new Path(dir, APPLIED), batchId.toString)
    }
    CdcApplier.publishBuckets(fs, root, tmp, lagging)
    spark.catalog.refreshByPath(viewDir)
    lagging
  }

  /** [[startHistory]] on the bucketed layout — the 100 TB topology. */
  def startHistoryBucketed(changes: DataFrame, viewDir: String,
      checkpointDir: String, keyCol: String, attrCols: Seq[String],
      numBuckets: Int = 16): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyHistoryBatchBucketed(batch.sparkSession, batch, batchId, viewDir,
          keyCol, attrCols, numBuckets)
        ()
      }
      .start()

  /** Streaming SCD2 topology: the change envelope stream maintained into
    * a persisted, checkpointed, replay-safe history table. */
  def startHistory(changes: DataFrame, viewDir: String, checkpointDir: String,
      keyCol: String, attrCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyHistoryBatch(batch.sparkSession, batch, batchId, viewDir,
          keyCol, attrCols)
      }
      .start()

  /** Time-travel read: the table AS OF replication position `pos` — each
    * key's version whose interval contains `pos` (`valid_from <= pos <
    * valid_to`); keys deleted at or before `pos`, or not yet inserted,
    * are absent. A pure filter over the history — on a history table
    * partitioned/sorted by key this prunes to one interval probe per key,
    * and ANY past state of a 100 TB table is a scan away with zero extra
    * storage beyond the versions themselves. */
  def asOf(history: DataFrame, pos: Long): DataFrame =
    history.filter(col("valid_from") <= pos &&
      (col("valid_to").isNull || col("valid_to") > pos))
}
