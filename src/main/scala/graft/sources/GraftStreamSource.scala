package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.types.StructType

import graft.cdc.CdcApplier
import graft.cdc.CdcApplier.TargetMeta

/** Stream offset = a change-feed cursor (the engine's total-order stream
  * position); serialized as the bare number in the checkpoint log. */
case class GraftOffset(pos: Long) extends Offset {
  override def json: String = pos.toString
}

/** `spark.readStream.format("graft").load(targetDir)` — a merge-on-read
  * target's change feed as a STREAMING source: the envelope
  * (op, next_position, before, after) of every change lands in micro-
  * batches, with offsets checkpointed by the engine running the query.
  * Delta Lake CDF streaming on the graft surface — and the missing half of
  * the replication topology: a graft table maintained by one pipeline can
  * now be the SOURCE of another (fan-out replicas, downstream IVM views,
  * index maintenance) with exactly-once offset tracking for free.
  *
  * Semantics and guards are [[CdcApplier.changeFeed]]'s, per micro-batch:
  *  - each batch serves exactly the envelopes in `(start, end]` by
  *    position — deterministic for a fixed range (a crash-replayed batch
  *    reconstructs the same rows), which is what checkpoint replay needs;
  *  - mor layouts only (cow rewrites superseded versions away) — refused
  *    at stream CONSTRUCTION, not first batch;
  *  - a cursor below the retained-history floor (compaction / vacuum
  *    advanced past it while the stream was down) is refused, never
  *    answered with collapsed history.
  *
  * '''Offsets from metadata, not data.''' `getOffset` (the poll Spark
  * issues every trigger) reads the `maxPos` high-water mark
  * [[CdcApplier.applyBatchMor]] persists in `.graft_meta` after each
  * batch's deltas land — one small-file read per trigger, zero data I/O,
  * regardless of table size. Pre-upgrade targets (no `maxPos`) fall back
  * to a POS-column scan once per trigger. Because `maxPos` is written
  * AFTER the deltas, a crash leaves it stale-low and the tail simply sees
  * the rows one trigger later — never skips them.
  *
  * Start cursor: `.option("changesFrom", pos)` (same option as the batch
  * envelope read, q225), else the retained-history floor. The option is
  * only the FIRST start; afterwards the checkpoint owns the cursor.
  *
  * 100 TB shape: per batch, the feed's semi-join touches only keys with
  * versions in the batch's position range, and delta files are position-
  * clustered (each holds one batch), so parquet row-group stats on
  * `_graft_pos` skip everything below the cursor.
  *
  * Reference parity: the reference's whole job is tailing a change log
  * into tables (S1); this closes the loop — graft tables are themselves
  * tailable, so pipelines compose.
  */
class GraftChangeFeedSource(
    spark: SparkSession, targetDir: String, startPos: Option[Long],
    maxPositionsPerTrigger: Option[Long] = None)
    extends Source {

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def metaNow: Option[TargetMeta] =
    TargetMeta.read(hconf, new Path(targetDir))

  // the batch changeFeed would refuse too, but a stream should fail at
  // construction, not minutes later on its first data
  {
    val m = metaNow.getOrElse(throw new IllegalStateException(
      s"no graft table state at $targetDir"))
    if (!m.storage.contains("mor"))
      throw new IllegalStateException(
        s"$targetDir is copy-on-write — superseded versions are rewritten " +
          "away; a streaming change feed needs the mor layout")
  }

  /** First-start cursor (checkpointed offsets take over afterwards):
    * everything after the retained-history floor — Long.MinValue (the
    * whole feed) on a never-compacted target. */
  private val initial: Long = startPos.getOrElse(metaNow.get.asOfFloor)

  override val schema: StructType = GraftTable.changesSchema(spark, targetDir)

  require(maxPositionsPerTrigger.forall(_ > 0),
    "maxPositionsPerTrigger must be positive")

  /** ADMISSION CONTROL (q284; Delta's `maxFilesPerTrigger` / Kafka's
    * `maxOffsetsPerTrigger`): without a cap, `getOffset` offers the FULL
    * backlog as one micro-batch — after a week of downtime on a hot table
    * that is one giant batch. With `.option("maxPositionsPerTrigger", n)`
    * each offered offset advances at most `n` POSITION UNITS past the
    * highest position already offered/consumed, so the backlog drains as
    * bounded batches (Kafka's exact semantics: the cap is offset
    * arithmetic, so sparse position ranges drain as smaller — possibly
    * empty — batches; each range is still served exactly once).
    *
    * `cursor` tracks the highest position this source has offered or
    * served. It re-anchors from every `getBatch` — Spark calls getBatch
    * with the CHECKPOINTED range on restart before polling for new data,
    * so after a restart the cap resumes from the committed cursor, never
    * below it (offering below the checkpoint would replay served
    * positions: the exactly-once hazard). A capped stream whose start
    * floor is the unbounded `Long.MinValue` first anchors at one position
    * below the table's minimum (one bounded POS-column pass, once per
    * stream construction — row-group stats prune it; uncapped streams
    * never pay it): capping arithmetic needs a finite base. */
  @volatile private var cursor: Long = initial

  override def getOffset: Option[Offset] = {
    val hi = metaNow.flatMap(_.maxPos).getOrElse(scanMaxPos)
    val capped = maxPositionsPerTrigger match {
      case Some(n) =>
        if (cursor == Long.MinValue) cursor = scanMinPosAnchor
        // saturating add: a cursor near the domain edge must not wrap
        val lifted =
          if (cursor > Long.MaxValue - n) Long.MaxValue else cursor + n
        math.min(hi, lifted)
      case None => hi
    }
    if (capped > initial && capped > cursor) {
      cursor = capped
      Some(GraftOffset(capped))
    } else None
  }

  /** One position below the table's minimum — the finite anchor a capped
    * stream needs when its start floor is `Long.MinValue`. */
  private def scanMinPosAnchor: Long = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    if (CdcApplier.bucketIds(fs, target).isEmpty) Long.MinValue
    else {
      val r = CdcApplier.readStored(spark,
          CdcApplier.TargetMeta.read(hconf, target), Seq(targetDir))
        .agg(org.apache.spark.sql.functions.min(col(CdcApplier.POS))).first()
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0) - 1
    }
  }

  /** Fallback for targets written before `maxPos` existed. */
  private def scanMaxPos: Long = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(hconf)
    if (CdcApplier.bucketIds(fs, target).isEmpty) Long.MinValue
    else {
      val r = CdcApplier.readStored(spark,
          CdcApplier.TargetMeta.read(hconf, target), Seq(targetDir))
        .agg(max(col(CdcApplier.POS))).first()
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(_.json.toLong).getOrElse(initial)
    val to = end.json.toLong
    // re-anchor the admission cursor at the engine's (checkpointed) range:
    // on restart this runs before any new-data poll, so a capped stream
    // resumes from the committed position, never offers below it
    cursor = math.max(cursor, to)
    val feed = CdcApplier.changeFeed(spark, targetDir, from)
      .filter(col("next_position") <= to)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    org.apache.spark.sql.graft.StreamShim.asStreaming(feed)
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftChangeFeedSource($targetDir, from=$initial)"
}
